"""Flagship feature pipeline: pages → features (FIXTURES.md F2 shape).

This is the Spark restatement of the reference's per-record
extract-and-classify loop (reference ``src/engine.py:91-168``): one
declarative DataFrame expression DAG — scan → vectorized text
extraction → JVM-side regex feature maps → one entity window for
lag/ffill/session features → optional point-in-time dimension join →
lineage stamp. Catalyst owns the physical plan; the only Python is the
single Arrow-batched HTML kernel.

Column-pruning discipline: ``html`` is projected away immediately
after the kernel so parquet scans of downstream stages never carry
multi-MB blobs (SURVEY.md §4.2/§7.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from med_doi_feature_extraction_spark.kernels import features as feat
from med_doi_feature_extraction_spark.kernels.html_text import (
    KERNEL_VERSION,
    extract_text_series,
)
from med_doi_feature_extraction_spark.operators.asof import asof_join_window
from med_doi_feature_extraction_spark.operators.windows import (
    forward_fill,
    sessionize,
    with_lag_lead,
)
from med_doi_feature_extraction_spark.session import sql_sizing

PIPELINE_VERSION = f"page_features/{KERNEL_VERSION}"


@dataclass(frozen=True)
class FeatureConfig:
    """The declarative "query" — successor of the reference's YAML
    pipeline config (``ConfigSchema``, reference ``src/config/
    schema.py:93-110``): a frozen spec that compiles to a DataFrame
    expression tree."""

    session_gap_seconds: int = 3600
    lag_k: int = 1
    rolling_rows: int = 0  # 0 = disabled
    include_labels: bool = False  # lead() training labels
    dim_value_cols: tuple[str, ...] = ("rank_score", "category")
    dim_tiebreak: tuple[str, ...] = ("rank_score", "category")
    run_id: str = "adhoc"
    #: window features on SLIM rows + shuffled-hash rejoin of the
    #: text payload — skips sorting the wide rows (see page_features)
    slim_window: bool = False
    extra: dict = field(default_factory=dict, compare=False)


_text_udf = F.pandas_udf(extract_text_series, T.StringType())


def extract_stage(pages: DataFrame, bucket: str | None = None) -> DataFrame:
    """Scan-side stage: decode html → canonical text, regex feature
    maps, then PRUNE the blob column.

    Runs in the SCAN stage on purpose — html blobs never cross a
    shuffle (at 100 TB, shuffling the raw payload is the dominant
    cost; `spark.sql.files.maxPartitionBytes` is sized down in
    session.py so blob scans still fan out across all cores)."""
    return (
        pages.withColumn("text_extracted", _text_udf("html"))
        .drop("html")
        .withColumns(
            {
                "text_len": F.length("text_extracted").cast("int"),
                "doi_count": feat.doi_count(F.col("text_extracted")),
                "doi_first": feat.doi_first(F.col("text_extracted")),
                "domain": F.parse_url("url", F.lit("HOST")),
            }
        )
    )


def window_stage(
    df: DataFrame, cfg: FeatureConfig, bucket: str | None = None
) -> DataFrame:
    """All per-url temporal features over ONE shuffle — of the SLIM
    post-extract columns (html already pruned).

    With ``bucket`` set the window entity is (bucket, url) —
    semantically identical to url (url determines bucket) — for
    callers that pre-partitioned on the bucket."""
    entity = [bucket, "url"] if bucket else "url"
    df = with_lag_lead(
        df, entity, "warc_ts", {"text_len": "text_len"},
        k=cfg.lag_k, include_lead=cfg.include_labels,
    )
    df = forward_fill(df, entity, "warc_ts", ["lang"])
    df = sessionize(df, entity, "warc_ts", cfg.session_gap_seconds)
    if cfg.rolling_rows:
        from med_doi_feature_extraction_spark.operators.windows import rolling

        df = rolling(df, entity, "warc_ts", "text_len", n_rows=cfg.rolling_rows)
    return df


def semantic_config_json(cfg: FeatureConfig) -> str:
    """Canonical JSON of the SEMANTIC config only: physical-plan knobs
    (slim_window) and free-form extras don't change the produced
    values, and two value-identical runs must share a config_hash
    (pinned by the slim-window parity test). Single source of truth
    for the transparency hash — the DuckDB oracle derives its expected
    literal from this same function."""
    import dataclasses
    import json

    cfg_dict = dataclasses.asdict(cfg)
    cfg_dict.pop("slim_window", None)
    cfg_dict.pop("extra", None)
    return json.dumps(cfg_dict, sort_keys=True, default=str)


def transparency_struct(
    cfg: FeatureConfig,
    tier,
    est_cost,
    template: str = "",
):
    """Per-row transparency struct mirroring the reference's
    ``ExtractionResult.transparency`` (reference ``src/models.py:
    34-42``: provider/model, token counts, cost, prompt hash): which
    kernel + config + template produced this row, the routed tier and
    its estimated cost. Pure Column algebra composed from existing
    pieces — P3 sha2, M2 routing, P14 cost model (pass
    ``audit.record_cost(...)`` or a pre-resolved chain as
    ``est_cost``). The sha2 calls constant-fold to literals."""
    cfg_json = semantic_config_json(cfg)
    return F.struct(
        F.lit(PIPELINE_VERSION).alias("kernel_version"),
        F.sha2(F.lit(cfg_json), 256).alias("config_hash"),
        F.sha2(F.lit(template), 256).alias("template_hash"),
        tier.alias("tier_used"),
        F.round(est_cost, 8).alias("est_cost"),
    )


_TIER_THRESHOLDS = (0.5, 0.8)
_TIER_NAMES = ("nano", "mini", "full")


def transparency_stage(
    df: DataFrame, cfg: FeatureConfig, text_len_col: str = "text_len"
) -> DataFrame:
    """Flagship wiring of ``transparency_struct``: tier routed from the
    length-bucket complexity of the extracted text, input tokens
    estimated at text_len/4 chars-per-token, output tokens 0 (feature
    extraction is input-dominated).

    The tier→price resolution happens at PLAN TIME (the routing table
    and the price table are both Python constants here, validated
    against each other below — unknown-tier fails at plan
    construction, before any job). Substituting the generic
    ``record_cost`` when-chain — with its per-branch copies of the
    complexity chain and runtime raise_error guard — into this hot
    projection measurably bloated the codegen'd join+project stage
    (~0.5 s / 10% of flagship wall at sf0.1); the flat three-branch
    chain below produces identical values."""
    from med_doi_feature_extraction_spark.audit import MODEL_PRICES
    from med_doi_feature_extraction_spark.operators.cascade import (
        route_by_complexity,
    )
    from med_doi_feature_extraction_spark.operators.quality import (
        complexity_from_len,
    )

    missing = set(_TIER_NAMES) - set(MODEL_PRICES)
    if missing:
        raise ValueError(
            f"transparency_stage: routed tiers missing from price table: {missing}"
        )
    n = F.coalesce(F.col(text_len_col), F.lit(0))
    cx = complexity_from_len(n)
    tier = route_by_complexity(cx, _TIER_THRESHOLDS, _TIER_NAMES)
    # same branch structure as route_by_complexity, resolved to the
    # tier's input price (tokens_out = 0: no output-price term)
    in_price = F.when(cx < _TIER_THRESHOLDS[0], F.lit(MODEL_PRICES["nano"][0])).when(
        cx < _TIER_THRESHOLDS[1], F.lit(MODEL_PRICES["mini"][0])
    ).otherwise(F.lit(MODEL_PRICES["full"][0]))
    est_cost = ((n / F.lit(4.0)) / F.lit(1e6)) * in_price + (
        F.lit(0.0) / F.lit(1e6)
    ) * F.lit(0.0)
    return df.withColumn(
        "transparency", transparency_struct(cfg, tier, est_cost)
    )


def lineage_stage(df: DataFrame, cfg: FeatureConfig) -> DataFrame:
    return df.withColumn(
        "lineage",
        F.struct(
            F.spark_partition_id().alias("partition_id"),
            F.lit(PIPELINE_VERSION).alias("kernel_version"),
            F.lit(cfg.run_id).alias("run_id"),
        ),
    )


def features_from_extracted(
    df: DataFrame,
    dim: DataFrame | None = None,
    cfg: FeatureConfig = FeatureConfig(),
    pre_partitioned: bool = False,
) -> DataFrame:
    """Window + point-in-time + transparency + lineage over an
    ALREADY-extracted (html-free) pages table — the downstream half of
    ``page_features`` for pipelines that materialize the extract stage
    (the production shape at 10^12 docs: extract once, write bucketed
    by url, run feature passes off the bucketed table).

    With ``pre_partitioned=True`` on a url-bucketed table the whole
    window stack runs with ZERO exchanges (asserted in
    tests/test_catalog.py): bucketing pays off only at a MATERIALIZED
    boundary because the pandas-UDF extract node cannot propagate
    partitioning — running the UDF in-plan over a bucketed scan still
    costs the window exchange (measured: the in-plan bucketed variant
    is no faster than the default plan)."""
    n = sql_sizing(df.sparkSession)[0]
    base = df if pre_partitioned else df.repartition(n, "url")
    feats = window_stage(base, cfg)
    if dim is not None:
        slim = df.select("url", "warc_ts", "domain")
        res = asof_join_window(
            slim, dim, "domain", "warc_ts", "obs_ts",
            list(cfg.dim_value_cols), right_tiebreak=list(cfg.dim_tiebreak),
        ).drop("domain")
        if not pre_partitioned:
            res = res.repartition(n, "url")
        feats = feats.join(res, ["url", "warc_ts"], "left")
    return lineage_stage(transparency_stage(feats, cfg), cfg)


def page_features(
    pages: DataFrame,
    dim: DataFrame | None = None,
    cfg: FeatureConfig = FeatureConfig(),
    pre_partitioned: bool = False,
) -> DataFrame:
    """Full flagship pipeline. ``dim`` (FIXTURES.md F3) is optional;
    when present, point-in-time join on (domain, obs_ts <= warc_ts).

    ``pre_partitioned=True``: the input is a url-bucketed table
    (Catalog.save_bucketed / Iceberg bucket transform) whose scan
    already exposes HashPartitioning(url) — skip the repartition and
    the whole window stack runs with ZERO exchanges (the production
    layout at 10^12 docs; proven in tests/test_catalog.py).

    Shuffle budget (the 100 TB concern — measured, see BASELINE.md):
    1. html is decoded IN the scan stage and pruned — raw payload
       never crosses a shuffle;
    2. ONE full-width (post-extract) hash exchange on url feeds every
       window feature (their clustering requirement is satisfied, so
       Catalyst adds no further exchange);
    3. the as-of join runs on a 3-column projection taken from the RAW
       source (url, warc_ts, parse_url(url)) — column pruning keeps
       that scan narrow, no UDF, and crucially it is NOT a second
       evaluation of the extract+window subtree (deriving it from the
       window output made Spark recompute the whole expensive DAG
       twice — measured via event logs); its union-window exchange
       moves ~1% of the bytes, then it rejoins co-partitioned on url
       (both sides HashPartitioning(url, n) ⇒ sort-merge join without
       exchanging the wide side).
    """
    if cfg.slim_window and pre_partitioned:
        # the slim plan exists to avoid a sort the bucketed layout
        # already avoids — silently ignoring the flag would hide a
        # misconfiguration, so refuse loudly
        raise ValueError(
            "slim_window has no effect on a pre-partitioned (bucketed) "
            "input — its window stack already runs without an exchange; "
            "unset one of the two"
        )
    n = sql_sizing(pages.sparkSession)[0]
    # drop the stored ground-truth text BEFORE the exchange — it
    # duplicates text_extracted byte-for-byte and would double the
    # wide shuffle's payload
    df = extract_stage(pages).drop("text")
    if cfg.slim_window and not pre_partitioned:
        # Alternative plan shape for bandwidth-bound clusters: the
        # window sort only needs the slim feature columns, but the
        # default plan sorts the FULL rows (text payload included) —
        # at ~2.5 KB/row that sort is the stage that degrades first
        # when memory bandwidth, not CPU, is the binding resource.
        # Here the windows run over slim rows (~100 B/row sort) and
        # the text payload is re-attached by a SHUFFLED-HASH join on
        # (url, warc_ts): the wide side still crosses its one
        # exchange (unavoidable — output must co-locate) but is never
        # sorted. Trade-off: the slim side is hash-built per
        # partition (rows_per_partition × ~100 B memory), so size
        # shuffle_partitions accordingly; with SMJ fallback the plan
        # degenerates to two wide sorts — keep the hint.
        #
        # MEASURED (7.7M rows, 8 pinned cores, tmpfs shuffle): this
        # variant ran 562 s vs 397-416 s for the default — the extra
        # slim exchange + 7.7M hash probes cost MORE than the wide
        # sort saves on that box. Kept opt-in (value-parity pinned in
        # tests) for clusters where the bandwidth:CPU ratio differs;
        # the default plan stays the sorted one.
        #
        # PRECONDITION: (url, warc_ts) uniquely identifies a page row
        # (the crawl-snapshot grain — guaranteed by the generator and
        # by any dedup'd crawl table). The inner rejoin below would
        # multiply duplicate keys; the default plan would not.
        slim = window_stage(
            df.drop("text_extracted").repartition(n, "url"), cfg
        )
        wide = df.select("url", "warc_ts", "text_extracted").repartition(
            n, "url"
        )
        # hint on the SLIM side: the hinted relation becomes the hash
        # BUILD side — the wide text rows must stream, never build
        df = wide.join(slim.hint("shuffle_hash"), ["url", "warc_ts"])
    else:
        if not pre_partitioned:
            df = df.repartition(n, "url")
        df = window_stage(df, cfg)
    if dim is not None:
        slim = pages.select(
            "url", "warc_ts", F.parse_url("url", F.lit("HOST")).alias("domain")
        )
        res = asof_join_window(
            slim, dim, "domain", "warc_ts", "obs_ts",
            list(cfg.dim_value_cols), right_tiebreak=list(cfg.dim_tiebreak),
        ).drop("domain")
        if not pre_partitioned:
            res = res.repartition(n, "url")
        df = df.join(res, ["url", "warc_ts"], "left")
    return lineage_stage(transparency_stage(df.drop("text"), cfg), cfg)
