"""``pages_resumable``: the flagship resumable run that ``python -m
med_doi_feature_extraction_spark pages`` delegates to.

One pass is ``manifest.run_partitioned`` over a seeded subset of a
``sources.pages.write_pages_parquet`` table of ~20 KB pages
(``page_scale=8``, the generator's Common-Crawl-sized setting) and its
dim, into a fresh parquet sink and JSONL checkpoint manifest: 16 url
buckets, 8 per chunk, so two checkpoints a pass. Each chunk is a few
Spark jobs whose cost hardly depends on its rows, so two larger chunks
leave more of the pass to the per-row work than the function's default
of four (the CLI's own default is 64 buckets in a single chunk).

The layer probes of the pages path live here too: scan, the html→text
kernel, the bucketed extract ingest and the ``features_from_extracted``
pass over it, the window and as-of operators on their own materialized
input, plan construction and the AQE-final plan metrics, and the
manifest's sink and commit calls.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from perfbench import engine

N_URLS = {"full": 200, "tiny": 20}
PAGE_SCALE = 8
#: The generator takes about 45 ms a page at this size, so a table per
#: seed would take much of a run. Pages come from one base table,
#: generated once per checkout; each seed keeps a seeded subset of its
#: urls (a url keeps all its snapshots).
BASE_URLS = 300
N_BUCKETS = 16
BUCKETS_PER_CHUNK = 8
#: Tiny passes before timing. A pass is a dozen short jobs whose
#: driver-side cost falls over the first few passes as the JIT warms.
WARMUP_PASSES = 3
BUCKETED_TABLE = "perfbench_extract"


def _base(data_root: Path) -> Path:
    from med_doi_feature_extraction_spark.sources.pages import write_pages_parquet

    base = data_root / f"pages-base-{BASE_URLS}x{PAGE_SCALE}"
    if not (base / "_done").exists():
        shutil.rmtree(base, ignore_errors=True)
        write_pages_parquet(str(base), n_urls=BASE_URLS, seed=0, page_scale=PAGE_SCALE)
        (base / "_done").touch()
    return base


def make_inputs(data: Path, seed: int, scale: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    base = _base(data.parent)
    base_s = time.perf_counter() - t0
    table = pq.read_table(base / "pages.parquet")
    urls = np.unique(table.column("url").to_numpy(zero_copy_only=False))
    keep = np.random.default_rng(seed).choice(urls, N_URLS[scale], replace=False)
    pages = str(data / "pages.parquet")
    dim = str(data / "dim_snapshots.parquet")
    # the generator's row-group size, so a scan splits the same way
    pq.write_table(table.filter(pc.is_in(table.column("url"), pa.array(keep))), pages,
                   row_group_size=2000)
    shutil.copyfile(base / "dim_snapshots.parquet", dim)
    return {
        "pages": pages,
        "dim": dim,
        "rows": pq.ParquetFile(pages).metadata.num_rows,
        "bytes": Path(pages).stat().st_size + Path(dim).stat().st_size,
        "base_gen_s": base_s,
    }


def _cfg():
    from med_doi_feature_extraction_spark.pipeline import FeatureConfig

    return FeatureConfig(run_id="perfbench")


def _frames(spark, inp: dict):
    return spark.read.parquet(inp["pages"]), spark.read.parquet(inp["dim"])


def run_pass(
    spark, inp: dict, out: Path, fail_after_chunks: int | None = None, resume: bool = False
) -> dict:
    """One resumable run into ``out``, emptied first unless resuming."""
    from med_doi_feature_extraction_spark.manifest import run_partitioned

    if not resume:
        shutil.rmtree(out, ignore_errors=True)
    pages, dim = _frames(spark, inp)
    t0 = time.time()
    records = run_partitioned(
        spark, pages, str(out / "features"), str(out / "manifest"),
        dim=dim, cfg=_cfg(), n_buckets=N_BUCKETS,
        buckets_per_chunk=BUCKETS_PER_CHUNK, fail_after_chunks=fail_after_chunks,
    )
    t1 = time.time()
    ends = sorted({r.t_end for r in records})
    commits = [b - a for a, b in zip([t0] + ends[:-1], ends)]
    return {
        "wall_s": t1 - t0,
        "commit_intervals": commits,
        "out_bytes": sum(r.bytes_out for r in records),
        "rows_out": sum(r.rows_out for r in records),
    }


# ------------------------------------------------------------- checks

_OUT_COLS = (
    "url, warc_ts, lang, domain, CAST(text_len AS BIGINT) AS text_len, "
    "CAST(doi_count AS BIGINT) AS doi_count, doi_first, "
    "CAST(text_len_lag1 AS BIGINT) AS text_len_lag1, "
    "round(text_len_delta1, 6) AS text_len_delta1, lang_ffill, "
    "CAST(gap_seconds AS BIGINT) AS gap_seconds, "
    "CAST(snap_rank AS BIGINT) AS snap_rank, "
    "CAST(session_id AS BIGINT) AS session_id, "
    "CAST(session_seq AS BIGINT) AS session_seq, "
    "round(rank_score, 6) AS rank_score, category"
)


def _hash(con, sql: str) -> tuple[str, int]:
    from tools.check_contract import frame_hash

    res = con.execute(sql)
    return frame_hash([d[0] for d in res.description], res.fetchall())


def _out_view(con, name: str, out: Path) -> None:
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
        f"'{out / 'features'}/**/*.parquet', hive_partitioning = true)"
    )


def checks(spark, inp: dict, last: dict, out: Path, work: Path) -> list[tuple[str, bool, str]]:
    import duckdb

    con = duckdb.connect()
    try:
        return oracle_checks(con, inp, out) + [resume_check(spark, con, inp, out, work)]
    finally:
        con.close()


def oracle_checks(con, inp: dict, out: Path) -> list[tuple[str, bool, str]]:
    """Checks of one written output against references computed
    outside Spark (DuckDB and the generator's own text)."""
    import __spark_entry__ as entrymod
    from med_doi_feature_extraction_spark.kernels.html_text import KERNEL_VERSION

    _out_view(con, "out_f", out)
    con.execute(f"CREATE OR REPLACE VIEW in_pages AS SELECT * FROM read_parquet('{inp['pages']}')")
    checks = []
    n_out = con.execute("SELECT count(*) FROM out_f").fetchone()[0]
    checks.append(("pages.rows", n_out == inp["rows"], f"{n_out}/{inp['rows']}"))
    bad = con.execute(
        "SELECT count(*) FROM in_pages p LEFT JOIN out_f o USING (url, warc_ts) "
        "WHERE p.text IS NOT NULL AND o.text_extracted IS DISTINCT FROM p.text"
    ).fetchone()[0]
    checks.append(("pages.text_extracted", bad == 0, f"{bad} mismatched rows"))

    base = f"/tmp/spark_graft_flagship_{KERNEL_VERSION.replace('/', '_')}"
    sql = entrymod.oracle_sql()["pages_flagship_post"]
    sql = sql.replace(f"read_parquet('{base}/extract.parquet/*.parquet')", "out_f")
    sql = sql.replace(f"read_parquet('{base}/dim.parquet/*.parquet')", f"read_parquet('{inp['dim']}')")
    want = _hash(con, sql)
    got = _hash(con, f"SELECT {_OUT_COLS} FROM out_f")
    checks.append(("pages.windows_asof_oracle", want == got, f"{got} vs {want}"))
    return checks


def resume_check(spark, con, inp: dict, clean: Path, work: Path) -> tuple[str, bool, str]:
    """A run killed after its first chunk and then resumed must equal a
    clean run (lineage.partition_id aside, which names a task)."""
    from med_doi_feature_extraction_spark.manifest import InjectedFailure

    out = work / "out" / "resume"
    try:
        run_pass(spark, inp, out, fail_after_chunks=1)
        return ("pages.kill_resume", False, "injected failure did not fire")
    except InjectedFailure:
        pass
    run_pass(spark, inp, out, resume=True)
    cols = (
        f"{_OUT_COLS}, text_extracted, url_bucket, to_json(transparency) AS tr, "
        "lineage.kernel_version AS lv, lineage.run_id AS lr"
    )
    _out_view(con, "out_clean", clean)
    _out_view(con, "out_resumed", out)
    a = _hash(con, f"SELECT {cols} FROM out_clean")
    b = _hash(con, f"SELECT {cols} FROM out_resumed")
    shutil.rmtree(out, ignore_errors=True)
    return ("pages.kill_resume", a == b, f"{b} vs {a}")


# -------------------------------------------------------- layer probes


def traced_pass(spark, tracer, inp: dict, out: Path) -> dict:
    """One run with the manifest's sink, commit and plan-build calls
    wrapped in spans from outside."""
    from pyspark.sql.readwriter import DataFrameWriter

    from med_doi_feature_extraction_spark import fsutil, manifest

    with tracer.wrapped(manifest, "page_features", "pipeline.page_features"), \
            tracer.wrapped(DataFrameWriter, "parquet", "manifest.sink"), \
            tracer.wrapped(fsutil, "parquet_rows_and_bytes", "manifest.commit.footers"), \
            tracer.wrapped(manifest.CheckpointManifest, "append", "manifest.commit.append"), \
            tracer.wrapped(manifest.CheckpointManifest, "done_buckets", "manifest.done_buckets"):
        with tracer.span("pages_resumable.pass"):
            return run_pass(spark, inp, out)


def layer_probes(spark, tracer, inp: dict, work: Path, m: dict) -> list:
    """Measure the pages-path layers into ``m``."""
    import pandas as pd
    import pyarrow.parquet as pq

    from med_doi_feature_extraction_spark.kernels.html_text import extract_text_series
    from med_doi_feature_extraction_spark.operators.asof import asof_join_window
    from med_doi_feature_extraction_spark.pipeline import (
        extract_stage,
        features_from_extracted,
        page_features,
        window_stage,
    )
    from med_doi_feature_extraction_spark.sources.catalog import Catalog

    cfg = _cfg()
    pages, dim = _frames(spark, inp)

    out = work / "out" / "pages_traced"
    tracer.pass_id = "pages_traced"
    p = traced_pass(spark, tracer, inp, out)
    m["manifest.chunk_s"] = engine.median(p["commit_intervals"])
    m["manifest.sink_s"] = tracer.total("manifest.sink", "pages_traced")
    m["manifest.commit_s"] = tracer.total("manifest.commit.footers", "pages_traced") + tracer.total(
        "manifest.commit.append", "pages_traced"
    )
    m["manifest.done_buckets_s"] = tracer.total("manifest.done_buckets", "pages_traced")
    m["manifest.bytes_out"] = p["out_bytes"]
    shutil.rmtree(out, ignore_errors=True)

    tracer.pass_id = "pages_layers"
    with tracer.span("sources.scan"), engine.JobCount(spark, "scan") as jc, engine.timed() as t:
        engine.noop(pages)
    m["sources.scan_s"] = t["s"]
    m["sources.scan_tasks"] = jc.tasks
    with tracer.span("kernels.html_text.extract"), engine.timed() as t:
        engine.noop(extract_stage(pages))
    m["kernels.html_text.extract_s"] = max(t["s"] - m["sources.scan_s"], 0.0)

    html = pd.Series(pq.read_table(inp["pages"], columns=["html"]).column("html").to_pylist()[:500])
    runs = []
    with tracer.span("kernels.html_text.extract_text_series"):
        for _ in range(3):
            with engine.timed() as t:
                extract_text_series(html)
            runs.append(t["s"])
    m["kernels.html_text.us_per_doc"] = engine.median(runs) / len(html) * 1e6

    with tracer.span("sources.catalog.save_bucketed"), engine.timed() as t:
        Catalog(spark).save_bucketed(
            extract_stage(pages).drop("text", "text_extracted"),
            BUCKETED_TABLE, engine.cores(), ["url"], sort_cols=["url", "warc_ts"],
        )
    m["sources.catalog.save_bucketed_s"] = t["s"]
    ext = spark.table(BUCKETED_TABLE)
    feats_out = work / "out" / "bucketed_features"
    with tracer.span("pipeline.features_from_extracted"), engine.timed() as t:
        features_from_extracted(ext, dim=dim, cfg=cfg, pre_partitioned=True).write.mode(
            "overwrite"
        ).parquet(str(feats_out))
    m["pipeline.bucketed_pass_s"] = t["s"]
    shutil.rmtree(feats_out, ignore_errors=True)
    with tracer.span("operators.windows.window_stage"), engine.timed() as t:
        engine.noop(window_stage(ext, cfg))
    m["operators.windows.window_stage_s"] = t["s"]
    with tracer.span("operators.asof.asof_join_window"), engine.timed() as t:
        engine.noop(
            asof_join_window(
                ext.select("url", "warc_ts", "domain"), dim, "domain", "warc_ts", "obs_ts",
                list(cfg.dim_value_cols), right_tiebreak=list(cfg.dim_tiebreak),
            )
        )
    m["operators.asof.asof_join_window_s"] = t["s"]

    with tracer.span("pipeline.build"), engine.timed() as t:
        feats = page_features(pages, dim=dim, cfg=cfg)
    m["pipeline.build_s"] = t["s"]
    with tracer.span("pipeline.execute"):
        pm = engine.executed_plan_metrics(feats)
    m["pipeline.exchanges"] = pm["exchanges"]
    m["pipeline.shuffle_bytes"] = pm["shuffle_bytes"]
    m["pipeline.spill_bytes"] = pm["spill_bytes"]
    m["pipeline.arrow_eval_s"] = pm["arrow_eval_s"]
    return []

