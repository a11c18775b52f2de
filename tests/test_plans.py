"""Physical-plan regression guards: pushdown, pruning, broadcast,
shuffle budget. These pin the Catalyst behaviors the engine's scale
story depends on (SURVEY.md §4.2) so a refactor that silently defeats
them fails CI, not the cluster bill."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    plan = _plan(entry.q_tpch_q1(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection reaches the scan: html-free, only the 7 needed columns
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "l_orderkey" not in scan  # unused column pruned
    assert "l_quantity" in scan


def test_small_dims_broadcast(spark):
    plan = _plan(entry.q_broadcast_join_agg(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation


def test_window_stack_single_exchange(spark, pages_df):
    """lag+ffill+sessionize+rolling share ONE shuffle on the entity."""
    from med_doi_feature_extraction_spark.operators.windows import (
        forward_fill,
        rolling,
        sessionize,
        with_lag_lead,
    )

    df = pages_df.select("url", "warc_ts", "lang", F.length("text").alias("n"))
    out = sessionize(
        forward_fill(
            with_lag_lead(df, "url", "warc_ts", {"n": "n"}),
            "url", "warc_ts", ["lang"],
        ),
        "url", "warc_ts", 3600,
    )
    out = rolling(out, "url", "warc_ts", "n", n_rows=3)
    assert _plan(out).count("Exchange") == 1


def test_pipeline_blob_never_shuffles(spark, pages_df, dim_df):
    """html bytes stay in the scan stage: no Exchange below the UDF."""
    from med_doi_feature_extraction_spark.pipeline import FeatureConfig, page_features

    plan = _plan(page_features(pages_df, dim=dim_df, cfg=FeatureConfig()))
    # the UDF (ArrowEvalPython) appears exactly once, and no Exchange
    # line mentions the html column
    assert plan.count("ArrowEvalPython") == 1
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line


def test_anti_join_is_join_not_subquery_scan(spark):
    plan = _plan(entry.q_anti_join(spark, SF))
    assert "LeftAnti" in plan


def test_spread_resolves_both_file_uri_forms(spark, tmp_path, monkeypatch):
    """_spread sizes its input from inputFiles(); Hadoop renders a local
    file as file:/x or file:///x, and both must resolve to the file
    rather than drop into the spread_scan fallback."""
    from urllib.parse import urlparse

    from med_doi_feature_extraction_spark.operators import dedup

    path = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(path)
    df = spark.read.parquet(path)
    files = [urlparse(f).path for f in df.inputFiles()]

    def no_fallback(_df):
        raise AssertionError("_spread fell back to spread_scan")

    monkeypatch.setattr(dedup, "spread_scan", no_fallback)
    for form in ("file:{}", "file://{}"):
        df.inputFiles = lambda form=form: [form.format(p) for p in files]
        out = entry._spread(df)
        assert out is not df  # tiny input: repartitioned by size
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
