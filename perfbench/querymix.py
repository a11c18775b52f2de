"""The query mix: a fixed list of ``__spark_entry__.queries()`` entries
over the tables of ``corpus.query_tables``, each call's plan build and
execution timed apart.

``lsh_topk`` and ``minhash_neardup`` use the direct operator builds of
``bench.py``, because their contract queries write an oracle seam
outside the checkout. The other eight are checked against their
``oracle_sql()`` twins in DuckDB.
"""

from __future__ import annotations

from pathlib import Path

from perfbench import engine

N_DOCS = {"full": 300, "tiny": 80}
N_ORDERS = {"full": 1500, "tiny": 300}
CONTRACT = [
    "kn_score", "dsir_weights", "dsir_select", "bm25",
    "readability", "gopher_rules", "paragraph_dedup", "tpch_q3",
]
TABLES = ["documents", "embeddings", "customer", "orders", "lineitem"]


def make_inputs(data: Path, seed: int, scale: str) -> dict:
    from perfbench import corpus

    corpus.query_tables(str(data), N_DOCS[scale], N_ORDERS[scale], seed)
    return {
        "dir": str(data),
        "rows": {t: _rows(data / f"{t}.parquet") for t in TABLES},
        "bytes": sum((data / f"{t}.parquet").stat().st_size for t in TABLES),
    }


def _rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _builders(d: str) -> dict:
    import __spark_entry__ as entrymod
    from med_doi_feature_extraction_spark.operators import dedup, similarity

    qs = entrymod.queries()
    out = {name: (lambda s, f=qs[name]: f(s, d)) for name in CONTRACT}
    out["minhash_neardup"] = lambda s: dedup.minhash_dedup(
        s.read.parquet(f"{d}/documents.parquet"), "doc_id", "text", threshold=0.5
    )
    out["lsh_topk"] = lambda s: similarity.lsh_topk(
        s.read.parquet(f"{d}/embeddings.parquet"),
        s.read.parquet(f"{d}/embeddings.parquet").filter("vec_id < 8"),
        k=5,
    )
    return out


def layer_probes(spark, tracer, inp: dict, work: Path, m: dict) -> list[tuple[str, bool, str]]:
    """Time each query's build and execution into ``m``; return the
    checks of the contract queries against their oracles."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_contract import frame_hash

    oracles = entrymod.oracle_sql()
    checks = []
    tracer.pass_id = "query_mix"
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp['dir']}/{t}.parquet')")
        for name, build in _builders(inp["dir"]).items():
            with tracer.span(f"query.{name}"):
                with tracer.span(f"query.{name}.build"), engine.timed() as tb, \
                        engine.JobCount(spark, f"q_{name}_build") as jb:
                    df = build(spark)
                with tracer.span(f"query.{name}.exec"), engine.timed() as te, \
                        engine.JobCount(spark, f"q_{name}_exec") as je:
                    rows = df.collect()
            m[f"query.{name}.build_s"] = tb["s"]
            m[f"query.{name}.exec_s"] = te["s"]
            m[f"query.{name}.jobs"] = jb.jobs + je.jobs
            m[f"query.{name}.broadcast_bytes"] = engine.plan_metrics(df)["broadcast_bytes"]
            if name in CONTRACT:
                got = frame_hash(df.columns, [tuple(r) for r in rows])
                cur = con.execute(oracles[name])
                want = frame_hash([d[0] for d in cur.description], cur.fetchall())
                checks.append((f"query.{name}.oracle", got == want, f"{got} vs {want}"))
    return checks
