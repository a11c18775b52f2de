"""``curate_dedup``: ``python -m med_doi_feature_extraction_spark curate``
with ``pii,repetition,exact_dedup,minhash_dedup,gopher,c4,sample`` over
the corpus of ``corpus.curate_corpus``.

Its layer probes time each curation operator alone on the same corpus
and measure the near-dup operator's candidate and verified pairs, the
jobs it starts while its plan is built, and its recall of the planted
near-duplicates.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import shutil
import time
from pathlib import Path

from perfbench import corpus, engine

N_DOCS = {"full": 400, "tiny": 60}
OPS = ["pii", "repetition", "exact_dedup", "minhash_dedup", "gopher", "c4", "sample"]
MAX_DUP_FRAC = 0.3
JACCARD = 0.7
SAMPLE_RATE = 0.9
#: Tiny passes before timing; a cold pass alone takes about 20 s.
WARMUP_PASSES = 1
#: Lowest share of planted near-duplicate pairs minhash_dedup must find.
RECALL_FLOOR = 0.9


def make_inputs(data: Path, seed: int, scale: str) -> dict:
    df, truth = corpus.curate_corpus(N_DOCS[scale], seed)
    data.mkdir(parents=True, exist_ok=True)
    path = data / "docs.parquet"
    df.to_parquet(path, index=False)
    (data / "truth.json").write_text(json.dumps(truth))
    return {
        "docs": str(path),
        "truth": str(data / "truth.json"),
        "rows": len(df),
        "bytes": path.stat().st_size,
        "shape": corpus.corpus_shape_summary(df),
    }


def _truth(inp: dict) -> dict:
    t = json.loads(Path(inp["truth"]).read_text())
    t["exact"] = {int(k): v for k, v in t["exact"].items()}
    t["near"] = {int(k): v for k, v in t["near"].items()}
    return t


def run_pass(spark, inp: dict, out: Path) -> dict:
    from med_doi_feature_extraction_spark.__main__ import main as cli

    shutil.rmtree(out, ignore_errors=True)
    argv = [
        "curate", "--input", inp["docs"], "--output", str(out), "--ops", ",".join(OPS),
        "--max-dup-frac", str(MAX_DUP_FRAC), "--jaccard", str(JACCARD),
        "--sample-rate", str(SAMPLE_RATE),
        "--master", spark.sparkContext.master,
    ]
    t0 = time.time()
    with contextlib.redirect_stdout(io.StringIO()):
        res = cli(argv)
    wall = time.time() - t0
    return {
        "wall_s": wall,
        "commit_intervals": [wall],
        "out_bytes": engine.dir_bytes(out),
        "rows_in": res["rows_in"],
        "rows_after": {r["op"]: r["rows"] for r in res["rows_after"]},
    }


def _reference_keep(docs) -> set[int]:
    """exact_dedup's survivors, computed in pandas: min id per
    trimmed, whitespace-collapsed, lowercased text."""
    norm = docs["text"].map(lambda t: re.sub(r"\s+", " ", t).strip().lower())
    return set(int(x) for x in docs.groupby(norm)["doc_id"].min())


def _near_pairs(spark, inp: dict) -> set[tuple[int, int]]:
    from med_doi_feature_extraction_spark.operators.dedup import minhash_dedup

    df = spark.read.parquet(inp["docs"])
    return {(r["id_a"], r["id_b"]) for r in minhash_dedup(df, "doc_id", "text", threshold=JACCARD).collect()}


def recall(truth: dict, pairs: set[tuple[int, int]]) -> float:
    planted = {(min(c, o), max(c, o)) for c, o in truth["near"].items()}
    return len(planted & pairs) / len(planted)


def checks(spark, inp: dict, last: dict, out: Path, work: Path) -> list[tuple[str, bool, str]]:
    import pandas as pd

    from med_doi_feature_extraction_spark.operators.dedup import exact_dedup

    truth = _truth(inp)
    docs = pd.read_parquet(inp["docs"])
    res = []
    after = last["rows_after"]
    counts = [last["rows_in"]] + [after[op] for op in OPS]
    res.append((
        "curate.funnel_nonempty",
        last["rows_in"] == inp["rows"] and all(c > 0 for c in counts),
        json.dumps(after),
    ))
    drops = {op: a - b for op, a, b in zip(OPS, counts, counts[1:])}
    for op in ("repetition", "exact_dedup", "minhash_dedup", "gopher", "c4", "sample"):
        res.append((f"curate.{op}_drops", drops[op] > 0, str(drops[op])))
    res.append((
        "curate.exact_dedup_removes_planted",
        drops["exact_dedup"] == len(truth["exact"]),
        f"{drops['exact_dedup']} removed, {len(truth['exact'])} planted",
    ))
    want = _reference_keep(docs)
    got = {r["keep_id"] for r in exact_dedup(spark.read.parquet(inp["docs"]), "doc_id", "text").collect()}
    res.append(("curate.exact_dedup_keep_set", got == want, f"{len(got ^ want)} ids differ"))
    out_ids = set(pd.read_parquet(out, columns=["doc_id"])["doc_id"].tolist())
    leaked = out_ids & set(truth["exact"])
    res.append(("curate.no_exact_copy_in_output", not leaked, f"{len(leaked)} copies kept"))
    pairs = _near_pairs(spark, inp)
    rec = recall(truth, pairs)
    res.append(("curate.planted_recall", rec >= RECALL_FLOOR, f"{rec:.3f} >= {RECALL_FLOOR}"))
    both = [p for p in pairs if p[0] in out_ids and p[1] in out_ids]
    res.append(("curate.no_found_pair_in_output", not both, f"{len(both)} pairs kept whole"))
    return res


# -------------------------------------------------------- layer probes


def layer_probes(spark, tracer, inp: dict, work: Path, m: dict) -> list:
    """Measure the curation layers into ``m``."""
    from pyspark.sql import functions as F

    from med_doi_feature_extraction_spark.operators import dedup
    from med_doi_feature_extraction_spark.operators.c4rules import c4_clean
    from med_doi_feature_extraction_spark.operators.gopher import gopher_gate
    from med_doi_feature_extraction_spark.operators.pii import pii_features
    from med_doi_feature_extraction_spark.operators.repetition import repetition_features
    from med_doi_feature_extraction_spark.operators.sampling import hash_sample

    tracer.pass_id = "curate_traced"
    with tracer.wrapped(dedup, "minhash_dedup", "operators.dedup.minhash_dedup.build"), \
            tracer.wrapped(dedup, "exact_dedup", "operators.dedup.exact_dedup.build"), \
            tracer.wrapped(dedup, "dedup_decisions", "operators.dedup.dedup_decisions.build"), \
            tracer.span("curate_dedup.pass"):
        p = run_pass(spark, inp, work / "out" / "curate_traced")
    for op in OPS:
        m[f"curate.rows_after.{op}"] = p["rows_after"][op]

    tracer.pass_id = "curate_layers"
    df = spark.read.parquet(inp["docs"])
    alone = {
        "pii": lambda: pii_features(df, "text"),
        "repetition": lambda: repetition_features(df, "text").filter(
            F.col("dup_unit_frac") <= MAX_DUP_FRAC
        ),
        "gopher": lambda: gopher_gate(df, "text").filter(F.col("gopher_keep")),
        "c4rules": lambda: c4_clean(df, "text").filter(F.col("c4_keep")),
        "sampling": lambda: hash_sample(df, "doc_id", SAMPLE_RATE),
    }
    for name, build in alone.items():
        with tracer.span(f"operators.{name}"), engine.timed() as t:
            engine.noop(build())
        m[f"operators.{name}.s"] = t["s"]

    with tracer.span("operators.dedup.exact_dedup"), engine.timed() as t:
        engine.noop(dedup.exact_dedup(df, "doc_id", "text"))
    m["operators.dedup.exact_dedup_s"] = t["s"]

    with tracer.span("operators.dedup.minhash_dedup"), engine.timed() as t:
        with engine.JobCount(spark, "dedup_build") as jc:
            pairs_df = dedup.minhash_dedup(df, "doc_id", "text", threshold=JACCARD)
        pairs = {(r["id_a"], r["id_b"]) for r in pairs_df.collect()}
    m["operators.dedup.minhash_dedup_s"] = t["s"]
    m["operators.dedup.build_jobs"] = jc.jobs
    with tracer.span("operators.dedup.minhash_lsh_candidates"):
        cands = dedup.minhash_lsh_candidates(df, "doc_id", "text").count()
    m["operators.dedup.candidate_pairs"] = cands
    m["operators.dedup.pairs_kept"] = len(pairs)
    m["operators.dedup.pair_yield"] = len(pairs) / cands if cands else 0.0
    m["operators.dedup.planted_recall"] = recall(_truth(inp), pairs)
    return []
