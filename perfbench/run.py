"""Repository benchmark: seeded workloads through the package's public
entry points on ``local[N]`` (N = min(4, cores)), one driver process.

Usage::

    python3 perfbench/run.py --workload pages_resumable --seed 1 --seconds 8 --trace 0

Run from the repository root. A run generates its inputs from
``--seed`` (cached per seed under ``.perfbench_work/data``), starts the
session (a fresh JVM, as a user's ``python -m ...`` run does) and times
that as ``setup_s``, runs untimed warm-up passes on the tiny input of
the same seed, then runs passes of the workload until ``--seconds``
have gone by, checks the last output against references computed
outside Spark, and prints one JSON object as its last line of standard
output. The line before the last is the run record (inputs,
``local[N]``, driver heap, load average and memory-bandwidth probe
before and after, every pass, every check); it is also written to
``.perfbench_work/results``.

``--trace 1`` adds the traced run: spans around calls into the
package's public functions, every per-layer metric of
``BENCHMARK.json``, the spans file, the per-layer table and the tracing
overhead against the untraced pass time.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

MIN_PASSES = 1
#: Stop after this many pass attempts even if every one failed fast.
MAX_ATTEMPTS = 50


def unit_of(name: str) -> str:
    """The unit each emitted metric is reported in."""
    if name.endswith("us_per_doc"):
        return "us"
    if "_per_" in name and name.endswith("_s"):
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "yield", "recall")):
        return "fraction"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


def end_to_end(rows: int, passes: list[dict], cores: int) -> tuple[dict, dict]:
    """(gated, recorded) end-to-end figures: medians over the passes,
    and the memory peak over all of them.

    The host of a shared virtual machine steals CPU time from it (up to
    20% of a pass on a 4-core cloud VM, recorded per pass as
    ``steal_frac``) and slows what remains: there, wall-clock throughput
    moved by a third between a quiet and a loaded hour. It is recorded,
    not gated. The gates split it into two factors that moved far less:
    ``docs_per_cpu_s``, input docs per CPU second of the driver, its JVM
    and the Python workers; and ``cpu_busy_frac``, the share of the CPU
    time the machine gave the pass (``cores`` x wall x (1 - steal)) that
    those processes used, which falls when a change serializes work or
    adds a straggler."""
    from perfbench import engine

    med = engine.median
    wall = med([p["wall_s"] for p in passes])
    cpu = med([p["cpu_s"] for p in passes])
    gated = {
        "docs_per_cpu_s": rows / cpu,
        "cpu_busy_frac": med([
            p["cpu_s"] / (cores * p["wall_s"] * (1.0 - p["steal_frac"])) for p in passes
        ]),
        "peak_rss_mb": max(p["peak_rss_mb"] for p in passes),
        "out_bytes_per_doc": med([p["out_bytes"] for p in passes]) / rows,
    }
    recorded = {
        "wall_s": wall,
        "docs_per_s": rows / wall,
        "cpu_s": cpu,
        # seconds between durable checkpoints: the work a crash loses
        "chunk_commit_s": med([c for p in passes for c in p["commit_intervals"]]),
        "steal_frac": med([p["steal_frac"] for p in passes]),
    }
    return gated, recorded


def _fail_without_package() -> None:
    missing = [
        p for p in ("med_doi_feature_extraction_spark", "__spark_entry__.py", "tools")
        if not (ROOT / p).exists()
    ]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        sys.exit(2)


def _inputs(mod, kind: str, seed: int, scale: str, work: Path) -> dict:
    """Generate once per (kind, seed, scale); later runs reuse it."""
    data = work / "data" / f"{kind}-s{seed}-{scale}"
    done = data / "_inputs.json"
    if done.exists():
        inp = json.loads(done.read_text())
        inp["cached"] = True
        return inp
    data.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    inp = mod.make_inputs(data, seed, scale)
    inp["gen_s"] = time.perf_counter() - t0
    done.write_text(json.dumps(inp))
    inp["cached"] = False
    return inp


def _setup(work: Path) -> tuple:
    """Start the session in this process's first JVM and warm its
    workers. A second set-up in the same process would reuse the JVM
    (the package's module-level UDFs bind to the first one), so a run
    sets up once; the spread over runs is in their records."""
    from perfbench import engine

    t0 = time.perf_counter()
    spark = engine.start_session(work)
    t1 = time.perf_counter()
    engine.warm_workers(spark)
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}


def _guarded(name: str, fn) -> list[tuple[str, bool, str]]:
    """Run a group of checks or probes; an exception fails the group
    instead of the run."""
    try:
        return fn()
    except Exception as exc:  # the run must still report what it measured
        traceback.print_exc()
        return [(name, False, f"{type(exc).__name__}: {exc}")]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pages_resumable", "curate_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    _fail_without_package()
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work"

    from perfbench import engine

    engine.prepare_env(work)
    from perfbench import querymix, spans, wl_curate, wl_pages

    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"

    before = engine.machine_state()
    # input kind and module of each workload; the traced run needs them all
    kinds = {"pages_resumable": ("pages", wl_pages), "curate_dedup": ("curate", wl_curate)}
    kind, wl = kinds[args.workload]
    need = list(kinds.values()) + [("query", querymix)] if args.trace else [(kind, wl)]
    inputs = {k: _inputs(m, k, args.seed, args.scale, work) for k, m in need}
    inp = inputs[kind]
    warm_inp = _inputs(wl, kind, args.seed, "tiny", work)

    spark, setup = _setup(work)
    attempted = failed = 0
    passes: list[dict] = []
    checks: list[tuple[str, bool, str]] = []
    out = work / "out" / args.workload
    try:
        # Untimed warm-up passes on the tiny input of the same seed
        # compile the pass's plans and JIT-warm its code paths; a cold
        # pass takes up to twice as long and varies more. The JIT keeps
        # warming (and the JVM keeps growing) over the next passes, so
        # figures are comparable between runs with the same pass count.
        with engine.timed() as warm:
            for _ in range(wl.WARMUP_PASSES):
                wl.run_pass(spark, warm_inp, out)
        t_start = time.perf_counter()
        while True:
            attempted += 1
            try:
                cpu0, st0 = engine.tree_cpu_s(), engine.steal_ticks()
                with engine.RssPeak() as rss, engine.JobCount(spark, f"pass{attempted}") as jc:
                    p = wl.run_pass(spark, inp, out)
                cpu1, st1 = engine.tree_cpu_s(), engine.steal_ticks()
                p.update(
                    peak_rss_mb=rss.peak, jobs=jc.jobs, tasks=jc.tasks, cpu_s=cpu1 - cpu0,
                    steal_frac=(st1[0] - st0[0]) / max(st1[1] - st0[1], 1),
                )
                passes.append(p)
            except Exception:  # a failed pass is counted, not fatal
                traceback.print_exc()
                failed += 1
            elapsed = time.perf_counter() - t_start
            if (elapsed >= args.seconds and len(passes) >= MIN_PASSES) or attempted >= MAX_ATTEMPTS:
                break

        if passes:
            checks += _guarded("checks", lambda: wl.checks(spark, inp, passes[-1], out, work))

        layers: dict = {}
        if args.trace:
            tracer = spans.Tracer()
            for group, mod in (("pages", wl_pages), ("curate", wl_curate), ("query", querymix)):
                checks += _guarded(
                    f"trace.{group}",
                    lambda: mod.layer_probes(spark, tracer, inputs[group], work, layers),
                )
            traced = tracer.find(f"{args.workload}.pass")
            if traced is not None and passes:
                untraced = engine.median([p["wall_s"] for p in passes])
                layers["trace.untraced_pass_s"] = untraced
                layers["trace.traced_pass_s"] = traced["end"] - traced["start"]
                # the tracer's own time inside the traced pass; the two pass
                # times above also differ by how far the JIT has warmed
                layers["trace.overhead_frac"] = traced["cost_s"] / untraced
            layers["session.get_spark_s"] = setup["get_spark_s"]
            layers["session.warmup_s"] = setup["warmup_s"]
            if passes:
                layers["spark.jobs"] = engine.median([p["jobs"] for p in passes])
                layers["spark.tasks"] = engine.median([p["tasks"] for p in passes])
            tracer.write(str(results / f"spans-{args.workload}-s{args.seed}.json"))
    finally:
        engine.stop_session(spark)

    n_checks = len(checks)
    bad_checks = sum(1 for c in checks if not c[1])
    attempted += n_checks
    failed += bad_checks
    e2e: dict = {}
    seen: dict = {}
    if passes:
        e2e, seen = end_to_end(inp["rows"], passes, engine.cores())
        e2e["setup_s"] = setup["setup_s"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": unit_of(m["name"])}
        for m in wanted
        if m["name"] in values
    }
    correct = bool(passes) and bad_checks == 0 and len(metrics) == len(wanted)

    walls = [p["wall_s"] for p in passes]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "master": f"local[{engine.cores()}]",
        "spark_driver_mem": engine.DRIVER_MEM,
        "inputs": inputs,
        "machine_before": before,
        "machine_after": engine.machine_state(),
        "setup": setup,
        "warmup_pass_s": warm["s"],
        "passes": [{k: v for k, v in p.items() if k != "rows_after"} for p in passes],
        "wall_s_high": engine.high_percentile(walls) if walls else None,
        "failed_frac": failed / attempted,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "end_to_end": {
            k: {"value": v, "unit": unit_of(k)}
            for k, v in (e2e | seen | {"failed_frac": failed / attempted}).items()
        },
    }
    if args.trace:
        record["per_layer"] = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        (results / f"layers-{args.workload}-s{args.seed}.json").write_text(
            json.dumps(record["per_layer"], indent=1)
        )
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
