"""Smoke test of the benchmark itself at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that ``BENCHMARK.json`` keeps to the benchmark contract, that
every metric a run emits matches it by name and unit, and that span
self time is computed correctly from nested spans. The subprocess runs
take a few minutes; they use ``--scale tiny`` inputs.
"""

from __future__ import annotations

import itertools
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import spans  # noqa: E402
from perfbench.run import unit_of  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [w["name"] for w in SPEC["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in SPEC[group]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_declared_units_match_code():
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]


def test_self_time_from_nested_spans():
    def s(i, parent, a, b):
        return {"id": i, "name": f"s{i}", "parent": parent, "pass": None, "start": a, "end": b}

    nested = [
        s(0, None, 0.0, 10.0),
        s(1, 0, 1.0, 4.0),
        s(2, 0, 3.0, 6.0),   # overlaps its sibling: covered once
        s(3, 1, 2.0, 3.0),   # grandchild: counts against s1 only
        s(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    assert spans.self_times(nested) == pytest.approx([4.0, 2.0, 3.0, 1.0, 3.0])


def test_tracer_records_parents_and_cost(monkeypatch):
    clock = itertools.count()  # every clock read advances one second
    monkeypatch.setattr(spans.time, "perf_counter", lambda: float(next(clock)))
    tr = spans.Tracer()
    tr.pass_id = "p"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["pass"] == "p"
    assert (outer["start"], inner["start"], inner["end"], outer["end"]) == (0, 2, 4, 6)
    assert spans.self_times(tr.spans) == [4.0, 2.0]
    assert (outer["cost_s"], inner["cost_s"], tr.cost_s) == (4.0, 2.0, 4.0)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], 0) for w in SPEC["workloads"]] + [(SPEC["workloads"][0]["name"], 1)],
)
def test_emitted_metrics_match_spec(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
