"""Spark-side helpers of the benchmark: session set-up inside the
checkout, job/task counting, AQE-final plan metrics and process RSS.

Nothing here changes how the package runs; it only starts the session
through ``session.get_spark`` and reads what Spark reports.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: Driver heap the benchmark asks for (``session.py`` defaults to 16g,
#: more than a small machine's memory). The heap grows as the program
#: needs it, so driver-side heap use shows in the RSS figures.
DRIVER_MEM = "1g"


def prepare_env(work: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` so a run reads and writes only inside the checkout."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = str(tmp)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(work: Path):
    from med_doi_feature_extraction_spark.session import get_spark

    n = cores()
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def warm_workers(spark) -> None:
    """Start every Python worker and import the UDF stack in it, once
    per session (one task per core)."""
    from med_doi_feature_extraction_spark.operators.dedup import with_minhash

    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n * 4).repartition(n).selectExpr(
        "cast(id as string) as id", "concat('warm up text ', id) as text"
    )
    with_minhash(warm, "text").write.mode("overwrite").format("noop").save()


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class JobCount:
    """Jobs and completed tasks started under one job group."""

    def __init__(self, spark, group: str) -> None:
        self.sc = spark.sparkContext
        self.group = group
        self.jobs = 0
        self.tasks = 0

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self.group)
        self.jobs = len(job_ids)
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            st = tracker.getStageInfo(s)
            if st is not None:
                self.tasks += st.numCompletedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return False


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _plan_nodes(node) -> list:
    """All nodes of an executed plan, descending through AQE wrappers,
    query stages and reused exchanges."""
    out, todo = [], [node]
    while todo:
        n = todo.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(n.plan())
            continue
        out.append(n)
        todo.extend(_scala_seq(n.children()))
        if cls.startswith("Reused"):
            continue
        for sub in _scala_seq(n.subqueries()):
            todo.append(sub)
    return out


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


_PY_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInArrow")


def executed_plan_metrics(df) -> dict:
    """Run ``df`` to completion through its own executed plan and sum
    the SQL metrics of the AQE-final plan."""
    df._jdf.queryExecution().executedPlan().execute().count()
    return plan_metrics(df)


def plan_metrics(df) -> dict:
    """Sum the SQL metrics of ``df``'s executed plan, after an action
    on ``df`` itself has run it."""
    acc = {"exchanges": 0, "shuffle_bytes": 0, "spill_bytes": 0,
           "arrow_eval_s": 0.0, "broadcast_bytes": 0}
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        cls = n.getClass().getSimpleName()
        m = _metrics(n)
        if cls == "ShuffleExchangeExec":
            acc["exchanges"] += 1
            acc["shuffle_bytes"] += m.get("shuffleBytesWritten", m.get("dataSize", 0))
        elif cls == "BroadcastExchangeExec":
            acc["broadcast_bytes"] += m.get("dataSize", 0)
        acc["spill_bytes"] += m.get("spillSize", 0)
        if any(cls.startswith(p) for p in _PY_NODES):
            acc["arrow_eval_s"] += m.get("pythonTotalTime", 0) / 1000.0  # ms, summed over tasks
    return acc


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of every process this run started: the driver
    JVM and the Python workers (the driver's own interpreter is not
    counted). Pages shared between forked Python workers are split
    between them (PSS), so a worker forked late does not count the
    daemon's memory twice."""
    return sum(_pss_kb(p) for p in _descendants(os.getpid())) / 1024.0


class RssPeak:
    """Peak of ``tree_rss_mb`` sampled every ``period`` seconds while
    the block runs."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb())
        return False


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and everything it started."""
    pids = [os.getpid()] + _descendants(os.getpid())
    return sum(_cpu_ticks(p) for p in pids) / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def dir_bytes(path: Path) -> int:
    return sum(
        f.stat().st_size
        for f in Path(path).rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    )


#: Buffer of the memory-bandwidth probe; ``bench.py`` uses 512, which
#: would double the benchmark's own memory for the probe's duration.
MEMBW_MB = 64


def machine_state() -> dict:
    from tools.scaling_bench import _membw_probe

    return {
        "loadavg": list(os.getloadavg()),
        "membw_gbps": _membw_probe(mb=MEMBW_MB),
        "membw_probe_mb": MEMBW_MB,
    }


@contextmanager
def timed():
    box = {}
    t0 = time.perf_counter()
    try:
        yield box
    finally:
        box["s"] = time.perf_counter() - t0


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def high_percentile(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples above it (the
    maximum when the sample is too small for any), with the count."""
    xs = sorted(xs)
    n = len(xs)
    if n >= 11:
        k = n - 11
        return {"p": round(100.0 * (k + 1) / n, 1), "value": xs[k], "n": n}
    return {"p": 100.0, "value": xs[-1], "n": n}
