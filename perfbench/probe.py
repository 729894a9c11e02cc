"""Measurement helpers: Spark status-store readers, layer spans, memory
sampling from /proc, and the leftover-resource census.

Nothing here changes what the engine computes. Spans are recorded
around the benchmark's own calls into the engine; counters are read
back from Spark's status stores after the span has ended.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}


def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). With fewer than 11 samples
    the median is the best the data supports."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return statistics.median(xs), 50.0, n // 2
    k = n - 11  # index of the value with exactly ten samples above it
    return xs[k], round(100.0 * (k + 1) / n, 1), n - k - 1


def _metric_seconds(text: str) -> float:
    """First duration in a SQL-metric string such as
    ``"total (min, med, max)\\n1.2 s (10 ms, ...)"`` or ``"394 ms"``."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(ns|us|ms|s|m|h)\b", body)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _metric_bytes(text: str) -> int:
    """First size in a SQL-metric string such as ``"5.1 MiB"``."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", body)
    return int(float(m.group(1).replace(",", "")) * _UNIT_B[m.group(2)]) if m else 0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusStore:
    """Reads per-stage and per-SQL-node metrics for work done inside
    named Spark job groups."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores hold the finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        ids = [e.executionId() for e in _seq(self._sql.executionsList())]
        return max(ids) if ids else -1

    def stages(self, group: str) -> list[int]:
        tracker = self.sc.statusTracker()
        out = []
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                out += list(info.stageIds)
        return sorted(set(out))

    def stage_totals(self, group: str) -> dict:
        """Executor run and CPU seconds, shuffle-write and spill bytes
        summed over the group's stages, and the task count of its last
        stage (the one that feeds the sink)."""
        tot = dict(run_s=0.0, cpu_s=0.0, shuffle_write_bytes=0, spill_bytes=0,
                   last_stage_tasks=0)
        for sid in self.stages(group):
            try:
                s = self._jsc.statusStore().lastStageAttempt(sid)
            except Exception:  # a skipped stage never ran and has no attempt
                continue
            tot["run_s"] += s.executorRunTime() / 1e3
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["last_stage_tasks"] = s.numTasks()
        return tot

    def sql_metrics(self, after_execution: int) -> list[tuple[str, str, str]]:
        """(plan node, metric name, value text) of every SQL execution
        newer than ``after_execution``."""
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= after_execution:
                continue
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                for m in _seq(n.metrics()):
                    out.append((n.name(), m.name(), values.get(int(m.accumulatorId()), "")))
        return out


class Span:
    """One traced layer: wall time plus what the status store recorded
    for its job group."""

    def __init__(self, name: str):
        self.name = name
        self.wall_s = 0.0
        self.stages: dict = {}
        self.python_by_node: dict[str, float] = {}  # "time to run Python workers"
        self.files_read_bytes = 0  # "size of files read" of the scans


@contextmanager
def span(store: StatusStore, name: str, group: str):
    """Run the body inside job group ``group`` and fill a Span."""
    sp = Span(name)
    store.sc.setJobGroup(group, name)
    before = store.last_execution_id()
    t0 = time.perf_counter()
    try:
        yield sp
    finally:
        sp.wall_s = time.perf_counter() - t0
        store.sc.setLocalProperty("spark.jobGroup.id", None)
        store.flush()
        sp.stages = store.stage_totals(group)
        for node, metric, text in store.sql_metrics(before):
            if node in PYTHON_NODES and metric == "time to run Python workers":
                sp.python_by_node[node] = sp.python_by_node.get(node, 0.0) + _metric_seconds(text)
            elif metric == "size of files read":
                sp.files_read_bytes += _metric_bytes(text)


def noop(df: DataFrame) -> None:
    """Materialize a frame without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and the Python workers it forks), sampled from /proc. Each
    process counts its proportional share (PSS) of pages it shares with
    others, so memory the forked workers share with their daemon is
    counted once."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval_s)

    def sample(self) -> int:
        return sum(_pss(pid) for pid in descendants(os.getpid()))


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cached_plans(spark: SparkSession) -> int:
    """Number of plans in the session's CacheManager. Its list is
    private, so it is read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def leftovers(spark: SparkSession, tmp_dir: str) -> dict:
    """What a run left behind in the session and in its temp dir."""
    return {
        "leftover.persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "leftover.cached_plans": cached_plans(spark),
        "leftover.tmp_entries": len(os.listdir(tmp_dir)) if os.path.isdir(tmp_dir) else 0,
    }
