"""perfbench: seeded end-to-end and per-layer benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve_drain --seed 1 --seconds 6 --trace 0

Workloads: serve_drain, price_analytics (see ``workloads.py``). Inputs
are generated from ``--seed`` into a private work directory under the
repository root, which the run deletes.

``--trace 0`` measures the end-to-end metrics of ``BENCHMARK.json``:

- ``setup_s``: one cold set-up — a fresh JVM and session, and the
  workload's engine work before its timed region, warm-up included
  (serve_drain: the registry fit and the drain's two small warm-up
  triggers; price_analytics: the DuckDB reference and the first pass,
  collected for the row-by-row check). Each run is a new process, so
  the median over runs is a median of cold set-ups; one takes 35-45 s
  on a 4-core VM, too long to repeat in a run;
- ``items_per_s``: pages per second (serve_drain) or observation rows
  per second (price_analytics) over the timed ops;
- ``op_p50_s``: median wall time of one op — a serve trigger after the
  drain's warm-up triggers (``batch_p50_s``) or one pass of the four
  analytics queries (``analytics_s``).

Every run measures at least ``--seconds`` of timed ops, and at least
the workload's ``MIN_OPS`` ops.

``--trace 1`` re-runs the workload layer by layer and prints the
per-layer metrics instead; layers a workload does not exercise read 0.
Among them is ``peak_rss_mb``, the peak resident memory of the driver
JVM plus its Python workers during the traced work, from /proc (summed
as PSS, so pages the forked workers share are counted once); on a
4-core VM it varied too much from run to run to carry a bound.

Every op's output is checked; ``failed``/``attempted`` in the result
line is the error rate, and any failure makes the exit code 1. The
last line of stdout is the result; the line before it is a JSON record
of the environment and the inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Sessions:
    """Owns the SparkSession of a run and the JVM behind it."""

    def __init__(self, work: str):
        self.tmp = os.path.join(work, "tmp")
        self.overrides = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        self.cpus = os.environ.get("SPARK_GRAFT_CPUS")
        self.spark = None

    def start(self, cpus: str | None = None):
        from htmlentityextraction_spark.session import get_spark

        want = cpus or self.cpus
        if want:
            os.environ["SPARK_GRAFT_CPUS"] = want
        else:
            os.environ.pop("SPARK_GRAFT_CPUS", None)
        self.spark = get_spark("perfbench", **self.overrides)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self, cpus: str | None = None):
        self.stop()
        return self.start(cpus)

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _wait_for_children(timeout_s: float = 60.0) -> None:
    """Wait until every process the run started (the JVM and the
    Python workers it forked) has exited."""
    import probe

    deadline = time.monotonic() + timeout_s
    while probe.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probe.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the
    Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def _warm_workers(spark) -> float:
    """First Python-worker job of a session: a few generated pages
    through extract_candidates."""
    import gen
    import probe
    from htmlentityextraction_spark.operators import extraction as ex

    pages = gen.labeled_pages(0, "workers", 8)
    df = spark.createDataFrame([(p.url, p.payload) for p in pages], "url string, html string")
    t0 = time.perf_counter()
    probe.noop(ex.extract_candidates(df))
    return time.perf_counter() - t0


def _environment(spark, args, digest: str, loadavg: tuple) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "loadavg_start": loadavg,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_digest": digest,
    }


def run(args, work: str, sessions: Sessions, spec: dict) -> tuple[dict, dict]:
    import gen
    import probe
    from workloads import WORKLOADS

    loadavg = os.getloadavg()
    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    digest = gen.digest(wl.generate())
    phases = {"generate_s": time.perf_counter() - t0}

    t0 = time.perf_counter()
    spark = sessions.start()
    session_s = time.perf_counter() - t0
    phases["session_s"] = session_s
    warm_s = _warm_workers(spark) if args.trace else 0.0
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    record = _environment(spark, args, digest, loadavg)
    record.update(wl.record, setup_s=setup_s, phases_s=phases)
    tmp_before = len(os.listdir(sessions.tmp))

    if args.trace:
        with probe.RssSampler() as rss:
            layer, op = wl.trace(spark, probe.StatusStore(spark))
        layer["peak_rss_mb"] = rss.peak_bytes / 1e6
        ops = [op]
    else:
        t_timed = time.perf_counter()
        ops, measured = [], 0.0
        while measured < args.seconds or len(ops) < wl.MIN_OPS:
            ops.append(wl.op(spark, len(ops)))
            measured += ops[-1].wall_s
        phases["timed_s"] = time.perf_counter() - t_timed
        setup_s += ops[0].warmup_s
    t0 = time.perf_counter()
    attempted, failed, notes = wl.final_check(spark, ops)
    phases["final_check_s"] = time.perf_counter() - t0
    attempted += sum(o.attempted for o in ops)
    failed += sum(o.failed for o in ops)
    notes += [n for o in ops for n in o.notes]
    left = probe.leftovers(spark, sessions.tmp)
    left["leftover.tmp_entries"] -= tmp_before
    latencies = [x for o in ops for x in o.latencies]
    tail, pct, beyond = probe.percentile_tail(latencies)
    record.update(left, ops=len(ops), latencies_s=[round(x, 3) for x in latencies],
                  tail_s=tail, tail_percentile=pct, tail_beyond=beyond)

    if args.trace:
        layer.update(left)
        base, extra = wl.baseline(sessions)
        attempted += sum(o.attempted for o in extra)
        failed += sum(o.failed for o in extra)
        notes += [n for o in extra for n in o.notes]
        layer.update(base)
        layer.update({"session.jvm_start_s": session_s, "session.worker_warm_s": warm_s,
                      "error_rate": failed / max(attempted, 1)})
        declared = {m["name"] for m in spec["per_layer"]}
        if set(layer) - declared:
            raise RuntimeError(f"undeclared per-layer metrics: {sorted(set(layer) - declared)}")
        record["not_exercised"] = sorted(declared - set(layer))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "items_per_s": sum(o.items for o in ops) / sum(o.wall_s for o in ops),
            "op_p50_s": statistics.median(latencies),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record.update(attempted=attempted, failed=failed, failures=notes[:10])
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return record, result


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "htmlentityextraction_spark", "__init__.py")):
        print("perfbench: the engine package htmlentityextraction_spark/ is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 3
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _configure_env(work)
    sessions = Sessions(work)
    try:
        record, result = run(args, work, sessions, spec)
    finally:
        sessions.close()
        _wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"record": record}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
