"""Order-controlled in-session A/B harness (the THROUGHPUT.md round-10
protocol lesson: an arm that always runs last inherits the warmest JVM,
so arms must interleave in ONE session).

An arm is a value of one module constant: ``--set module.path:CONST``,
with ``--a``/``--b`` as Python literals, set on the imported module
before each run and restored on exit. Pattern: warmup, then ABBA BAAB
(each arm runs 4 times, order-balanced); report per-query middle-two
medians per arm.

Usage (A = never fan out a scan, B = the production floor):
  python tools/ab_bench.py --set htmlentityextraction_spark.sources.tables:_SCAN_REPART_MIN_BYTES \
      --a 1e18 --b 524288 --queries rt2report_competitor_summary [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import ast
import importlib
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--set", required=True)
    ap.add_argument("--a", required=True, type=ast.literal_eval)
    ap.add_argument("--b", required=True, type=ast.literal_eval)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--rounds", type=int, default=4, help="runs per arm (order-balanced)")
    args = ap.parse_args()

    module_path, const = args.set.split(":")
    module = importlib.import_module(module_path)
    original = getattr(module, const)  # a misspelt name fails here, not silently

    from htmlentityextraction_spark.runner import timed_noop_write
    from htmlentityextraction_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("ab-bench")
    qs = entry.queries()
    names = [n for n in args.queries.split(",") if n]

    def run_once(name: str, arm: str) -> float:
        setattr(module, const, args.a if arm == "a" else args.b)
        return timed_noop_write(spark, name, lambda: qs[name](spark, args.sf_dir))

    # arm order: ABBA BAAB ... (balanced within every pair of rounds)
    order = []
    for i in range(args.rounds):
        order += (["a", "b", "b", "a"] if i % 2 == 0 else ["b", "a", "a", "b"])
    order = order[: args.rounds * 2]

    results: dict[str, dict[str, list[float]]] = {}
    try:
        for name in names:
            run_once(name, "a")  # warmup (arm a shape), not recorded
            run_once(name, "b")  # warmup (arm b shape), not recorded
            times: dict[str, list[float]] = {"a": [], "b": []}
            for arm in order:
                times[arm].append(run_once(name, arm))
            results[name] = times
            med = {k: round(statistics.median(v), 3) for k, v in times.items()}
            print(
                f"# {name}: A({args.set}={args.a!r}) med {med['a']}s {times['a']} | "
                f"B(={args.b!r}) med {med['b']}s {times['b']}",
                file=sys.stderr,
            )
    finally:
        setattr(module, const, original)
    print(json.dumps({
        n: {
            "a_median": round(statistics.median(t["a"]), 3),
            "b_median": round(statistics.median(t["b"]), 3),
            "a_runs": t["a"], "b_runs": t["b"],
        } for n, t in results.items()
    }))
    spark.stop()


if __name__ == "__main__":
    main()
