"""Bisect which preceding bench queries inflate stream_serve_pipeline
within one session (r12 continuation: bench reads serve 9.8-12.4 s
late-session vs ~4-5 s standalone steady state on the same box).

Protocol: serve 2x baseline -> block of suspect queries (3x each,
bench order) -> serve 2x -> next block -> serve 2x ... then a
spark.catalog.clearCache() probe -> serve 2x, to test whether leaked
cached intermediates are the cause (ADVICE r12: only the clearCache
arm is implemented; no JVM-side cleanup is attempted).

Usage: python tools/serve_session_bisect.py [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BLOCKS = [
    ("codegen-ish", ["price_delta_market_position", "bad_domain_analysis",
                     "hotspots_hot_level", "rt2report_competitor_summary"]),
    ("minhash", ["dedup_minhash_lsh"]),
    ("python-path", ["similarity_cosine_topk", "text_quality_profile",
                     "price_candidate_extraction", "model_score_pick_price"]),
    ("streaming", ["stream_enrich_status"]),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from htmlentityextraction_spark.runner import timed_noop_write, warm_up
    from htmlentityextraction_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("serve-bisect")
    qs = entry.queries()
    sf_dir = args.sf_dir
    warm_up(spark, sf_dir)

    def run_once(name: str) -> float:
        return timed_noop_write(spark, name, lambda: qs[name](spark, sf_dir))

    out = []

    def serve_pair(tag: str) -> None:
        t = [run_once("stream_serve_pipeline") for _ in range(2)]
        rec = {"after": tag, "serve": t,
               "cached_rdds": len(spark.sparkContext._jsc.getPersistentRDDs())}
        out.append(rec)
        print(f"# {rec}", file=sys.stderr)

    # registry fit + serve warmup (untimed for attribution purposes)
    run_once("stream_serve_pipeline")
    serve_pair("baseline")
    for tag, names in BLOCKS:
        for name in names:
            for _ in range(3):
                run_once(name)
        serve_pair(tag)
    spark.catalog.clearCache()
    serve_pair("clearCache")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
