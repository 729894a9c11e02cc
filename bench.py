"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship plus the heaviest per-family representatives.
HEADLINE = [
    "price_delta_market_position",   # windows + stats + rank + join (flagship)
    "bad_domain_analysis",           # aggregate-of-aggregate join
    "hotspots_hot_level",            # lag window + agg buckets
    "rt2report_competitor_summary",  # collect_set shuffle agg
    "dedup_minhash_lsh",             # sketch: shingle minhash + band join
    "similarity_cosine_topk",        # vector scan + per-query topk
    "text_quality_profile",          # columnar text analysis
    "price_candidate_extraction",    # mapInArrow extraction path
    # model_score_pick_price runs BEFORE stream_serve_pipeline and is
    # charged the one-time per-domain registry fit (queries/ml.fit_once);
    # serve then consumes the packaged registry, like the reference's
    # BuildModels -> serving split. First-query-pays, deterministically.
    "model_score_pick_price",        # per-domain train + score + pick
    "stream_enrich_status",          # structured streaming availableNow
    "stream_serve_pipeline",         # full serve path: parse->extract->score->route
]

# Round-3 families, timed identically but reported under "extended" so
# the headline total stays comparable across rounds.
EXTENDED = [
    "ema_price_per_product",         # ordered-fold sequential aggregate
    "cms_heavy_hitters",             # DataFrame Count-Min sketch
    "mergetable_cdc_changes",        # table format: 2 merges + change feed
    "fuzzy_entity_match",            # trigram-blocked fuzzy join
    "sequence_packing_bins",         # token-budget packing
    "stream_merge_upsert_per_user",  # streaming MERGE sink
    # Round-4 wave-5 families
    "pagerank_copurchase_parts",     # iterative graph: 2 shuffles/round
    "basket_brand_lift",             # basket-key pair join + lift
    "gap_fill_user_purchase_value",  # distributed spine + forward fill
    # Round-4 wave-6/7 families
    "bloom_prefilter_join",          # runtime bloom cut before the join shuffle
    "setsim_prefix_join_docs",       # exact set-similarity: prefix+positional filter
    "table_diff_reconciliation",     # checksum-routed two-phase diff
    "fpgrowth_brand_itemsets",       # distributed FP-Growth (ml.fpm)
    "rolling_distinct_users_7d",     # mergeable HLL over trailing windows
    # Round-5 family representatives
    "asof_last_view_before_purchase",  # as-of join (range + last-before)
    "poisson_bootstrap_ci",          # 200x replicate explode on user pre-agg
]


def run_anchor(spark) -> float:
    """CODE-FROZEN calibration anchor (round 11) — do NOT change this
    workload, its sizes, or its timing basis: cross-round comparisons
    divide by it. A fixed generated frame (200M rows — sized so the
    anchor runs ~2-4 s idle, far above scheduler jitter; no fixture
    dependency) through one shuffle + hash agg + sort, noop-sink,
    median of 3.

    Why: byte-identical headline plans drift 18.7-29.4 s on this box
    (BENCHNOTES.md) — wider than the 2x regression budget — so absolute
    seconds cannot falsify a <1.5x regression. The anchor runs in the
    SAME session/process/box-state as the queries it normalizes; a real
    per-query regression moves that query's ratio-to-anchor while box
    noise moves numerator and denominator together."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.time()
        df = (
            spark.range(0, 200_000_000)
            .select(
                (F.col("id") % 9973).alias("k"),
                ((F.col("id") * 2654435761) % 1000003).cast("double").alias("v"),
            )
            .groupBy("k")
            .agg(
                F.sum("v").alias("s"),
                F.avg("v").alias("a"),
                F.count(F.lit(1)).alias("n"),
            )
            .orderBy("k")
        )
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    runs = sorted(once() for _ in range(3))
    print(f"# anchor: {runs[1]}s (runs {runs})", file=sys.stderr)
    return runs[1]


def run_anchor2(spark, sf_dir: str) -> float:
    """CODE-FROZEN second anchor (round 12) — do NOT change. Parquet
    scan + Arrow Pandas-UDF roundtrip + noop sink, median of 3, over
    the session's lineitem fixture (fixture-dependent by design:
    compare only at the same sf, which the driver pins to sf0.1).

    Why a second anchor: the r11 driver run exposed the first
    anchor's blind spot — pure-codegen work barely inflates under box
    load while shuffle/Python-path queries inflate 2-3x (driver file:
    dedup_minhash_lsh ratio 14.2 at 1-min loadavg 3.45 vs 5.6 on the
    fresh pair, byte-identical plans). This anchor exercises the
    scan + Arrow-transfer + Python-worker path, so Python-shaped
    queries have a matched denominator and the two anchors bracket
    the workload mix."""
    import pandas as pd  # noqa: F401  (worker-side import warm)

    path = os.path.join(sf_dir, "lineitem.parquet")

    def fn(batches):
        for pdf in batches:
            yield type(pdf)({"x": pdf["l_extendedprice"] * 0.5 + pdf["l_quantity"]})

    def once() -> float:
        t0 = time.time()
        df = (
            spark.read.parquet(path)
            .select("l_extendedprice", "l_quantity")
            .mapInPandas(fn, "x double")
        )
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    runs = sorted(once() for _ in range(3))
    print(f"# anchor2: {runs[1]}s (runs {runs})", file=sys.stderr)
    return runs[1]


def _uptime_sec() -> int:
    try:
        with open("/proc/uptime") as fh:
            return int(float(fh.read().split()[0]))
    except (OSError, ValueError):
        return -1


def main() -> None:
    # snapshot the environment BEFORE the run generates its own load —
    # an end-of-run loadavg mostly measures the bench itself
    load1, load5, _ = os.getloadavg()
    env_note = {
        "loadavg_1m_at_start": round(load1, 2),
        "loadavg_5m_at_start": round(load5, 2),
        "uptime_sec_at_start": _uptime_sec(),
        # r12 validity gate (BENCHNOTES.md): anchor ratios are cross-
        # round comparable ONLY when BOTH loadavgs are below 1.0 at
        # start — the r11 driver file showed a 2.5x ratio excursion
        # (minhash 14.2 vs fresh 5.6) at loadavg 3.45 with
        # byte-identical plans, because the pure-codegen anchor
        # doesn't inflate under load the way shuffle/Python paths do.
        "ratios_comparable": bool(load1 < 1.0 and load5 < 1.0),
    }
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from htmlentityextraction_spark.runner import timed_noop_write, warm_up
    from htmlentityextraction_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    warm_up(spark, sf_dir)

    # median-of-3 timing (r7+): session first-touch costs (JIT, codegen
    # compile, first shuffle, one-time cached fits) migrate between
    # queries in a shared session and made r4's single-shot numbers
    # unattributable; r5-r6's min-of-2 still let a single slow warm run
    # distort the figure when run 1 failed to fully amortize warm-up
    # (BENCH_r06's basket_brand_lift read 10.1s vs a ~3.9s steady
    # state). Run 1 absorbs first-touch (kept visible under "cold");
    # the median of the two warm runs + one extra run is the
    # steady-state number round-over-round deltas are judged on.
    cold: dict[str, float] = {}

    def run_set(set_names: list[str], tag: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in set_names:
            t1, t2, t3 = (timed_noop_write(spark, name, lambda: qs[name](spark, sf_dir)) for _ in range(3))
            cold[name] = t1
            out[name] = sorted((t1, t2, t3))[1]
            print(f"# {name}: {out[name]}s (runs {t1}/{t2}/{t3}){tag}", file=sys.stderr)
        return out

    # calibration anchors FIRST (after warmup, before any query) — the
    # in-session yardsticks every per-query figure is divided by:
    # anchor = codegen shuffle+agg shape, anchor2 = scan+Python shape
    anchor_sec = run_anchor(spark)
    anchor2_sec = run_anchor2(spark, sf_dir)

    timings = run_set(names, "")
    extended = run_set([n for n in EXTENDED if n in qs], " (extended)")

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # timing basis provenance: r1 timed df.count() (Catalyst prunes
        # non-cardinality work); r2-r4 timed one noop-sink write per
        # query; r5-r6 min-of-2 noop-sink writes; r7+ median-of-3 (see
        # the run_set comment). Never compare across bases; first-run
        # times stay visible under "cold".
        "basis": "noop-write-median3",
        # r11 calibration anchor: a code-frozen generated workload
        # (200M-row shuffle+agg+sort, median-of-3) timed in the SAME
        # session before the queries. Compare RATIOS across rounds —
        # box drift moves anchor and queries together, a real
        # regression moves one ratio. Rule: a cross-round per-query
        # ratio change >1.5x is a finding; absolute seconds are only
        # comparable within the documented drift band (BENCHNOTES.md).
        "anchor_sec": anchor_sec,
        # r12 second anchor: parquet scan + Arrow pandas-UDF roundtrip
        # (run_anchor2) — the matched denominator for Python-path
        # queries; the two anchors bracket the workload mix. Ratios
        # (both kinds) are cross-round comparable ONLY when
        # env.ratios_comparable is true in BOTH rounds' files.
        "anchor2_sec": anchor2_sec,
        "ratios": {
            n: round(t / anchor_sec, 3) for n, t in timings.items()
        } if anchor_sec > 0 else {},
        "total_ratio": round(total / anchor_sec, 3) if anchor_sec > 0 else None,
        # measurement environment: judged r6's numbers untrustworthy
        # because the bench ran after ~15h of accumulated session state;
        # record load + uptime so future readers can adjudicate noise.
        "env": env_note,
        # the artifact self-documents its comparison protocol: end-of-
        # round runs on this box inflate untouched queries +7-140%
        # (BENCHNOTES.md); compare fresh-session runs only, and check
        # env.loadavg_1m_at_start before trusting a cross-round delta
        "see": "BENCHNOTES.md — compare within-basis, fresh-session runs only",
        "cold": cold,
        # round-3 families, timed on the same basis; NOT in `value`
        # so the headline total stays comparable across rounds
        "extended": extended,
    }
    # derived throughput: the serve path processes one page per orders row
    if "stream_serve_pipeline" in timings and timings["stream_serve_pipeline"] > 0:
        n_pages = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
        payload["throughput"] = {
            "serve_pages_per_sec": round(n_pages / timings["stream_serve_pipeline"], 1)
        }
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
