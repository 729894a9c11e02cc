"""Wave-5 operator semantics: skyline, data-quality suite,
survivorship, gap fill, weighted sampling, basket lift, PageRank,
sorted-neighborhood blocking."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.basket import (
    OversizeBasketError,
    pair_cooccurrence,
)
from htmlentityextraction_spark.operators import basket, components, dedup
from htmlentityextraction_spark.operators.components import pagerank
from htmlentityextraction_spark.operators.dataquality import (
    check_suite,
    completeness,
    uniqueness,
)
from htmlentityextraction_spark.operators.dedup import sorted_neighborhood_pairs
from htmlentityextraction_spark.operators.frontier import skyline_2d
from htmlentityextraction_spark.operators.sampling import weighted_sample
from htmlentityextraction_spark.operators.survivorship import (
    golden_record,
    latest_nonnull,
)
from htmlentityextraction_spark.operators.timeseries import gap_fill_forward


def _d(s):
    return datetime.date.fromisoformat(s)


def _ts(s):
    return datetime.datetime.fromisoformat(s)


# ---------------------------------------------------------------- skyline


def test_skyline_keeps_only_nondominated(spark):
    # minimize x, maximize y. (1,5) and (3,9) survive; (2,4) is
    # dominated by (1,5); (3,5) folds into max-per-x with (3,9);
    # (4,9) is dominated by (3,9) (equal y, larger x).
    df = spark.createDataFrame(
        [(1, 5.0), (2, 4.0), (3, 9.0), (3, 5.0), (4, 9.0)], "x int, y double"
    )
    got = {(r.x, r.y) for r in skyline_2d(df, "x", "y").collect()}
    assert got == {(1, 5.0), (3, 9.0)}


def test_skyline_single_point(spark):
    df = spark.createDataFrame([(7, 1.0)], "x int, y double")
    assert skyline_2d(df, "x", "y").count() == 1


# ------------------------------------------------------------- dataquality


def test_check_suite_single_pass_and_verdicts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id int, s string"
    )
    rep = check_suite(
        df,
        [
            ("id_complete", "id", completeness("id"), 1.0),
            ("s_complete", "s", completeness("s"), 1.0),
            ("id_unique", "id", uniqueness("id"), 1.0),
        ],
    ).collect()
    by = {r.check: r for r in rep}
    assert by["id_complete"].passed
    assert not by["s_complete"].passed
    assert by["s_complete"].metric == pytest.approx(2 / 3)
    assert by["id_unique"].passed


# ------------------------------------------------------------ survivorship


def test_latest_nonnull_skips_newer_null(spark):
    df = spark.createDataFrame(
        [
            (1, "old@x", _ts("2024-01-01 00:00:00"), 1),
            (1, None, _ts("2024-06-01 00:00:00"), 2),  # newer but null
            (1, "new@x", _ts("2024-03-01 00:00:00"), 3),
            (2, None, _ts("2024-01-01 00:00:00"), 4),  # all-null cluster
        ],
        "k int, email string, ts timestamp, id int",
    )
    out = golden_record(
        df, "k", {"email": latest_nonnull("email", "ts", "id")}
    ).collect()
    by = {r.k: r.email for r in out}
    assert by[1] == "new@x"  # latest NON-NULL, not latest row
    assert by[2] is None


# ---------------------------------------------------------------- gap fill


def test_gap_fill_forward_fills_and_flags(spark):
    df = spark.createDataFrame(
        [
            (1, _d("2024-01-01"), 10.0),
            (1, _d("2024-01-04"), 40.0),  # 2 missing days between
            (2, _d("2024-02-01"), 5.0),
        ],
        "k int, day date, v double",
    )
    out = gap_fill_forward(df, "k", "day", "v").collect()
    k1 = sorted(
        [(r.day.isoformat(), r.v, r.filled) for r in out if r.k == 1]
    )
    assert k1 == [
        ("2024-01-01", 10.0, False),
        ("2024-01-02", 10.0, True),
        ("2024-01-03", 10.0, True),
        ("2024-01-04", 40.0, False),
    ]
    assert [(r.v, r.filled) for r in out if r.k == 2] == [(5.0, False)]


# ---------------------------------------------------------------- sampling


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    rows = [(i, 1.0 if i % 10 else 1000.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    s1 = {r.id for r in weighted_sample(df, "id", "w", 50).collect()}
    s2 = {r.id for r in weighted_sample(df, "id", "w", 50).collect()}
    assert s1 == s2 and len(s1) == 50
    # the 100 heavy ids (weight 1000x) should dominate the sample
    heavy = sum(1 for i in s1 if i % 10 == 0)
    assert heavy >= 40


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 5.0), (4, 5.0)], "id long, w double"
    )
    got = {r.id for r in weighted_sample(df, "id", "w", 2).collect()}
    assert got == {3, 4}


# ------------------------------------------------------------------ basket


def test_pair_cooccurrence_counts_and_lift(spark, monkeypatch):
    monkeypatch.setattr(basket, "_MIN_PAIR_COUNT", 1)
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")],
        "b int, i string",
    )
    out = {(r.item_a, r.item_b): r for r in pair_cooccurrence(df, "b", "i").collect()}
    ab = out[("a", "b")]
    assert ab.pair_count == 2 and ab.count_a == 3 and ab.count_b == 2
    assert ab.n_baskets == 3
    assert ab.support == pytest.approx(2 / 3)
    assert ab.confidence_a_to_b == pytest.approx(2 / 3)
    assert ab.lift == pytest.approx((2 * 3) / (3 * 2))
    assert ("a", "c") in out and out[("a", "c")].pair_count == 1


def test_pair_cooccurrence_oversize_guard(spark):
    rows = [(1, f"i{j}") for j in range(101)] + [(2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, "b int, i string")
    with pytest.raises(OversizeBasketError, match="pair explosion refused"):
        pair_cooccurrence(df, "b", "i")


# ---------------------------------------------------------------- pagerank


def test_pagerank_two_node_cycle_and_mass(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank(edges).collect()}
    assert ranks[1] == pytest.approx(0.5)
    assert ranks[2] == pytest.approx(0.5)


def test_pagerank_dangling_mass_conserved(spark):
    # 1 -> 2, 2 dangling: total rank must stay 1.0 per iteration
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    ranks = pagerank(edges)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0)
    by = {r.node: r.rank for r in ranks.collect()}
    assert by[2] > by[1]  # sink accumulates


def test_pagerank_dangling_exact_recurrence(spark):
    # 1->2, 2->3, 1->3; node 3 dangling. Hand-unrolled recurrence with
    # uniform dangling redistribution protects the pseudo-edge fold
    # (r6 VERDICT item 5): the dangling mass must enter each round as
    # sum(rank over dangling)/n, not be dropped or double-counted.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    d, n = 0.85, 3
    r = {1: 1 / 3, 2: 1 / 3, 3: 1 / 3}
    for _ in range(3):
        dm = r[3]  # node 3 is the only dangling node
        inc = {1: 0.0, 2: r[1] / 2, 3: r[1] / 2 + r[2]}
        r = {v: (1 - d) / n + d * (inc[v] + dm / n) for v in r}
    got = {row.node: row.rank for row in pagerank(edges).collect()}
    for v in (1, 2, 3):
        assert got[v] == pytest.approx(r[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0)


def test_pagerank_one_materialization_per_round(spark, monkeypatch):
    # Scale contract: the per-round cost is ONE edge-scale
    # materialization (the incoming aggregate's checkpoint) plus
    # node-scale broadcast builds — never a second aggregate or pass
    # over the edge set, and never growing with the iteration count.
    # On these tiny graphs the driver-counted |V| provably fits the
    # broadcast threshold, so each round also runs the rank-side and
    # incoming broadcast-build jobs (and, on dangling graphs, the
    # 1-row dangling-scalar broadcast): 3 extra O(|V|) jobs max.
    # Measured with AQE off (AQE legitimately splits a query into
    # per-stage jobs, which is not what this asserts).
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def last_job() -> int:
            ids = sc.statusTracker().getJobIdsForGroup(None) or []
            return max(ids) if ids else -1

        def jobs_for(edges, iters: int) -> int:
            j0 = last_job()
            monkeypatch.setattr(components, "_PAGERANK_ITERATIONS", iters)
            pagerank(edges).collect()
            return last_job() - j0

        dangling = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], "src long, dst long"
        )
        cycle = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        for edges, per_round_max in ((dangling, 4), (cycle, 3)):
            jobs_for(edges, 2)  # warm: absorbs one-time session jobs
            base = jobs_for(edges, 2)
            more = jobs_for(edges, 6)
            per_iter = (more - base) / 4
            assert per_iter <= per_round_max, (
                f"{per_iter} jobs/iteration (base={base}, 6-iter={more})"
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_pagerank_null_endpoint_edges_ignored(spark):
    # The NULL dst key is reserved for the dangling-mass pseudo-edges;
    # a dirty edge list with real NULL endpoints must behave exactly
    # like the cleaned list (not redistribute the NULL-dst mass, not
    # inflate n with a NULL vertex).
    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    dirty = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, None), (None, 2), (None, None)],
        "src long, dst long",
    )
    want = {r.node: r.rank for r in pagerank(clean).collect()}
    got = {r.node: r.rank for r in pagerank(dirty).collect()}
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_checkpoint_storage_bounded(spark, monkeypatch):
    # Storage contract: per-round checkpoints are unpersisted once the
    # next round materializes, so the number of persistent RDDs a run
    # leaves behind is a constant (static edges/verts + the LAST
    # round's aggregate), independent of the iteration count. Before
    # the r8 fix every round's blocks accumulated for the whole loop
    # (sf1 probe: GC-locker retries on the single JVM).
    from conftest import persistent_rdd_ids

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )

    def leftover(iters: int) -> int:
        before = persistent_rdd_ids(spark)
        monkeypatch.setattr(components, "_PAGERANK_ITERATIONS", iters)
        pagerank(edges).collect()
        return len(persistent_rdd_ids(spark) - before)

    assert leftover(8) == leftover(2)


# ---------------------------------------------- sorted neighborhood


def test_sorted_neighborhood_pair_budget_and_blocking(spark, monkeypatch):
    monkeypatch.setattr(dedup, "_SNM_WINDOW", 3)
    df = spark.createDataFrame(
        [(i, f"aa{i:03d}") for i in range(5)] + [(99, "zz999")],
        "id long, key string",
    )
    out = sorted_neighborhood_pairs(df, "id", "key").collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    # each row pairs with <= 2 successors inside its block
    assert pairs == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}
    # no pair crosses the aa|zz block boundary
    assert not any(99 in p for p in pairs)


def test_gap_fill_linear_interpolates_interior_gaps(spark):
    from htmlentityextraction_spark.operators.timeseries import gap_fill_linear

    df = spark.createDataFrame(
        [
            (1, _d("2024-01-01"), 10.0),
            (1, _d("2024-01-04"), 40.0),  # gap of 2 days: 20, 30
            (1, _d("2024-01-05"), 20.0),
        ],
        "k int, day date, v double",
    )
    out = sorted(
        [(r.day.isoformat(), r.v, r.filled) for r in
         gap_fill_linear(df, "k", "day", "v").collect()]
    )
    assert out == [
        ("2024-01-01", 10.0, False),
        ("2024-01-02", 20.0, True),
        ("2024-01-03", 30.0, True),
        ("2024-01-04", 40.0, False),
        ("2024-01-05", 20.0, False),
    ]


def test_valid_event_time_sql_twin_matches_spark(spark):
    """functions.temporal.valid_event_time_sql is the DuckDB twin of
    valid_event_time — both engines must keep exactly the same rows
    at the window boundaries (inclusive min, exclusive max; 2038 and
    leap-day instants valid; NULL dropped)."""
    import duckdb

    from htmlentityextraction_spark.functions.temporal import (
        valid_event_time,
        valid_event_time_sql,
    )

    rows = [
        (1, "1969-12-31 23:59:59"),   # pre-epoch sentinel -> drop
        (2, "1999-12-31 23:59:59"),   # just under the min -> drop
        (3, "2000-01-01 00:00:00"),   # inclusive min -> keep
        (4, "2038-01-19 03:14:08"),   # past the 32-bit rollover -> keep
        (5, "2096-02-29 23:59:59"),   # leap day -> keep
        (6, "2099-12-31 23:59:59"),   # last valid second -> keep
        (7, "2100-01-01 00:00:00"),   # exclusive max -> drop
        (8, None),                    # corrupt -> drop
    ]
    df = spark.createDataFrame(rows, "id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    spark_kept = {r.id for r in df.filter(valid_event_time("ts")).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if ts is None else repr(ts)}::TIMESTAMP)" for i, ts in rows
        )
        + ") v(id, ts)"
    )
    duck_kept = {
        r[0]
        for r in con.execute(
            f"SELECT id FROM t WHERE {valid_event_time_sql('ts')}"
        ).fetchall()
    }
    assert spark_kept == duck_kept == {3, 4, 5, 6}

