"""Wave-6 operator tests: Bloom join pruning, Z-order clustering,
prefix-filtered set-similarity join, PMI collocations, checksum table
diff."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.bloomjoin import (
    bloom_build,
    bloom_prefilter,
    bloom_semi_join,
)
from htmlentityextraction_spark.operators.setjoin import (
    HotPrefixTokenError,
    prefix_jaccard_pairs,
)
from htmlentityextraction_spark.operators import textanalysis
from htmlentityextraction_spark.operators.tablediff import checksum_diff
from htmlentityextraction_spark.operators.textanalysis import pmi_bigram_collocations
from htmlentityextraction_spark.operators.zorder import zvalue


# ---------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every true member survives the pre-filter; most non-members
    are cut (FPR is a fraction, not ~1) — the join-reduction
    property that matters at scale."""
    dim = spark.range(0, 100).select((F.col("id") * 7).alias("k"))
    fact = spark.range(0, 10_000).select(F.col("id").alias("k"))
    words = bloom_build(dim, "k", num_bits=1 << 14)
    survivors = bloom_prefilter(fact, "k", words, num_bits=1 << 14)
    surv_keys = {r["k"] for r in survivors.collect()}
    true_keys = {r["k"] for r in dim.collect() if r["k"] < 10_000}
    assert true_keys <= surv_keys, "bloom dropped a true member"
    # 100 members of 10k rows: survivors should be far below the fact
    # count (m=16Ki bits for 100 keys -> FPR well under 1%)
    assert len(surv_keys) < 500


def test_bloom_semi_join_equals_plain_join(spark):
    dim = spark.range(0, 50).select((F.col("id") * 13 + 1).alias("dk"), F.lit("x").alias("tag"))
    fact = spark.range(0, 2_000).select(F.col("id").alias("fk"))
    got = bloom_semi_join(fact, dim, "fk", "dk").select("fk").orderBy("fk")
    want = fact.join(dim, fact["fk"] == dim["dk"]).select("fk").orderBy("fk")
    assert [r["fk"] for r in got.collect()] == [r["fk"] for r in want.collect()]


# --------------------------------------------------------------- zorder


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long").select(
        zvalue(F.col("a"), F.col("b"), 3).alias("z")
    )
    # a=101, b=011 -> z bits (b2 a2 b1 a1 b0 a0) = 0 1 1 0 1 1
    assert df.collect()[0]["z"] == 0b011011


def test_zorder_scans_fewer_rows_than_linear(spark, sf_dir):
    from htmlentityextraction_spark.queries.wave6_q import zorder_pruning_report

    rows = {r["layout"]: r for r in zorder_pruning_report(spark, sf_dir).collect()}
    assert rows["zorder"]["rows_scanned"] < rows["linear"]["rows_scanned"]
    assert rows["zorder"]["buckets_scanned"] <= rows["linear"]["buckets_scanned"]


# --------------------------------------------------------------- setsim


def _tok_df(spark, rows):
    return spark.createDataFrame(
        [(i, toks) for i, toks in rows], "id long, toks array<string>"
    )


def test_prefix_jaccard_matches_bruteforce(spark):
    docs = _tok_df(
        spark,
        [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b", "c", "e"]),      # J(1,2) = 3/5 = 0.6
            (3, ["a", "b", "c", "d"]),      # J(1,3) = 1.0
            (4, ["x", "y", "z", "w"]),      # disjoint
            (5, ["a", "x"]),                # low overlap
        ],
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(docs, "id", "toks", 0.6).collect()
    }
    # brute force over all 10 pairs
    import itertools

    sets = {1: {"a", "b", "c", "d"}, 2: {"a", "b", "c", "e"}, 3: {"a", "b", "c", "d"},
            4: {"x", "y", "z", "w"}, 5: {"a", "x"}}
    want = {}
    for x, y in itertools.combinations(sorted(sets), 2):
        j = len(sets[x] & sets[y]) / len(sets[x] | sets[y])
        if j >= 0.6:
            want[(x, y)] = j
    assert got == pytest.approx(want)


def test_prefix_join_hot_token_guard(spark):
    # every doc shares token "hot" and the threshold is low enough
    # that "hot" lands in each prefix -> guard must fire loudly
    docs = _tok_df(spark, [(i, ["hot", f"u{i}"]) for i in range(30)])
    with pytest.raises(HotPrefixTokenError, match="hot"):
        prefix_jaccard_pairs(docs, "id", "toks", 0.5, max_block_rows=10)


def test_prefix_join_guard_screen_matches_exact(spark):
    """r13 guard screen: count_prefix(tok) <= df(tok), so a max(df)
    reduce over the vocabulary can prove no hot block exists and skip
    the exact per-prefix-token count job. ``max_block_rows`` selects
    the branch. On the clean corpus (docs 100/101 duplicate docs 0/1)
    max(df) = 5 and the largest prefix block is 3, so a cap of 10
    takes the screen, a cap of 3 runs the exact check (which finds no
    offender) and None skips the guard. All three must return the same
    verified pairs, and the hot corpus must still raise: the screen
    only skips the exact check when it provably cannot fire."""
    rows = [(i, [f"s{i % 3}", f"t{i % 5}", f"u{i}"]) for i in range(12)]
    clean = _tok_df(spark, rows + [(100 + i, toks) for i, toks in rows[:2]])
    hot = _tok_df(spark, [(i, ["hot", f"u{i}"]) for i in range(30)])

    def pairs(cap):
        out = prefix_jaccard_pairs(clean, "id", "toks", 0.5, max_block_rows=cap)
        return sorted(map(tuple, out.collect()))

    screen = pairs(10)
    assert [p[:2] for p in screen] == [(0, 100), (1, 101)]
    assert screen == pairs(3) == pairs(None)
    with pytest.raises(HotPrefixTokenError, match="hot"):
        prefix_jaccard_pairs(hot, "id", "toks", 0.5, max_block_rows=10)


# ------------------------------------------------------------------ pmi


def test_pmi_known_values(spark, monkeypatch):
    monkeypatch.setattr(textanalysis, "_PMI_MIN_COUNT", 2)
    # corpus: "a b" x6, "a c" x2 -> bigrams: (a,b):6, (a,c):2, N=8
    docs = spark.createDataFrame(
        [(["a", "b"],)] * 6 + [(["a", "c"],)] * 2, "ft array<string>"
    )
    out = {
        (r["w1"], r["w2"]): (r["c12"], r["pmi"])
        for r in pmi_bigram_collocations(docs, "ft").collect()
    }
    import math

    # c(a,b)=6, c1(a)=8, c2(b)=6, N=8 -> pmi = ln(6*8/(8*6)) = 0
    assert out[("a", "b")][0] == 6
    assert out[("a", "b")][1] == pytest.approx(0.0)
    # c(a,c)=2, c1(a)=8, c2(c)=2 -> pmi = ln(2*8/(8*2)) = 0
    assert out[("a", "c")][1] == pytest.approx(0.0)
    # now a discriminative corpus: "x y" x4 plus unrelated "p q" x4
    docs2 = spark.createDataFrame(
        [(["x", "y"],)] * 4 + [(["p", "q"],)] * 4, "ft array<string>"
    )
    out2 = {
        (r["w1"], r["w2"]): r["pmi"]
        for r in pmi_bigram_collocations(docs2, "ft").collect()
    }
    # c(x,y)=4, c1(x)=4, c2(y)=4, N=8 -> pmi = ln(4*8/16) = ln 2
    assert out2[("x", "y")] == pytest.approx(math.log(2))


# ------------------------------------------------------------ tablediff


def test_checksum_diff_classifies_and_prunes(spark):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    right = (
        left.where(F.col("k") != 7)                      # 7 removed
        .withColumn("v", F.when(F.col("k") == 11, F.lit(-1)).otherwise(F.col("v")))
        .unionAll(spark.createDataFrame([(5000, 1)], "k long, v long"))  # added
    )
    changed, row_diff = checksum_diff(left, right, ["k"])
    diffs = {r["k"]: r["change_type"] for r in row_diff.collect()}
    assert diffs == {7: "removed", 11: "changed", 5000: "added"}
    # 3 touched keys -> at most 3 buckets flagged (phase-2 pruning)
    assert changed.count() <= 3


def test_checksum_diff_identical_tables_flag_nothing(spark):
    t = spark.range(0, 500).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    changed, row_diff = checksum_diff(t, t, ["k"])
    assert changed.count() == 0
    assert row_diff.count() == 0
