"""Connected-component cluster resolution: closure semantics,
convergence behavior, and the canonical-keep contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import persistent_rdd_ids
from htmlentityextraction_spark.operators import components as cc


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_transitive_chain_collapses_to_one_component(spark):
    # A-B, B-C: (A,C) never emitted, must still share a component.
    out = cc.connected_components(_pairs(spark, [(1, 2), (2, 3)]))
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_disjoint_clusters_stay_disjoint(spark):
    out = cc.connected_components(_pairs(spark, [(1, 2), (10, 11), (11, 12)]))
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert comp == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_long_path_converges(spark):
    # Path 0-1-2-...-9: worst-case diameter for min propagation.
    out = cc.connected_components(_pairs(spark, [(i, i + 1) for i in range(9)]))
    assert {r["component"] for r in out.collect()} == {0}


def test_reversed_and_duplicated_edges_are_normalized(spark):
    out = cc.connected_components(_pairs(spark, [(2, 1), (1, 2), (2, 3), (3, 3)]))
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_nonconvergence_bound_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        cc.connected_components(_pairs(spark, [(i, i + 1) for i in range(9)]), max_rounds=2)


def test_resolve_keeps_exactly_one_per_cluster_and_singletons(spark):
    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    out = cc.resolve_duplicate_clusters(docs, _pairs(spark, [(1, 2), (2, 5), (6, 7)]))
    rows = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (1, False),
        3: (3, True),
        4: (4, True),
        5: (1, False),
        6: (6, True),
        7: (6, False),
    }
    # exactly one keep per cluster
    keeps = out.filter("keep").groupBy("cluster_id").count().collect()
    assert all(r["count"] == 1 for r in keeps)


def test_checkpoint_storage_bounded_across_rounds(spark):
    # Per-round label checkpoints are freed once the fixpoint check
    # consumes them: the persistent-RDD residue of a run is constant
    # (edges + final labels), not proportional to the round count.
    long_chain = _pairs(spark, [(i, i + 1) for i in range(12)])
    short = _pairs(spark, [(1, 2)])

    def leftover(pairs) -> int:
        before = persistent_rdd_ids(spark)
        cc.connected_components(pairs).collect()
        return len(persistent_rdd_ids(spark) - before)

    assert leftover(long_chain) == leftover(short)


# ------------------------------------------- reliable checkpoint path


def _round_dirs(root: str) -> list[str]:
    import glob

    return glob.glob(os.path.join(root, "round-*"))


def test_connected_components_reliable_parity_and_bounded_files(spark, tmp_path):
    pairs = _pairs(spark, [(i, i + 1) for i in range(12)] + [(20, 21)])
    local = {r["node"]: r["component"] for r in cc.connected_components(pairs).collect()}
    d = str(tmp_path / "cc_ckpt")
    rel = {
        r["node"]: r["component"]
        for r in cc.connected_components(
            pairs, reliable_checkpoint_dir=d
        ).collect()
    }
    assert rel == local
    # one-round storage bound, durable flavor: after the run only the
    # FINAL round's cut remains (edges + every earlier round were
    # deleted as the loop advanced)
    assert len(_round_dirs(d)) == 1


def test_pagerank_reliable_parity_with_dangling_and_bounded_files(spark, tmp_path):
    # graph WITH a dangling sink (node 4) so the reliable path also
    # exercises the pseudo-edge/NULL-group machinery
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4)], "src long, dst long"
    )
    local = {r["node"]: r["rank"] for r in cc.pagerank(edges, iterations=6).collect()}

    def run_reliable(iters: int, d: str) -> dict:
        got = {
            r["node"]: r["rank"]
            for r in cc.pagerank(
                edges, iterations=iters, reliable_checkpoint_dir=d
            ).collect()
        }
        return got

    d6 = str(tmp_path / "pr6")
    rel = run_reliable(6, d6)
    assert set(rel) == set(local)
    for n in local:
        assert rel[n] == pytest.approx(local[n], abs=1e-12)
    # leftover files are ITERATION-INDEPENDENT and minimal: only what
    # the returned lazy frame still reads (verts + the last round's
    # aggregate) — the edge-scale cuts are freed inside the call,
    # never one dir per round
    d2 = str(tmp_path / "pr2")
    run_reliable(2, d2)
    assert len(_round_dirs(d6)) == len(_round_dirs(d2)) == 2


def test_pagerank_reliable_matches_local_on_copurchase_graph(spark, tmp_path):
    # the flagship pagerank query's exact edge construction at the
    # smoke SF: the reliable path must produce bit-identical 6-dp
    # ranks to the default localCheckpoint path
    from htmlentityextraction_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    half = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    edges = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def ranks(**kw) -> dict:
        out = cc.pagerank(edges, iterations=3, damping=0.85, **kw)
        return {
            r["l_partkey"]: r["rank"]
            for r in out.select(
                F.col("node").alias("l_partkey"),
                F.round(F.col("rank") + F.lit(1e-9), 6).alias("rank"),
            ).collect()
        }

    assert ranks() == ranks(
        reliable_checkpoint_dir=str(tmp_path / "pr_copurchase")
    )
