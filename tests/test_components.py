"""Connected-component cluster resolution: closure semantics,
convergence behavior, and the canonical-keep contract."""

from __future__ import annotations

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
