"""Quality contracts for the Spark ML extra models (M16-M19)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import mlx

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_random_forest_beats_baseline(spark):
    rows = {r.klass: r for r in mlx.random_forest_eval(_emb(spark)).collect()}
    assert set(rows) == {0, 1}
    # train accuracy must beat majority-class guessing on both classes
    assert rows[0].accuracy > 0.6 and rows[1].accuracy > 0.6


def test_linear_svc_runs_and_scores(spark):
    rows = {r.klass: r for r in mlx.linear_svc_eval(_emb(spark)).collect()}
    assert set(rows) == {0, 1}
    assert all(0.0 <= r.accuracy <= 1.0 for r in rows.values())
    assert rows[0].n + rows[1].n == 500
    # the r8 contract quantities: overall beats majority with margin,
    # no degenerate always-one-class collapse
    r0 = rows[0]
    assert r0.overall_accuracy >= r0.majority_share + 0.01
    assert all(r.accuracy >= 0.30 for r in rows.values())
    # overall is the n-weighted mean of the per-class recalls
    want = (rows[0].accuracy * rows[0].n + rows[1].accuracy * rows[1].n) / 500
    assert abs(r0.overall_accuracy - want) < 1e-4


def test_lda_topics_shape_and_vocab(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = mlx.lda_topics(docs).collect()
    # exploded shape: one row per (topic, ranked term), 3 topics x 5 terms
    assert len(rows) == 15
    assert {r.topic for r in rows} == {0, 1, 2}
    for r in rows:
        assert 1 <= r.term_rank <= 5
        assert isinstance(r.term, str) and r.term


def test_pca_projection_norm_bounded_by_vector_norm(spark):
    emb = _emb(spark)
    proj = mlx.pca_project(emb)
    full = emb.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"), F.lit(0.0), lambda a, v: a + v * v
            )
        ).alias("full_norm"),
    )
    rows = proj.join(full, "vec_id").collect()
    assert len(rows) == 500
    for r in rows:
        # projection onto an orthonormal basis can't exceed the norm
        assert r.proj_norm <= r.full_norm + 1e-6
    # and the 8 components must capture a nontrivial share on average
    avg_ratio = sum(r.proj_norm / r.full_norm for r in rows) / len(rows)
    assert avg_ratio > 0.2
