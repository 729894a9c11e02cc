"""The model query family's resource contract: a run leaves nothing
persisted behind, and the one thing kept across runs — the registry
rows ``queries/ml.fit_once`` memoizes in ``_REG_CACHE`` — comes back
the same from a cold fit."""

from __future__ import annotations

import __spark_entry__ as entry
from conftest import persistent_rdd_ids
from htmlentityextraction_spark.queries import ml

MODEL_QUERIES = (
    "model_registry_stats",
    "model_score_pick_price",
    "model_url_level_eval",
    "model_submodel_curve",
    "stream_serve_pipeline",
)


def test_model_queries_leave_nothing_persisted(spark, sf_dir):
    # start from an empty cache: other tests share this session
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    assert not persistent_rdd_ids(spark)
    for name in MODEL_QUERIES:
        entry.queries()[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not persistent_rdd_ids(spark)


def test_fit_once_cold_path_retrains_the_same_registry(spark, sf_dir, monkeypatch):
    warm = ml.fit_once(spark, sf_dir)
    monkeypatch.setattr(ml, "_REG_CACHE", {})
    cold = ml.fit_once(spark, sf_dir)
    assert cold is not warm
    assert [r.asDict() for r in cold] == [r.asDict() for r in warm]
    assert ml._REG_CACHE == {sf_dir: cold}
