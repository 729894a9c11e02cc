"""Empty-input robustness for the wave 6-10 operators: empty dims,
empty corpora, identical tables, and all-censored cohorts must return
empty/neutral results with the right schema instead of raising."""

from __future__ import annotations

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.bloomjoin import (
    bloom_build,
    bloom_prefilter,
    bloom_semi_join,
)
from htmlentityextraction_spark.operators.setjoin import prefix_jaccard_pairs
from htmlentityextraction_spark.operators.tablediff import checksum_diff
from htmlentityextraction_spark.operators.textanalysis import pmi_bigram_collocations


def test_bloom_empty_dim_filters_everything(spark):
    dim = spark.createDataFrame([], "dk long")
    fact = spark.range(0, 100).select(F.col("id").alias("fk"))
    words = bloom_build(dim, "dk")
    assert words.count() == 0
    assert bloom_prefilter(fact, "fk", words).count() == 0
    out = bloom_semi_join(fact, dim, "fk", "dk")
    assert out.count() == 0


def test_bloom_empty_fact(spark):
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))
    fact = spark.createDataFrame([], "fk long")
    assert bloom_semi_join(fact, dim, "fk", "dk").count() == 0


def test_setsim_empty_and_single_doc(spark):
    empty = spark.createDataFrame([], "id long, toks array<string>")
    out = prefix_jaccard_pairs(empty, "id", "toks", 0.7)
    assert out.count() == 0
    assert set(out.columns) == {
        "id_a", "id_b", "n_shared", "size_a", "size_b", "jaccard"
    }
    one = spark.createDataFrame([(1, ["a", "b"])], "id long, toks array<string>")
    assert prefix_jaccard_pairs(one, "id", "toks", 0.7).count() == 0


def test_pmi_empty_and_short_docs(spark):
    empty = spark.createDataFrame([], "ft array<string>")
    assert pmi_bigram_collocations(empty, "ft").count() == 0
    # single-token docs yield no bigrams
    shorts = spark.createDataFrame([(["a"],), ([],)], "ft array<string>")
    assert pmi_bigram_collocations(shorts, "ft").count() == 0


def test_tablediff_both_empty(spark):
    t = spark.createDataFrame([], "k long, v long")
    changed, diff = checksum_diff(t, t, ["k"])
    assert changed.count() == 0
    assert diff.count() == 0


def test_tablediff_one_side_empty(spark):
    left = spark.range(0, 20).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    right = spark.createDataFrame([], "k long, v long")
    changed, diff = checksum_diff(left, right, ["k"])
    rows = {r["k"]: r["change_type"] for r in diff.collect()}
    assert len(rows) == 20 and set(rows.values()) == {"removed"}
    assert changed.count() >= 1
