"""Empty-input robustness: every major operator must return an empty
result with the right schema instead of raising — the behavior a
production pipeline hits on an empty partition, a filtered-out day,
or a cold-start stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import dedup as dd
from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.operators import models as md
from htmlentityextraction_spark.operators import similarity as sim
from htmlentityextraction_spark.operators import skew
from htmlentityextraction_spark.operators import temporal as tp


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_extraction_empty(spark):
    df = spark.createDataFrame([], "url string, html string")
    out = ex.extract_candidates(df)
    assert out.count() == 0
    assert set(out.columns) == {
        "url", "candidate", "location", "text_before", "text_after", "page_length"
    }


def test_dedup_tiers_empty(spark):
    docs = _empty_docs(spark)
    assert dd.exact_dedup(docs).count() == 0
    assert dd.minhash_lsh_pairs(docs).count() == 0
    assert dd.simhash_pairs(docs).count() == 0


def test_similarity_empty_corpus(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert sim.cosine_topk(emb, emb).count() == 0


def test_models_empty_candidates(spark):
    cand = spark.createDataFrame(
        [],
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    )
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(feats)
    assert reg.count() == 0
    # scoring with an empty registry -> everything gets the -2 sentinel
    some = md.featurize_candidates(spark.createDataFrame(
        [("d.com", "u", 0, 0.5, "1.00", "price", "now")],
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    ))
    picked = md.pick_model_price(md.score_candidates(some, reg))
    assert [r.model_price for r in picked.collect()] == [-2.0]


def test_asof_and_sessionize_empty(spark):
    probe = spark.createDataFrame([], "k long, pts date")
    build = spark.createDataFrame([], "k long, bts date, price double")
    assert tp.asof_join(probe, build, "k", "pts", "bts", ["price"]).count() == 0
    ev = spark.createDataFrame([], "user_id long, ts timestamp")
    assert skew.sessionize(ev).count() == 0


def test_round3_operators_empty(spark):
    from htmlentityextraction_spark.operators import llmprep as lp
    from htmlentityextraction_spark.operators.lmscore import bigram_doc_scores
    from htmlentityextraction_spark.sources import http as hs

    docs = spark.createDataFrame([], "doc_id long, text string, source string")
    packed = lp.pack_sequences(docs, budget=512)
    assert packed.count() == 0
    assert set(packed.columns) == {"grp", "bin_id", "n_docs", "bin_tokens", "first_doc", "last_doc"}

    bg = bigram_doc_scores(docs.drop("source"))
    assert bg.count() == 0
    assert set(bg.columns) == {"doc_id", "n_bigrams", "avg_logprob"}

    urls = spark.createDataFrame([], "url string")
    fetched = hs.fetch_pages(urls)
    assert fetched.count() == 0

    # whois over a null / unparseable payload: N/A fields, no crash
    bad = spark.createDataFrame(
        [("x.com", None), ("y.com", "not json")], "domain string, raw string"
    )
    rows = {r.domain: r for r in hs.whois_contacts(bad).collect()}
    assert rows["x.com"].registrant_full_name == "N/A"
    assert rows["y.com"].technical_phone_number == "N/A"
    assert rows["y.com"].contact_line.count(hs.RAW_DELIMITER) == 27


def test_stream_merge_into_empty_stream(spark, tmp_path):
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable
    from htmlentityextraction_spark.streaming import pipeline as sp

    topic = tmp_path / "topic"
    topic.mkdir()
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), key_col="user_id", num_buckets=4)
    tbl.create(
        spark.createDataFrame([], "user_id long, n_events long, sum_cents long, last_us long")
    )
    stream = sp.read_events_stream(spark, "unused", events_dir=str(topic))
    sp.stream_merge_into(stream, tbl).await_done()
    assert tbl.read().count() == 0


def test_mlx_fits_empty_input(spark):
    """Spark ML fits crash on empty datasets; the operators must
    instead return typed empty reports — the empty-day production
    shape (empty-fuzz axis, round 6)."""
    from htmlentityextraction_spark.operators import mlx

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label long")
    rf = mlx.random_forest_eval(emb)
    assert rf.count() == 0 and rf.columns == ["klass", "n", "accuracy"]
    svc = mlx.linear_svc_eval(emb)
    assert svc.count() == 0 and svc.columns == [
        "klass", "n", "accuracy", "overall_accuracy", "majority_share"
    ]
    pca = mlx.pca_project(emb)
    assert pca.count() == 0 and pca.columns == ["vec_id", "label", "proj_norm"]

    docs = spark.createDataFrame([], "doc_id long, text string")
    lda = mlx.lda_topics(docs)
    assert lda.count() == 0
    assert lda.columns == ["topic", "term_rank", "term_index", "term"]


def test_merge_table_schema_survives_noop_merge(spark, tmp_path):
    """A no-op merge batch (zero update rows — an empty stream
    trigger) must carry the recorded schema forward: before round 6
    it published a schema-less manifest, making the still-empty
    table unreadable."""
    from pyspark.sql import functions as F

    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    schema = "user_id long, n_events long"
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), key_col="user_id", num_buckets=4)
    tbl.create(spark.createDataFrame([], schema))
    empty_upd = spark.createDataFrame([], schema).withColumn("op", F.lit("upsert"))
    tbl.merge(empty_upd, combine={"n_events": "sum"})
    out = tbl.read()  # raised ValueError before the fix
    assert out.count() == 0
    assert out.columns == ["user_id", "n_events"]
