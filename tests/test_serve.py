"""The serve path's per-page scorer: ``score_pages_batch``'s one
``mapInArrow`` against the candidate-row composition it replaced
(extract → featurize → score_candidates → pick_model_price → left
join), the per-message duplicate-url semantics, and one registry
broadcast per stream."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.pricing import price_status, selected_price
from htmlentityextraction_spark.functions.text import get_domain
from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.operators import models as md
from htmlentityextraction_spark.streaming import serve

PAGES_SCHEMA = "url string, html string, updatedPrice double"


def _registry(spark):
    """a.com only: 'good' context is positive, 'bad' negative. Every
    training row has the same norm_location, so the model never splits
    on it and candidates with equal token bags get equal margins."""
    rows = [
        ("a.com", f"http://a.com/t/{i}", i % 2, 0.5, f"{10 + i}.25",
         "good price" if i % 2 else "bad price", "now")
        for i in range(40)
    ]
    cand = spark.createDataFrame(
        rows,
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    )
    return md.train_per_domain(
        md.featurize_candidates(cand), n_estimators=3, max_depth=2, min_doc_freq=2,
    ).collect()


def _composed_score_pages(pages, registry_rows):
    """The candidate-row composition ``score_pages_batch`` replaced."""
    pages = pages.withColumn("domain", get_domain(F.col("url")))
    cand = (
        ex.extract_candidates(pages, html_col="html", url_col="url", snippet_size=150)
        .withColumn("domain", get_domain(F.col("url")))
        .withColumn("norm_location", ex.norm_location())
        .withColumn("label", F.lit(0))
    )
    scored = md.score_candidates(md.featurize_candidates(cand), registry_rows)
    picked = md.pick_model_price(scored)
    out = pages.join(picked.select("url", "model_price"), "url", "left")
    out = out.withColumn("model_price", F.coalesce(F.col("model_price"), F.lit(-1.0)))
    return (
        out.withColumn("status", price_status(F.col("model_price"), F.col("updatedPrice")))
        .withColumn(
            "final_price",
            selected_price(F.col("status"), F.col("model_price"), F.col("updatedPrice")),
        )
        .select(
            "url", "domain", "model_price",
            F.col("updatedPrice").alias("pattern_price"), "status", "final_price",
        )
    )


FIXED_PAGES = [
    ("http://a.com/null", None, 5.0),
    ("http://a.com/empty", "", 5.0),
    ("http://a.com/none", "good price but no numbers here", 5.0),
    ("http://b.com/missing", "good price 12.50 now", 12.5),       # no model for b.com
    ("http://a.com/neg", "bad price 5.25 and 7.75 now", 5.25),    # all candidates negative
    ("http://a.com/tie1", "good price 12.50 or 99.10 now", 99.1),  # equal margins:
    ("http://a.com/tie2", "good price 99.10 or 12.50 now", 99.1),  # the larger candidate wins
    ("http://a.com/unparsed", "good price 1.2.3 now", 3.0),
    ("http://a.com/pos", "good price 42.00 now", 40.0),
]


def _generated_pages():
    words = ["good", "bad", "price", "now", "$", "or", "deal"]
    pages = []
    for i in range(40):
        ctx = " ".join(words[(i * 3 + j) % len(words)] for j in range(i % 5 + 1))
        dom = "a.com" if i % 4 else "b.com"
        html = f"{ctx} {i + 1}.{i % 100:02d} {words[i % 7]} {i * 7 % 300}.5 x"
        pages.append((f"http://{dom}/g/{i}", html, float(i + 1)))
    return pages


def test_fused_scorer_equals_candidate_row_composition(spark):
    reg = _registry(spark)
    pages = spark.createDataFrame(FIXED_PAGES + _generated_pages(), PAGES_SCHEMA).repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got_df = serve.score_pages_batch(pages, reg)
        want_df = _composed_score_pages(pages, reg)
        assert got_df.schema == want_df.schema
        got, want = sorted(got_df.collect()), sorted(want_df.collect())
    finally:
        spark.conf.set(key, prev)
    assert len(got) == len(FIXED_PAGES) + 40
    assert got == want
    by_url = {r.url: r for r in got}
    for url in ("null", "empty", "none"):
        assert by_url[f"http://a.com/{url}"].model_price == -1.0
    assert by_url["http://b.com/missing"].status == "missingModel"
    assert by_url["http://a.com/neg"].status == "allFalseCandids"
    assert by_url["http://a.com/tie1"].model_price == by_url["http://a.com/tie2"].model_price == 99.1
    assert by_url["http://a.com/unparsed"].model_price == -1.0
    assert by_url["http://a.com/pos"].model_price == 42.0
    assert by_url["http://a.com/pos"].status == "minorModelPatternConflict"


def test_duplicate_url_is_scored_per_message(spark):
    # two messages for one url in one batch each keep their own price;
    # the candidate-row composition gave both the argmax over the
    # union of their candidates (12.5)
    reg = _registry(spark)
    pages = spark.createDataFrame(
        [("http://a.com/dup", "good price 12.50 now", 12.5),
         ("http://a.com/dup", "bad price 40.25 now", 40.25)],
        PAGES_SCHEMA,
    ).coalesce(1)
    got = sorted((r.model_price, r.pattern_price, r.status)
                 for r in serve.score_pages_batch(pages, reg).collect())
    assert got == [(-1.0, 40.25, "allFalseCandids"), (12.5, 12.5, "modeledPatternEquals")]


def test_serve_stream_broadcasts_the_registry_once(spark, tmp_path):
    reg = _registry(spark)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for f in range(3):
        msgs = [(f'{{"url":"http://a.com/p/{f}-{i}","html":"good price {10 + i}.50 now",'
                 f'"price":{10 + i}.5,"updatedPrice":{10 + i}.5}}',) for i in range(5)]
        spark.createDataFrame(msgs, "value string").coalesce(1).write.mode("append").parquet(src)
    raw = spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).parquet(src)
    created = []
    original = SparkContext.broadcast

    def counting(sc, value):
        created.append(1)
        return original(sc, value)

    SparkContext.broadcast = counting
    try:
        holder = serve.serve_stream(spark, raw, reg, out)
        holder.await_done()
    finally:
        SparkContext.broadcast = original
    batches = [p for p in holder.query.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3
    assert len(created) == 1
    # every sink dir is readable, the ones no row reached included
    for sink, rows in (("historical", 15), ("realtime", 15), ("logs", 0), ("logs_corrupt", 0)):
        assert spark.read.parquet(os.path.join(out, sink)).count() == rows, sink


def test_serve_replayed_batch_overwrites_its_own_output(spark, tmp_path):
    # a restart after a batch's output was written but before its
    # commit replays that batch; its deterministic file names let it
    # overwrite its own files, so every sink still holds each message
    # once (append-mode writes would hold the replayed batch twice)
    from collections import Counter

    reg = _registry(spark)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for f in range(3):
        msgs = [(f'{{"url":"http://a.com/p/{f}-{i}","html":"good price {10 + i}.50 now",'
                 f'"price":{10 + i}.5,"updatedPrice":{10 + i}.5}}',) for i in range(5)]
        msgs += [(f'{{"url":"http://b.com/p/{f}","html":"bad price 3.25 now","updatedPrice":0.0}}',),
                 (f"{{broken {f}",)]
        spark.createDataFrame(msgs, "value string").coalesce(1).write.mode("append").parquet(src)

    def drain():
        raw = spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).parquet(src)
        holder = serve.serve_stream(spark, raw, reg, out)
        holder.await_done()
        return [p["batchId"] for p in holder.query.recentProgress if p["numInputRows"] > 0]

    assert drain() == [0, 1, 2]
    commits = os.path.join(out, "_checkpoint", "commits")
    os.remove(os.path.join(commits, "2"))
    crc = os.path.join(commits, ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert drain() == [2]

    def sink(name):
        return spark.read.parquet(os.path.join(out, name)).collect()

    hist, rt, logs = sink("historical"), sink("realtime"), sink("logs")
    urls = Counter(r.url for r in hist)
    assert len(urls) == 18 and set(urls.values()) == {1}
    assert Counter(rt + logs) == Counter(hist)
    assert {r.url for r in logs} == {f"http://b.com/p/{f}" for f in range(3)}
    corrupt = Counter(r.raw_payload for r in sink("logs_corrupt"))
    assert corrupt == Counter(f"{{broken {f}" for f in range(3))


def test_serve_counters_equal_the_oracle_counts_at_sf001(spark, tmp_path):
    """The stream_serve_pipeline pages at sf0.01, drained through
    ``serve_stream`` with the ``fit_once`` registry: the per-batch
    counters, summed, equal DuckDB counts over that query's oracle SQL
    (rows, the -1 and -2 sentinels, each status), and no message is
    corrupt."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as entry
    from htmlentityextraction_spark.queries import ml, serve_q

    sf = "/root/testdata/sf0.01"
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    serve_q._page_messages(spark, sf).write.parquet(src)
    raw = spark.readStream.schema("value string").parquet(src)
    holder = serve.serve_stream(spark, raw, ml.fit_once(spark, sf), out)
    holder.await_done()
    counts = ("rows", "corrupt", "no_candidate", "missing_model")
    got = {k: sum(m[k] for m in holder.metrics) for k in counts}
    status = Counter()
    for m in holder.metrics:
        status.update(m["status"])

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')")
    oracle = entry.oracle_sql()["stream_serve_pipeline"]
    rows, no_candidate, missing_model = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE model_price = -1.0),"
        f" count(*) FILTER (WHERE model_price = -2.0) FROM ({oracle})"
    ).fetchone()
    want_status = dict(con.execute(f"SELECT status, count(*) FROM ({oracle}) GROUP BY status").fetchall())
    assert got == {
        "rows": rows, "corrupt": 0, "no_candidate": no_candidate, "missing_model": missing_model,
    }
    assert dict(status) == want_status
