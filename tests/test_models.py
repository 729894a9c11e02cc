"""Unit + integration tests for the numpy GBT and the per-domain model
lifecycle (train via applyInPandas, registry, mapInPandas scoring,
argmax price pick)."""

from __future__ import annotations

import string
import warnings

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.gbt import GBTClassifier
from htmlentityextraction_spark.operators import models as md


# --- numpy GBT ---
def _separable(n=200, seed=7):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, 5)
    y = (X[:, 2] > 0.1).astype(float)
    return X, y


def test_gbt_fits_separable_data():
    X, y = _separable()
    m = GBTClassifier(n_estimators=10, max_depth=3).fit(X, y)
    assert (m.predict(X) == y).mean() >= 0.99


def test_gbt_deterministic_and_picklable():
    X, y = _separable()
    m1 = GBTClassifier(n_estimators=5, max_depth=2).fit(X, y)
    m2 = GBTClassifier(n_estimators=5, max_depth=2).fit(X, y)
    assert np.array_equal(m1.margin(X), m2.margin(X))
    m3 = GBTClassifier.from_bytes(m1.to_bytes())
    assert np.array_equal(m1.margin(X), m3.margin(X))


def test_gbt_margin_sign_matches_prediction():
    X, y = _separable()
    m = GBTClassifier(n_estimators=5, max_depth=2).fit(X, y)
    assert np.array_equal(m.predict(X), (m.margin(X) > 0).astype(np.int64))


def test_gbt_xor_needs_depth():
    # depth-2 interactions: xor is unlearnable by depth-1 stumps
    rng = np.random.RandomState(3)
    X = rng.randn(400, 2)
    y = ((X[:, 0] > 0) ^ (X[:, 1] > 0)).astype(float)
    deep = GBTClassifier(n_estimators=20, max_depth=3).fit(X, y)
    assert (deep.predict(X) == y).mean() >= 0.95


# --- url-grouped split ---
def test_url_grouped_split_no_leakage(spark):
    df = spark.range(1000).select(
        F.concat(F.lit("u"), (F.col("id") % 100).cast("string")).alias("url"),
        F.col("id").alias("x"),
    )
    train, test = md.url_grouped_split(df)
    tr = {r.url for r in train.select("url").distinct().collect()}
    te = {r.url for r in test.select("url").distinct().collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == 100
    assert 50 <= len(tr) <= 90  # ~70 of 100


# --- per-domain lifecycle ---
def _toy_candidates(spark, n_urls=40):
    # two domains; token 'good' marks the positive candidate of a url;
    # each url has one positive and one negative candidate
    rows = []
    for i in range(n_urls):
        dom = f"d{i % 2}.com"
        url = f"http://{dom}/p/{i}"
        rows.append((dom, url, 1, 0.25, f"{100+i}.50", "buy now good deal price", "great offer"))
        rows.append((dom, url, 0, 0.75, f"{200+i}.99", "footer copyright year", "terms apply"))
    return spark.createDataFrame(
        rows,
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    )


def test_train_score_pick_roundtrip(spark):
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(feats, n_estimators=5, max_depth=2, min_doc_freq=2)
    rows = reg.collect()
    assert {r.domain for r in rows} == {"d0.com", "d1.com"}
    assert all(r.train_f1 == 1.0 for r in rows), "separable toy data must fit perfectly"

    scored = md.score_candidates(feats, reg)
    picked = {r.url: r.model_price for r in md.pick_model_price(scored).collect()}
    for i in range(40):
        assert picked[f"http://d{i % 2}.com/p/{i}"] == 100 + i + 0.5


def test_score_missing_model_sentinel(spark):
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    # registry trained only on d0.com -> d1.com urls get sentinel -2.0
    reg = md.train_per_domain(
        feats.filter(F.col("domain") == "d0.com"),
        n_estimators=5, max_depth=2, min_doc_freq=2,
    )
    picked = md.pick_model_price(md.score_candidates(feats, reg))
    vals = {r.url: r.model_price for r in picked.collect()}
    assert all(v == -2.0 for u, v in vals.items() if "d1.com" in u)
    assert all(v >= 0 for u, v in vals.items() if "d0.com" in u)


def test_train_skips_single_class_and_tiny_domains(spark):
    cand = _toy_candidates(spark).filter(F.col("label") == 1)  # single class
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(feats, n_estimators=3, max_depth=2)
    assert reg.count() == 0


def test_margin_curve_and_prefix_selection():
    X, y = _separable()
    m = GBTClassifier(n_estimators=10, max_depth=2).fit(X, y)
    curves = m.margin_curve(X)
    assert curves.shape == (11, len(y))
    # full-model margin equals the last curve row
    assert np.allclose(curves[-1], m.margin(X))
    k, f1 = m.best_prefix_by_f1(X, y)
    assert 1 <= k <= 10 and 0.9 <= f1 <= 1.0
    # truncation reproduces the prefix margin exactly
    sub = m.truncate(k)
    assert np.allclose(sub.margin(X), curves[k])


def test_truncated_model_survives_pickle():
    X, y = _separable()
    m = GBTClassifier(n_estimators=6, max_depth=2).fit(X, y)
    sub = GBTClassifier.from_bytes(m.truncate(3).to_bytes())
    assert np.allclose(sub.margin(X), m.margin_curve(X)[3])


def test_class_union_vocab_mode(spark):
    # M4 (models/ModelR.scala:51-68): pos ∪ (neg − pos) selection must
    # still fit the separable toy data perfectly and yield a registry
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(
        feats, n_estimators=5, max_depth=2, min_doc_freq=2, vocab_mode="class_union",
    )
    rows = reg.collect()
    assert {r.domain for r in rows} == {"d0.com", "d1.com"}
    assert all(r.train_f1 == 1.0 for r in rows)
    # scoring with class-union indices roundtrips
    picked = {r.url: r.model_price for r in md.pick_model_price(
        md.score_candidates(feats, reg)).collect()}
    assert all(v >= 0 for v in picked.values())


def test_registry_parquet_roundtrip_serves_identically(spark, tmp_path):
    cand = _toy_candidates(spark)
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(feats, n_estimators=5, max_depth=2, min_doc_freq=2)
    d = str(tmp_path)
    md.save_registry(reg, d)
    reloaded = md.load_registry(spark, d)
    p1 = {r.url: r.model_price for r in md.pick_model_price(
        md.score_candidates(feats, reg)).collect()}
    p2 = {r.url: r.model_price for r in md.pick_model_price(
        md.score_candidates(feats, reloaded)).collect()}
    assert p1 == p2


# --- the serve path's Python featurize twin and top-k kernel ---
# context text: free unicode, plus letter-heavy text whose tokens often
# reach the 32-byte XXH64 stripe path
CONTEXT_TEXTS = st.one_of(
    st.text(max_size=60),
    st.text(alphabet=string.ascii_letters + " -é7", max_size=200),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(CONTEXT_TEXTS, CONTEXT_TEXTS), min_size=1, max_size=20))
@example([("a" * 31, "b" * 32), ("Q" * 33 + " " + "z" * 64, "x" * 100)])
@example([("", ""), ("12.50 $ ,. 7", "\n\t €"), ("Prix café naïve 日本 İstanbul", "ÀÉ price")])
def test_term_ids_py_matches_spark_featurize(spark, texts):
    rows = [("d", f"u{i}", 0, 0.5, "1.00", b, a) for i, (b, a) in enumerate(texts)]
    cand = spark.createDataFrame(
        rows,
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    )
    got = {r.url: r.term_ids for r in md.featurize_candidates(cand).collect()}
    tokens = [md.context_tokens(before, after) for before, after in texts]
    for i, toks in enumerate(tokens):
        assert md.term_ids_py(toks).tolist() == got[f"u{i}"]
    # the serve path hashes all candidates' tokens in one call
    flat = md.term_ids_py([t for toks in tokens for t in toks]).tolist()
    assert flat == [t for i in range(len(texts)) for t in got[f"u{i}"]]


_M64 = (1 << 64) - 1
_Q1, _Q2, _Q3, _Q4, _Q5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                          0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl64(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _round64(acc, lane):
    return _rotl64((acc + lane * _Q2) & _M64, 31) * _Q1 & _M64


def _xxh64_loop(data: bytes, seed: int = 42) -> int:
    """Scalar XXH64 (signed, as Spark's xxhash64), one word at a time:
    the loop reference for the numpy ``term_ids_py``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _Q1 + _Q2) & _M64, (seed + _Q2) & _M64, seed, (seed - _Q1) & _M64]
        while i <= n - 32:
            v = [_round64(a, int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
                 for j, a in enumerate(v)]
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round64(0, a)) * _Q1 + _Q4) & _M64
    else:
        h = (seed + _Q5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round64(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h, 27) * _Q1 + _Q4) & _M64
        i += 8
    if i <= n - 4:
        h ^= int.from_bytes(data[i:i + 4], "little") * _Q1 & _M64
        h = (_rotl64(h, 23) * _Q2 + _Q3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _Q5 & _M64), 11) * _Q1 & _M64
    h = (h ^ (h >> 33)) * _Q2 & _M64
    h = (h ^ (h >> 29)) * _Q3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(alphabet=string.ascii_letters, min_size=1, max_size=200), max_size=40))
def test_term_ids_py_matches_scalar_xxh64(tokens):
    got = md.term_ids_py(tokens)
    assert got.dtype == np.int64
    assert got.tolist() == [_xxh64_loop(t.encode()) % md.NUM_FEATURES for t in tokens]


def _dense_serving_matrix(term_ids, norm_location, idf, indices):
    """The dense num_features-wide serving formula the kernel replaces."""
    tf = np.zeros((len(term_ids), len(idf)), dtype=np.float64)
    for i, ids in enumerate(term_ids):
        if ids is not None and len(ids):
            np.add.at(tf[i], np.asarray(ids, dtype=np.int64), 1.0)
    tfidf = tf * idf
    return np.column_stack([tfidf[:, indices], np.asarray(norm_location, dtype=np.float64)])


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_selected_tfidf_equals_dense_formula(data):
    num_features = data.draw(st.integers(1, 60))
    ids = st.lists(st.integers(0, num_features - 1), max_size=30)
    term_ids = data.draw(st.lists(st.one_of(st.none(), ids), max_size=12))
    k = data.draw(st.integers(1, num_features))
    indices = np.asarray(data.draw(st.permutations(range(num_features)))[:k], dtype=np.int64)
    finite = st.floats(-1e6, 1e6, allow_nan=False)
    idf = np.asarray(data.draw(st.lists(finite, min_size=num_features, max_size=num_features)))
    norm_location = data.draw(st.lists(finite, min_size=len(term_ids), max_size=len(term_ids)))
    got = md.selected_tfidf(
        [i for ids in term_ids if ids is not None for i in ids],
        [0 if ids is None else len(ids) for ids in term_ids],
        norm_location, idf, indices,
    )
    want = _dense_serving_matrix(term_ids, norm_location, idf, indices)
    assert got.shape == want.shape and got.dtype == want.dtype
    assert np.array_equal(got, want)


def test_fit_operators_infer_no_eval_type_warning(spark):
    # pandas-function eval types come from the applyInPandas call, not
    # from type hints: partial hints made pyspark warn on every build
    feats = md.featurize_candidates(_toy_candidates(spark))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        md.train_per_domain(feats)
        md.submodel_curve_per_domain(feats)
