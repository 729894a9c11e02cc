"""Property tests for the training-data-pipeline operators (dedup,
similarity, text analysis) — the tiers whose sketches are rows-only in
the driver gate get their recall/precision contracts checked here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import dedup as dd
from htmlentityextraction_spark.operators import similarity as sim
from htmlentityextraction_spark.operators import textanalysis as ta
from htmlentityextraction_spark.functions.text import char_ngrams


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- exact dedup ---
def test_exact_dedup_keeps_min_id_per_fingerprint(spark):
    df = spark.createDataFrame(
        [
            (3, "Hello,  World!"),
            (1, "hello world"),  # same normalized text -> same fingerprint
            (2, "a different document entirely"),
        ],
        "doc_id long, text string",
    )
    out = dd.exact_dedup(df).select("doc_id").orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 2]


def test_exact_dedup_count_matches_distinct_fingerprints(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    deduped = dd.exact_dedup(docs)
    n_fp = docs.select(
        dd.normalized_fingerprint(F.col("text")).alias("fp")
    ).distinct().count()
    assert deduped.count() == n_fp


# --- minhash LSH: precision by construction, recall vs true jaccard ---
def test_minhash_lsh_recall_and_precision(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    threshold = dd._MINHASH_JACCARD
    found = dd.minhash_lsh_pairs(docs)
    found_pairs = {(r.id_a, r.id_b) for r in found.collect()}

    # exact ground truth: all-pairs char-shingle jaccard (500 docs -> fine)
    sh = docs.select(
        F.col("doc_id").alias("doc"), dd.char_shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    truth = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("j", inter / union)
        .filter(F.col("j") >= threshold)
    )
    true_pairs = {(r.id_a, r.id_b) for r in truth.collect()}

    # precision is exact: every emitted pair is verified with true jaccard
    assert found_pairs <= true_pairs
    # recall: banded LSH (16 bands x 4 rows) at j >= 0.5 should catch
    # nearly everything; require >= 80% and at least one real pair found
    assert true_pairs, "fixture should contain near-duplicate documents"
    recall = len(found_pairs) / len(true_pairs)
    assert recall >= 0.8, f"minhash recall {recall:.2f} < 0.8"


# --- simhash ---
def test_simhash_identical_docs_hamming_zero(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely unrelated text about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    rows = dd.simhash_pairs(df).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in rows} == {(1, 2, 0)}


def test_simhash_pairs_respect_max_hamming(spark, sf_dir):
    rows = dd.simhash_pairs(_docs(spark, sf_dir)).collect()
    assert rows, "fixture should contain simhash near-dups"
    assert all(0 <= r.hamming <= 3 for r in rows)


# --- ANN recall vs brute force ---
def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.cosine_topk(emb, queries)
    approx = sim.ann_lsh_topk(emb, queries)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 6 tables x 6 bits + hamming-1 multiprobe on 64-dim synthetic
    # vectors (near-random, worst case for LSH): contract is "well
    # above random" (random 10-of-499 ~= 0.02) at a bounded candidate
    # fraction (~6*7/64 of corpus per query)
    assert recall >= 0.5, f"ANN recall {recall:.2f} < 0.5"


def test_cosine_topk_is_exact_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") == 0)
    got = sim.cosine_topk(emb, queries).orderBy("rank").collect()
    assert len(got) == 10
    assert [r.rank for r in got] == list(range(1, 11))
    # scores non-increasing
    scores = [r.cosine for r in got]
    assert scores == sorted(scores, reverse=True)
    assert all(r.neighbor_id != 0 for r in got)


# --- text analysis ---
def test_language_id_on_known_sentences(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the hat of a dog", "en"),
            ("der hund und die katze das ist gut", "de"),
            ("le chat et la maison les arbres des fleurs", "fr"),
            ("xyzzy qwerty plugh", "und"),
        ],
        "text string, expected string",
    )
    rows = df.select("expected", ta.language_id(F.col("text")).alias("got")).collect()
    for r in rows:
        assert r.got == r.expected, f"expected {r.expected}, got {r.got}"


def test_quality_score_bounds_and_ordering(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog went to a market of wonders "
                "and saw many things of great interest to all of them"),
            (2, "!!! ??? ,,, ;;; :::"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.q for r in df.select(
        "doc_id", ta.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= rows[2] < rows[1] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! It's nice.",)], "text string")
    r = df.select(
        ta.token_count_whitespace(F.col("text")).alias("ws"),
        ta.token_count_bpe_ish(F.col("text")).alias("bpe"),
    ).first()
    assert r.ws == 4
    # Hello , world ! It ' s nice . -> 9
    assert r.bpe == 9


def test_rolling_fingerprint_deterministic_and_shift_invariant(spark):
    df = spark.createDataFrame(
        [
            (1, "abcdefghij klmnop qrstuv"),
            (2, "abcdefghij klmnop qrstuv"),
            (3, "PREFIX abcdefghij klmnop qrstuv"),  # shifted content
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.fp for r in df.select(
        "doc_id", ta.rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert rows[1] == rows[2]
    # min-over-windows: adding a prefix keeps all original windows, so
    # the min can only stay equal or get smaller -> still a valid fp
    assert rows[3] <= rows[1]


def test_char_ngrams_reference_off_by_one(spark):
    # scala loop (utils/Utils.scala:40-52): i in 1 until len, keep when
    # i+n < len -> for "abcdef", n=2: bc, cd, de
    df = spark.createDataFrame([("abcdef",)], "s string")
    r = df.select(char_ngrams(F.col("s"), 2).alias("g")).first()
    assert r.g == ["bc", "cd", "de"]


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.cosine_topk(emb, queries)
    approx = sim.ann_ivf_topk(emb, queries)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing 6/16 KMeans cells on near-random 64-dim vectors; must be
    # far above random (~0.02) at ~40% of the scan cost
    assert recall >= 0.4, f"IVF recall {recall:.2f} < 0.4"


def test_ann_ivf_quantizer_fit_is_bounded(spark, sf_dir):
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    n = emb.count()
    cap = max(50, n // 4)
    fit = sim.quantizer_fit_frame(emb, cap, seed=42)
    n_fit = fit.count()
    # Bernoulli sample targets `cap` in expectation; 1.5x headroom
    assert n_fit <= cap * 1.5, f"quantizer fit {n_fit} rows > bound {cap * 1.5}"
    assert n_fit >= cap * 0.5, "sample too small to train a usable quantizer"
    # below the cap the whole frame is used untouched
    assert sim.quantizer_fit_frame(emb, n + 1, seed=42).count() == n


def test_quality_score_null_propagates(spark):
    df = spark.createDataFrame([(1, None), (2, "the cat and a dog of it")],
                               "doc_id long, text string")
    rows = {r.doc_id: r.q for r in df.select(
        "doc_id", ta.quality_score(F.col("text")).alias("q")).collect()}
    assert rows[1] is None, "null text must not get a quality score"
    assert rows[2] is not None


def test_cosine_zero_vector_yields_null_not_crash(spark):
    # ANSI mode: plain division would throw DIVIDE_BY_ZERO on an
    # all-zero embedding and kill the job
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    out = sim.cosine_topk(df, df).collect()
    # null-scored pairs are excluded: the zero-vec id appears in no
    # ranking, as query or neighbor; non-zero pairs still rank
    assert all(r.cosine is not None for r in out)
    pairs = {(r.query_id, r.neighbor_id) for r in out}
    assert pairs == {(2, 3), (3, 2)}


# --- sliding-window exact-substring dedup (Lee et al. 2022 shape) ---
@pytest.fixture
def window4(monkeypatch):
    monkeypatch.setattr(dd, "SUBSTR_WINDOW", 4)


def _span_rows(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = dd.exact_substring_spans(df)
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out.collect()
    )


def test_substring_spans_full_copy_marks_whole_later_doc(spark, window4):
    ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # doc 0 is the kept original (no span); doc 1 is a verbatim copy:
    # its 7 overlapping 4-token duplicate windows merge to one span 1..10
    assert _span_rows(spark, [ten, ten]) == [(1, 1, 10, 10)]


def test_substring_spans_within_doc_repeat(spark, window4):
    # the second half repeats the first 6 tokens: windows starting at
    # 7..9 duplicate windows 1..3 -> one merged span 7..12
    txt = "a b c d e f a b c d e f"
    assert _span_rows(spark, [txt]) == [(0, 7, 12, 6)]


def test_substring_spans_disjoint_repeats_stay_separate(spark, window4):
    shared = "one two three four"
    a = f"{shared} fa fb fc fd {shared}"
    # doc 0: tokens 1-4 original, tokens 9-12 repeat them -> span 9..12;
    # doc 1 embeds the same 4-gram once more -> its occurrence is a span
    b = f"pa pb {shared} pz"
    assert _span_rows(spark, [a, b]) == [(0, 9, 12, 4), (1, 3, 6, 4)]


def test_substring_spans_no_false_positives_on_unique_text(spark, window4):
    # letter-only tokens: tokenize() strips digits, so u1..u6 would
    # collapse to six copies of "u" and legitimately self-duplicate
    assert _span_rows(spark, ["ua ub uc ud ue uf", "va vb vc vd ve vf"]) == []


def test_substring_spans_short_docs_skipped(spark, window4):
    # below the window size no spans can exist (and no crash)
    assert _span_rows(spark, ["a b c", "a b c"]) == []


# --- SemDeDup cell blocking (semantic_dedup_pairs) ---
def _planted_frame(spark, dim=16, n_base=60, n_planted=8, seed=7):
    """Random base vectors plus n_planted near-identical pairs
    (cosine > 0.999) — the structure SemDeDup actually promises to
    catch. Returns (df, planted_pair_set)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.randn(n_base, dim)
    rows, planted = [], set()
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    nxt = n_base
    for j in range(n_planted):
        v = base[j]
        dup = v + 1e-3 * rng.randn(dim)
        rows.append((nxt, [float(x) for x in dup]))
        planted.add((j, nxt))
        nxt += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, planted


def test_semantic_dedup_pairs_planted_recall_one(spark, monkeypatch):
    # at threshold 0.9 only the planted near-identicals qualify
    # (random 16-dim pairs live near cosine 0); near-identical vectors
    # MUST quantize into the same cell, so recall is 1.0, and
    # within-cell cosine is exact, so precision is 1.0: found == planted
    monkeypatch.setattr(sim, "_DUP_COSINE", 0.9)
    df, planted = _planted_frame(spark)
    found = {
        (r.id_a, r.id_b)
        for r in sim.semantic_dedup_pairs(df, n_cells=4).collect()
    }
    assert found == planted


def test_semantic_dedup_pairs_one_cell_is_exact_truth(spark, sf_dir):
    # the contract query's truth side (n_cells=1) must equal an
    # expression-level exact all-pairs join — anchoring the harness
    emb = sim.valid_vectors(_emb(spark, sf_dir))
    got = {
        (r.id_a, r.id_b, r.cosine)
        for r in sim.semantic_dedup_pairs(emb, n_cells=1).collect()
    }
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    cos = F.round(sim.cosine(F.col("va"), F.col("vb")) + F.lit(1e-9), 6)
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .collect()
    }
    assert got == exact


# --- semantic admission gate (admission_best_match) ---
def test_admission_best_match_semantics(spark):
    u = [1.0, 0.0, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    nan = float("nan")
    corpus = spark.createDataFrame(
        [
            (1, "A", u),                        # near-dup target
            (2, "A", far),                      # orthogonal
            (3, "B", [0.0, 0.0, 1.0, 0.0]),
            (4, "A", [0.0, 0.0, 0.0, 0.0]),     # zero vector: matches nothing
            (5, "A", [nan, 1.0, 1.0, 1.0]),     # corrupt: must not veto
            (20, "D", [1.0, 1.0, 0.0, 0.0]),
            (21, "D", [1.0, 1.0, 0.0, 0.0]),    # tie with 20 -> smaller id wins
        ],
        "vec_id long, label string, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (10, "A", [0.999, 0.01, 0.0, 0.0]),  # ~cos 1 with id 1 -> rejected
            (11, "A", [0.1, 0.1, 0.9, 0.9]),     # best match weak -> admitted
            (12, "C", u),                        # no candidates -> admitted, NULLs
            (13, "A", [0.0, 0.0, 0.0, 0.0]),     # zero batch vec -> admitted, NULLs
            (14, "A", [nan, 0.0, 0.0, 0.0]),     # corrupt batch row -> dropped
            (15, "D", [1.0, 0.0, 0.0, 0.0]),     # ties 20/21 -> best_match_id 20
        ],
        "vec_id long, label string, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in sim.admission_best_match(corpus, batch, block_col="label").collect()
    }
    assert set(out) == {10, 11, 12, 13, 15}  # 14 dropped as corrupt
    assert out[10].best_match_id == 1 and not out[10].admitted
    assert out[10].best_cosine > 0.99
    assert out[11].admitted and out[11].best_cosine < 0.35
    assert out[11].best_match_id is not None  # weak match still reported
    assert out[12].best_match_id is None and out[12].admitted
    assert out[12].best_cosine is None
    assert out[13].best_match_id is None and out[13].admitted
    assert out[15].best_match_id == 20 and not out[15].admitted


# --- expression-form sketch helpers: equivalence to the codegen shapes ---
def test_minhash_signature_column_form_matches_codegen(spark, sf_dir, monkeypatch):
    """dd.minhash_signature (array-lambda form, for pre-hashed shingle
    arrays) and dd.minhash_signatures_codegen (the explode shape the
    LSH pipeline uses) are the SAME hash family over the SAME
    shingles — signatures must agree bit-for-bit."""
    from htmlentityextraction_spark.functions.text import text_only

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).limit(50)
    num_hashes, n = 16, dd._SHINGLE_N
    monkeypatch.setattr(dd, "_NUM_HASHES", num_hashes)  # a quicker sketch
    codegen = dd.minhash_signatures_codegen(docs)
    norm = F.lower(F.trim(text_only(F.col("text"))))
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("__norm") - F.lit(n - 1), F.lit(1))),
        lambda i: F.col("__norm").substr(i, F.lit(n)),
    )
    based = (
        docs.select(F.col("doc_id").alias("doc"), norm.alias("__norm"))
        .select("doc", dd.base_hashes(shingles).alias("__base"))
    )
    cols = dd.minhash_signature(F.col("__base"))
    expr_form = based.select(
        "doc", *[c.alias(f"sig_{i}") for i, c in enumerate(cols)]
    )
    a = {r["doc"]: tuple(r[f"sig_{i}"] for i in range(num_hashes)) for r in codegen.collect()}
    b = {r["doc"]: tuple(r[f"sig_{i}"] for i in range(num_hashes)) for r in expr_form.collect()}
    assert a == b and len(a) == 50


def test_simhash60_column_form_matches_codegen(spark):
    """dd.simhash60 (aggregate-lambda form) equals the explode+codegen
    vote accumulation used inside dd.simhash_pairs for the same token
    arrays."""
    from htmlentityextraction_spark.functions.text import tokenize

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "the quick brown fox jumps over the lazy cat"),
        ],
        "doc_id long, text string",
    )
    expr_form = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", dd.simhash60(tokenize(F.col("text"))).alias("sh")
        ).collect()
    }
    toks = docs.select(
        F.col("doc_id").alias("doc"), F.explode(tokenize(F.col("text"))).alias("__t")
    ).select("doc", dd._token_hash60(F.col("__t")).alias("__h"))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(dd.SIMHASH_BITS)
        ]
    )
    bits = [
        F.when(F.col(f"v_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(dd.SIMHASH_BITS)
    ]
    acc = bits[0]
    for c in bits[1:]:
        acc = acc + c
    codegen = {r.doc: r.sh for r in votes.select("doc", acc.alias("sh")).collect()}
    assert expr_form == codegen and len(expr_form) == 3


def test_semantic_dedup_pairs_oversize_cell_raises_loud(spark):
    """VERDICT r10 hygiene: a cell holding > 50k vectors must raise the
    explicit ValueError (executor-side, surfacing as a job failure
    whose message names the fix) instead of silently attempting the
    multi-GB n x n gram. n_cells=1 funnels everything into one cell."""
    import pytest

    n = 50_001
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.array((F.col("id") % 97).cast("double"), F.lit(1.0)).alias("embedding"),
        )
    )
    with pytest.raises(Exception, match="semantic_dedup_pairs: cell holds"):
        sim.semantic_dedup_pairs(df, n_cells=1).collect()
