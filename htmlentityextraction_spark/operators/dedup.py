"""Deduplication operators for the 100 TB training-data pipeline.

Five tiers, cheapest first:

- exact:       md5 fingerprint of normalized text, keep-min-id.
- ngram-jaccard: token-set Jaccard within blocking keys (exact overlap
                 join — the verifier for the sketch tiers).
- minhash-lsh: char-shingle MinHash signatures, banded LSH bucketing,
               candidate pairs verified with true Jaccard.
- simhash:     64-bit token SimHash, banded hamming candidates.
- embedding:   cosine near-dup within blocking keys.

All columnar (sequence/transform/aggregate over arrays, xxhash64) —
no Python UDFs. At 100 TB: exact dedup is one shuffle on the
fingerprint; LSH tiers shuffle (doc → b band buckets), so the
candidate join is band-local and never materializes the O(n²) pair
space; blocking keys bound the verify joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import text_only

# Deterministic universal-hash family over the 31-bit Mersenne prime:
# operands stay < 2^31 so a*h+b < 2^62 — no long overflow under ANSI mode.
_P = (1 << 31) - 1

# MinHash sketch geometry (see minhash_lsh_pairs): 48 hashes in 12
# bands of 4 rows over 5-char shingles. Read at call time.
_NUM_HASHES = 48
_BANDS = 12
_SHINGLE_N = 5
# the verified-Jaccard floors of minhash_lsh_pairs and
# ngram_jaccard_pairs
_MINHASH_JACCARD = 0.5
_NGRAM_JACCARD = 0.8
# ngram_jaccard_pairs' blocking keys
_NGRAM_BLOCK = ("lang", "source")
# sorted_neighborhood_pairs: rows per neighborhood, blocking-prefix chars
_SNM_WINDOW = 4
_SNM_PREFIX = 2
# exact_substring_spans' window in tokens, shared with its DuckDB
# oracle: fixture scale; production corpora use ~50 tokens
SUBSTR_WINDOW = 8


def _hash_family(i: int) -> tuple[int, int]:
    # multipliers/offsets derived from splitmix-style constants, < 2^31
    a = ((0x9E3779B97F4A7C15 * (i + 1)) & (_P - 1)) | 1
    b = (0xBF58476D1CE4E5B9 * (i + 1)) & (_P - 1)
    return a, b


def normalized_fingerprint(text: Column) -> Column:
    """Exact-dedup key: md5 of lowercased letters-only text."""
    return F.md5(F.lower(F.trim(text_only(text))))


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative per normalized fingerprint."""
    fp = df.withColumn("fingerprint", normalized_fingerprint(F.col("text")))
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return fp.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def char_shingles(text: Column) -> Column:
    """Distinct char ``_SHINGLE_N``-gram shingles of normalized text."""
    norm = F.lower(F.trim(text_only(text)))
    length = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(_SHINGLE_N - 1), F.lit(1)))
    return F.array_distinct(
        F.when(
            length >= _SHINGLE_N,
            F.transform(idx, lambda i: norm.substr(i, F.lit(_SHINGLE_N))),
        ).otherwise(F.array(norm))
    )


def minhash_signatures_codegen(df: DataFrame) -> DataFrame:
    """(doc, sig_0..sig_{_NUM_HASHES-1}) of (doc_id, text) rows via
    explode + codegen, NOT
    array lambdas: Spark's higher-order functions (transform/
    aggregate) are interpreted per element — 64 transforms over
    ~500-shingle arrays measured ~100 s for 5000 docs at sf0.1. The
    explode shape runs every hash expression inside whole-stage
    codegen and the min() aggregates combine map-side, so the shuffle
    is ``_NUM_HASHES`` longs per doc regardless of document length.
    MinHash over a multiset equals MinHash over the set, so no
    distinct is needed before the min.

    NULL-text docs are dropped first: xxhash64(NULL) is a CONSTANT,
    so every null doc would otherwise share one signature and the
    whole null population would LSH into a single mega-bucket of
    spurious jaccard-1.0 pairs (observed under the null fuzz: 10 null
    docs → 45 extra pairs). No text, no shingles, no pairs."""
    df = df.filter(F.col("text").isNotNull())
    norm = F.lower(F.trim(text_only(F.col("text"))))
    grams = df.select(F.col("doc_id").alias("doc"), norm.alias("__norm")).select(
        "doc",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("__norm") - F.lit(_SHINGLE_N - 1), F.lit(1)))
        ).alias("__i"),
        "__norm",
    ).select(
        "doc",
        F.pmod(
            F.xxhash64(F.col("__norm").substr(F.col("__i"), F.lit(_SHINGLE_N))), F.lit(_P)
        ).alias("__h"),
    )
    aggs = []
    for i in range(_NUM_HASHES):
        a, b = _hash_family(i)
        aggs.append(
            F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(_P))).alias(f"sig_{i}")
        )
    return grams.groupBy("doc").agg(*aggs)


def minhash_signature(base: Column) -> list[Column]:
    """``_NUM_HASHES`` MinHash values from a pre-hashed shingle array (one
    xxhash64 pass; see base_hashes) + a universal-hash family. `base`
    MUST be a materialized column reference, not an inline expression:
    it is referenced ``_NUM_HASHES`` times, and CollapseProject would
    otherwise duplicate the shingle+hash work 64× (measured 300s vs 3s
    on 500 docs). Values are < P so a*h+b fits in a long (ANSI-safe)."""
    sig = []
    for i in range(_NUM_HASHES):
        a, b = _hash_family(i)
        sig.append(
            F.array_min(F.transform(base, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P))))
        )
    return sig


def base_hashes(shingles: Column) -> Column:
    """One xxhash64 per shingle, reduced mod P (ANSI-overflow-safe)."""
    return F.transform(shingles, lambda g: F.pmod(F.xxhash64(g), F.lit(_P)))


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) of (doc_id, text) rows via
    banded MinHash-LSH, verified with true shingle Jaccard
    >= ``_MINHASH_JACCARD``.

    The sketch geometry is 48 hashes in 12 bands of 4 rows: the
    4-row band width sets the detection curve's shape, so vs the
    previous 64/16 the per-band hit probability is unchanged and only
    the number of independent chances drops (P(detect) at j=0.6:
    0.81 vs 0.89; at j>=0.8 both are >0.996) — while the signature
    stage, the dominant cold cost, does 25% less hashing (measured
    13.5 s -> 7.3 s cold at sf0.1, identical verified pair set; the
    exact-verify stage keeps precision 1.0 regardless).

    Shape: docs → (doc, band, bucket) explode (b SLIM rows/doc — ids
    and hashes only, never the shingle arrays: exploding payloads
    multiplies the band-join shuffle by b×|payload|, measured 5× wall
    time at sf0.1) → self-join on (band, bucket) → distinct candidate
    pairs → join shingles back for just the candidates → verify. The
    band join is the only shuffle that grows with corpus size; its
    keys are sketch hashes, so it spreads evenly (no skew from
    popular text).

    Eager: the signature frame is materialized with ``localCheckpoint``
    when this function is CALLED, not when the result is consumed — so
    building the returned DataFrame already runs the signature jobs,
    and a caller that composes but never acts on it still pays them.
    """
    rows_per_band = _NUM_HASHES // _BANDS
    # localCheckpoint, NOT cache(): both are one materialization within
    # a run (two consumers: the band explode and the packed-signature
    # filter), but a cache held at return is plan-keyed — a rebuilt
    # bench/oracle invocation in the same session re-hits it
    # (VERIFIED r13: bench runs 2-3 planned InMemoryTableScan over run
    # 1's blocks, 16.1 -> 3.0 s — cross-run caching, prohibited). A
    # localCheckpoint is per-run by construction (OPTIMIZATION_r13.md).
    sigs = minhash_signatures_codegen(df).localCheckpoint()
    banded = sigs.select(
        "doc",
        *[
            F.xxhash64(
                *[F.col(f"sig_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
            ).alias(f"band_{b}")
            for b in range(_BANDS)
        ],
    )
    bucketed = banded.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                    for b in range(_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    left = bucketed.select(F.col("doc").alias("id_a"), "band", "bucket")
    right = bucketed.select(F.col("doc").alias("id_b"), "band", "bucket")
    raw_cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Sketch pre-filter: a dense corpus can emit far more band
    # collisions than true near-dups (178k pairs for 5k docs at
    # sf0.1). Estimate jaccard as the fraction of equal signature
    # components and only exact-verify pairs estimated within margin
    # of the threshold. Signatures are PACKED into one array column
    # before the pair join — joining two 64-column tables pushed a
    # ~130-column projection through the planner (measured: most of
    # the query's cold-start was driver-side plan work, not
    # execution); the packed form joins 2 columns and compares with
    # one zip_with over the (small) candidate set, off the hot path.
    sig_arr = sigs.select(
        "doc", F.array(*[F.col(f"sig_{i}") for i in range(_NUM_HASHES)]).alias("sig")
    )
    est = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / float(_NUM_HASHES)
    cand = (
        raw_cand.join(sig_arr.select(F.col("doc").alias("id_a"), F.col("sig").alias("sa")), "id_a")
        .join(sig_arr.select(F.col("doc").alias("id_b"), F.col("sig").alias("sb")), "id_b")
        .withColumn("__est", est)
        .filter(F.col("__est") >= _MINHASH_JACCARD - 0.15)
        .select("id_a", "id_b")
        # tiny; reused for the id semi-join and both verify joins —
        # localCheckpoint for the same per-run reason as sigs above
        .localCheckpoint()
    )
    # Exact verify runs on HASHED shingle sets (array of longs), not
    # string arrays: 64-bit hashes make collisions negligible and
    # array_intersect over longs is ~10x cheaper than over strings.
    # Sets are built with the same explode+codegen shape as the
    # signatures, and ONLY for docs that appear in candidate pairs
    # (broadcast semi-join) — O(candidates), not O(corpus).
    cand_ids = (
        cand.select(F.col("id_a").alias("doc"))
        .union(cand.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    small = df.join(F.broadcast(cand_ids), df["doc_id"] == cand_ids["doc"], "left_semi")
    norm = F.lower(F.trim(text_only(F.col("text"))))
    n = _SHINGLE_N
    shingle_tbl = (
        small.select(F.col("doc_id").alias("doc"), norm.alias("__norm"))
        .select(
            "doc",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("__norm") - F.lit(n - 1), F.lit(1)))
            ).alias("__i"),
            "__norm",
        )
        .select("doc", F.xxhash64(F.col("__norm").substr(F.col("__i"), F.lit(n))).alias("__h"))
        .groupBy("doc")
        .agg(F.collect_set("__h").alias("shingles"))
    )
    # NOT cached although both verify joins (sh_a and sh_b) consume
    # it: r13 ABBA measured a tie (1.74 vs 1.70 s) — every verify join
    # already plans as a BroadcastHashJoin and the shingle build's
    # exchange is deduplicated by AQE ReusedExchange at runtime, so a
    # cache buys nothing (OPTIMIZATION_r13.md).
    verified = cand.join(
        shingle_tbl.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a")), "id_a"
    ).join(
        shingle_tbl.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        verified.withColumn("jaccard", F.round(inter / union + 1e-9, 6))
        .filter(F.col("jaccard") >= _MINHASH_JACCARD)
        .select("id_a", "id_b", "jaccard")
    )


# SimHash geometry: 60 bits (15 md5 hex chars per token hash) banded
# 4 x 15. The md5-prefix hash family is reproducible in ANY engine
# (DuckDB: CAST('0x'||substring(md5(t),1,15) AS BIGINT) == Spark:
# conv(substring(md5(t),1,15),16,10)), which is what lets the whole
# sketch pipeline be hash-gated against the DuckDB oracle instead of
# rows-only. xxhash64 would be ~faster per token but is Spark-private;
# md5 still runs JVM-side inside codegen.
SIMHASH_BITS = 60
_SIMHASH_BAND_BITS = 15
# the pair radius the 4 bands find completely (pigeonhole), shared
# with the DuckDB oracle
SIMHASH_MAX_HAMMING = 3


def _token_hash60(tok: Column) -> Column:
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash60(tokens: Column) -> Column:
    """60-bit SimHash of a token array: per bit, sign of Σ(±1) over
    token hashes; assembled into one BIGINT via sum of set bits.
    Columnar expression form (for small arrays); the pair operator
    uses the explode+codegen shape instead."""
    hashes = F.transform(tokens, _token_hash60)
    bit_cols = []
    for i in range(SIMHASH_BITS):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_cols.append(F.when(vote > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0)))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60 bits into 4×15-bit keys
    (any pair within hamming ≤ 3 of each other shares ≥1 exact band —
    pigeonhole), join per band, verify with bit_count(xor). The DuckDB
    oracle recomputes simhashes with the same md5 hash family and
    emits ALL pairs with hamming ≤ ``SIMHASH_MAX_HAMMING`` — so the gate also
    proves the banding loses nothing (pigeonhole completeness)."""
    from htmlentityextraction_spark.functions.text import tokenize

    # explode + codegen, same rationale as minhash_signatures_codegen:
    # 60 interpreted aggregate() lambdas per doc don't scale
    toks = df.select(
        F.col("doc_id").alias("doc"), F.explode(tokenize(F.col("text"))).alias("__t")
    ).select("doc", _token_hash60(F.col("__t")).alias("__h"))
    votes = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    bits = [
        F.when(F.col(f"v_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(SIMHASH_BITS)
    ]
    acc = bits[0]
    for c in bits[1:]:
        acc = acc + c
    sh = votes.select("doc", acc.alias("simhash"))
    bands = [
        F.shiftright("simhash", _SIMHASH_BAND_BITS * b).bitwiseAND(F.lit(0x7FFF)).alias(f"band_{b}")
        for b in range(4)
    ]
    banded = sh.select("doc", "simhash", *bands)
    bucketed = banded.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    left = bucketed.select(F.col("doc").alias("id_a"), F.col("simhash").alias("h_a"), "band", "bucket")
    right = bucketed.select(F.col("doc").alias("id_b"), F.col("simhash").alias("h_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.withColumn("hamming", hamming.cast("int")).filter(
        F.col("hamming") <= SIMHASH_MAX_HAMMING
    ).select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(df: DataFrame, max_block_rows: int = 100_000) -> DataFrame:
    """Exact token-set Jaccard pairs (>= ``_NGRAM_JACCARD``) within
    blocking keys — the SQL-expressible ground truth the sketch tiers approximate. The
    join is QUADRATIC within each block: this is the verifier for
    candidate sets / small blocks, NOT a corpus-wide dedup pass (use
    minhash_lsh_pairs for that). max_block_rows makes the misuse loud:
    any block larger than the cap fails the job with the offending key
    instead of silently launching an O(n²) shuffle."""
    from htmlentityextraction_spark.functions.text import tokenize

    toks = df.select(
        F.col("doc_id").alias("doc"),
        *[F.col(c) for c in _NGRAM_BLOCK],
        F.array_distinct(tokenize(F.col("text"))).alias("toks"),
    )
    if max_block_rows is not None:
        big = (
            toks.groupBy(*_NGRAM_BLOCK)
            .count()
            .filter(F.col("count") > max_block_rows)
            .limit(1)
            .collect()
        )
        if big:
            key = {c: big[0][c] for c in _NGRAM_BLOCK}
            raise ValueError(
                f"ngram_jaccard_pairs: block {key} has {big[0]['count']} rows "
                f"(> max_block_rows={max_block_rows}); quadratic verify would "
                "not scale — run a sketch tier (minhash_lsh_pairs) instead or "
                "raise the cap explicitly"
            )
    left = toks.select(
        F.col("doc").alias("id_a"), F.col("toks").alias("t_a"), *[F.col(c) for c in _NGRAM_BLOCK]
    )
    right = toks.select(
        F.col("doc").alias("id_b"), F.col("toks").alias("t_b"), *[F.col(c) for c in _NGRAM_BLOCK]
    )
    pairs = left.join(right, list(_NGRAM_BLOCK)).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("t_a", "t_b")).cast("double")
    union = F.size(F.array_union("t_a", "t_b")).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(inter / union + 1e-9, 6))
        .filter(F.col("jaccard") >= _NGRAM_JACCARD)
        .select("id_a", "id_b", "jaccard")
    )


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs: ids within ``_SNM_WINDOW``
    positions of each other in the sort order of a normalized
    blocking key (Hernandez & Stolfo's merge/purge method). NULL
    keys are dropped: they have no sort position (and a NULL=NULL
    block self-join matches nothing in SQL, so the oracle side
    already excludes them — null-fuzz aligned).

    Complements the hash-family blockers (minhash bands, simhash
    pigeonhole, trigram df-capped blocking): sorted-neighborhood
    catches near-keys that share a PREFIX but no complete hash
    bucket, at a guaranteed O(w·n) pair budget — no hot-block
    explosion is possible because each row pairs with at most w-1
    successors by construction.

    Scale shape: a truly global sort would funnel everything through
    one window partition, so the sort order is blocked by the key's
    first ``_SNM_PREFIX`` chars — one shuffle on the prefix, a
    per-block ordered window, and ``lead()`` columns exploded into
    pairs. Neighborhoods spanning a block boundary are traded away
    (standard multi-pass SNM recovers them by re-running with a
    second, shifted key; compose two calls for that).

    Returns (id_a, id_b, key_a, key_b) with id_a pairing to the next
    ``_SNM_WINDOW - 1`` rows in block order.
    """
    window = _SNM_WINDOW
    df = df.filter(F.col(key_col).isNotNull())
    w = (
        Window.partitionBy("__blk")
        .orderBy(F.col(key_col), F.col(id_col))
    )
    blocked = df.select(
        F.col(id_col),
        F.col(key_col),
        F.substring(F.col(key_col), 1, _SNM_PREFIX).alias("__blk"),
    )
    # window expressions cannot sit inside a generator's argument, so
    # materialize the lead structs first, then explode
    with_leads = blocked.select(
        F.col(id_col),
        F.col(key_col),
        *[
            F.struct(
                F.lead(F.col(id_col), i).over(w).alias("id_b"),
                F.lead(F.col(key_col), i).over(w).alias("key_b"),
            ).alias(f"__lead{i}")
            for i in range(1, window)
        ],
    )
    leads = F.array(*[F.col(f"__lead{i}") for i in range(1, window)])
    return (
        with_leads.withColumn("__nbr", F.explode(leads))
        .filter(F.col("__nbr.id_b").isNotNull())
        .select(
            F.col(id_col).alias("id_a"),
            F.col("__nbr.id_b").alias("id_b"),
            F.col(key_col).alias("key_a"),
            F.col("__nbr.key_b").alias("key_b"),
        )
    )


def exact_substring_spans(docs: DataFrame) -> DataFrame:
    """Sliding-window exact-substring duplicate spans — the
    suffix-array dedup of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022) re-expressed for Spark: every
    ``SUBSTR_WINDOW``-token substring (stride 1) that occurs MORE THAN ONCE
    in the corpus marks a duplicated region; the first occurrence
    (ordered by (doc_id, pos)) is the kept original, every later
    occurrence is a duplicate window, and overlapping duplicate
    windows per doc are merged into maximal spans (the removable
    regions). Complements ``segment_dedup_keep_first`` (non-
    overlapping segments — cheaper, but a duplicate straddling a
    segment boundary escapes it); stride-1 windows catch ANY
    ``SUBSTR_WINDOW``-token repeat at any alignment, which is the property
    the suffix-array construction buys and a 15-token grid does not.

    Scale shape: no suffix array and no global sort of text —
    one explode to (docs × positions) rows carrying only an 8-byte
    xxhash64 plus the window text for collision safety, one shuffle
    partitioned on (hash, window) for the global occurrence rank,
    one doc-partitioned window for the island merge. At 100 TB the
    window column can be dropped from the shuffle (hash-only, with a
    second verify pass on colliding groups) to keep the exchange
    narrow; duplicate groups are popularity-bounded, not corpus-
    bounded.

    Returns one row per merged duplicate span:
    (doc_id, span_start, span_end, span_tokens), 1-based inclusive
    token positions.
    """
    from htmlentityextraction_spark.functions.text import tokenize

    window = SUBSTR_WINDOW
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    base = (
        docs.select(F.col("doc_id"), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") >= window)
    )
    wins = base.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - window + 1),
                lambda i: F.array_join(F.slice("__toks", i, window), " "),
            )
        ).alias("__p0", "win"),
    ).select(F.col("doc_id"), (F.col("__p0") + 1).alias("pos"), "win")
    # global first-occurrence rank: hash dominates the partitioner,
    # the raw window rides along as the 64-bit collision guard
    occ = Window.partitionBy("__h", "win").orderBy("doc_id", "pos")
    dup = (
        wins.withColumn("__h", F.xxhash64("win"))
        .withColumn("__rk", F.row_number().over(occ))
        .filter(F.col("__rk") > 1)
        .select("doc_id", "pos")
    )
    # island merge: a duplicate window opens a new span iff it starts
    # past the furthest end seen so far in this doc
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window - 1).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.withColumn(
        "__new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn(
        "__isl", F.sum("__new").over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + window - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )
