"""Training-data preparation operators (BASELINE.json north star):
embedding normalization + int8 quantization, document chunking,
deterministic split assignment, weighted source mixing.

All columnar (array expressions + md5-prefix hashing) — deterministic
across engines and across reruns, which is the property data-prep at
100 TB actually needs (a rerun of the pipeline must produce the same
split/sample or training data silently drifts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import tokenize

# chunk_tokens' window and stride in tokens
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24
# source_mix's keep rate for sources its rates do not list
_DEFAULT_RATE = 0.25

def l2_normalize(vec: Column) -> Column:
    """v / ||v||2 (zero vectors pass through unchanged)."""
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(norm > 0, F.transform(vec, lambda x: x / norm)).otherwise(vec)


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Symmetric int8 quantization: scale = 127/max|v|; q_i =
    floor(v_i*scale + 0.5) (floor+0.5, NOT round — engines disagree on
    round() semantics for doubles). Returns (int array, scale)."""
    amax = F.aggregate(vec, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(amax > 0, 127.0 / amax).otherwise(F.lit(1.0))
    q = F.transform(vec, lambda x: F.floor(x * scale + 0.5).cast("int"))
    return q, scale


def chunk_tokens(df: DataFrame) -> DataFrame:
    """Token-window chunking with overlap (the context-window prep
    step) over (doc_id, text): doc → ceil((n-size)/stride)+1 chunks of
    ``_CHUNK_SIZE`` tokens starting every ``_CHUNK_STRIDE``. Short docs
    yield one chunk. Explode keeps
    it a narrow op — no shuffle; at 100 TB chunking happens in the
    same stage as the scan."""
    chunk_size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    base = df.select("doc_id", toks.alias("__toks"), F.size(toks).alias("n_tokens"))
    n = F.col("n_tokens")
    n_chunks = F.when(
        n <= chunk_size, F.lit(1)
    ).otherwise(F.ceil((n - F.lit(chunk_size)) / F.lit(float(stride))).cast("int") + 1)
    chunks = base.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        "__toks",
    )
    start = chunks.chunk_id * stride + 1
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.array_join(F.slice("__toks", start, chunk_size), " ").alias("chunk_text"),
        F.least(F.lit(chunk_size), F.col("n_tokens") - (F.col("chunk_id") * stride)).alias(
            "chunk_tokens"
        ),
    )


def split_assign(key: Column) -> Column:
    """Deterministic 75/12.5/12.5 train/val/test assignment from the
    first hex digit of md5(key): < 'c' → train, 'c'-'d' → val,
    >= 'e' → test. md5 is identical in every engine — the split
    survives engine swaps and reruns (unlike RNG splits)."""
    h = F.substring(F.md5(key), 1, 1)
    return F.when(h < "c", "train").when(h < "e", "val").otherwise("test")


def source_mix(
    df: DataFrame,
    rates_by_source: dict[str, float],
    key: Column,
) -> DataFrame:
    """Weighted source mixing: keep a deterministic md5-hash fraction
    of each ``source`` (the up/down-weighting step of corpus assembly).
    Rates are per-source keep probabilities in [0, 1];
    ``_DEFAULT_RATE`` applies to sources absent from the dict (a real
    corpus always has sources the mix plan never enumerated —
    text-fuzz aligned). NULL sources are never kept on either
    engine."""
    # two hex digits → 256 buckets; keep when bucket < rate*256
    bucket = F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("int")
    keep = F.lit(False)
    for src, rate in rates_by_source.items():
        keep = keep | ((F.col("source") == src) & (bucket < int(rate * 256)))
    keep = keep | (
        ~F.col("source").isin(list(rates_by_source))
        & (bucket < int(_DEFAULT_RATE * 256))
    )
    return df.filter(keep)


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
) -> DataFrame:
    """Deterministic per-group cap (domain rebalancing): keep the
    ``k`` rows with the smallest md5(doc_id) per group — an equal-
    probability without-replacement sample whose "random" order is
    the hash, so it is reproducible across engines, runs, and
    partitionings (``sampleBy`` is none of those). Adds
    ``sample_rank`` (1-based within the group).

    One shuffle on the group key; the window sort is by a 32-char
    digest so heavy groups cost O(n log n) in-partition. A group far
    bigger than a partition (one domain = half the corpus) needs the
    two-phase salted cap: hash-bucket each group, cap each bucket at
    k, then re-cap the ≤ salt*k survivors — same operator applied
    twice, so the building block here stays the right one.
    """
    rnd = F.md5(F.col("doc_id").cast("string"))
    win = Window.partitionBy(*group_cols).orderBy(rnd, "doc_id")
    return (
        df.withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= k)
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
) -> DataFrame:
    """Concat-and-cut sequence packing: within each ``source``, documents
    in deterministic ``doc_id`` order are laid head-to-tail and cut
    into fixed ``budget``-token training sequences; each document is
    attributed to the bin containing its first token. The packing
    step that turns a chunked corpus into dense fixed-length batches
    (no padding waste, unlike pad-per-doc).

    One window shuffle on the group key (running token offset), then
    the bin id is pure arithmetic — at 100 TB this is a single
    hash-partitioned sort per source, no driver state, and the
    assignment is reproducible because the order key is the id, not
    arrival order. Returns one row per (group, bin) with fill stats.
    """
    toks = F.filter(tokenize(F.col("text")), lambda t: t != "")
    base = df.select(
        F.col("source").alias("grp"),
        F.col("doc_id").alias("id"),
        F.size(toks).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("grp").orderBy("id")
    # integer DIV, not float /: exact for any budget (float division
    # is only exact for power-of-two budgets)
    binned = base.withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok")
    ).selectExpr("grp", "id", "n_tok", f"start_off div {int(budget)} as bin_id")
    return binned.groupBy("grp", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.min("id").alias("first_doc"),
        F.max("id").alias("last_doc"),
    )
