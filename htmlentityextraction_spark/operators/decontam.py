"""Corpus-hygiene operators a training-data pipeline runs before
pretraining: benchmark decontamination, incremental (cross-corpus)
dedup, and boilerplate-segment removal.

The reference has no equivalent (its dedup surface stops at URL-level
keep-latest, `emr/SwapIDs.scala`); these extend the LLM-data family
(`operators/dedup.py`) with the ops run against a *held-out* set or an
*existing* corpus rather than within one batch.

All three are pure DataFrame compositions — tokenization and n-gram
construction use sequence/transform/slice array SQL (JVM-side, no
Python), and every join is either broadcast (held-out benchmark sets
are small by construction) or a single hash shuffle on a 64-bit gram
hash / fingerprint (never on raw text), which is the shape that holds
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from htmlentityextraction_spark.functions.text import tokenize

# decontamination gram length; the segment length of both segment
# passes; the doc frequency that makes a segment boilerplate
_NGRAM_N = 8
_SEG_LEN = 15
_BOILER_MIN_DOCS = 3

def word_ngrams(toks: Column, n: int) -> Column:
    """All space-joined word n-grams of a token array; empty array when
    the doc has fewer than ``n`` tokens. sequence+transform+slice keeps
    it JVM-side; the guard matters because Spark ``sequence(1, 0)``
    DESCENDS ([1, 0]) instead of returning empty."""
    k = F.size(toks) - F.lit(n - 1)
    return F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def segment_tokens(toks: Column, seg_len: int) -> Column:
    """Non-overlapping ``seg_len``-token segments (trailing partial
    segment kept) as space-joined strings."""
    n_seg = F.ceil(F.size(toks) / F.lit(seg_len)).cast("int")
    return F.when(
        n_seg >= 1,
        F.transform(
            F.sequence(F.lit(1), n_seg),
            lambda i: F.array_join(F.slice(toks, (i - F.lit(1)) * seg_len + F.lit(1), seg_len), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(train: DataFrame, heldout: DataFrame) -> DataFrame:
    """Benchmark decontamination: per train doc, the number of distinct
    word ``_NGRAM_N``-grams it shares with ANY held-out document, plus a
    0/1 ``contaminated`` flag (>= 1 hit).

    Scale shape: the held-out side (benchmark suites) is small by
    construction → its distinct gram-hash set is broadcast; the train
    side explodes grams map-side, hashes to a 64-bit key (narrow rows,
    never raw text on the wire), survives the broadcast semi-filter,
    and only the surviving (doc, gram-hash) pairs hit the one shuffle
    (groupBy doc). Docs with zero hits never shuffle at all.
    """
    n = _NGRAM_N
    h_grams = (
        heldout.select(F.explode(word_ngrams(tokenize(F.col("text")), n)).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    t_grams = train.select(
        F.col("doc_id"), F.explode(word_ngrams(tokenize(F.col("text")), n)).alias("g")
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    hits = (
        t_grams.join(F.broadcast(h_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_hits"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= 1).cast("int").alias("contaminated"),
        )
    )


def dedup_against_corpus(
    incoming: DataFrame,
    existing: DataFrame,
) -> DataFrame:
    """Incremental dedup: keep incoming docs whose normalized-text
    fingerprint appears nowhere in the existing corpus, then keep-min-id
    within the incoming batch itself.

    The existing-corpus fingerprint set is NOT broadcastable at 100 TB,
    so this is a shuffle anti-join on the 32-byte fingerprint — one
    shuffle, no raw text moved — followed by the same keep-first
    groupBy used by ``dedup.exact_dedup``.
    """
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint

    inc = incoming.withColumn("fingerprint", normalized_fingerprint(F.col("text")))
    ex_fp = existing.select(
        normalized_fingerprint(F.col("text")).alias("fingerprint")
    ).distinct()
    fresh = inc.join(ex_fp, "fingerprint", "left_anti")
    first = fresh.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return first.select("doc_id", "fingerprint")


def advance_dedup_index(
    index_tbl,
    corpus_tbl,
    from_version: int,
) -> dict:
    """Advance a (fingerprint → doc_id) dedup-index merge table from
    the corpus table's CHANGE FEED — the corpus-version-level half of
    incremental dedup (VERDICT r7 item 8): the fingerprint set a new
    batch probes is maintained at O(delta) cost, never by rescanning
    the corpus.

    ``table_changes`` reads ONLY buckets whose manifest paths differ
    between the two versions (copy-on-write manifest-diff pruning), so
    a trickle merge into a 100 TB corpus costs a handful of bucket
    reads here. Inserts/updates upsert the doc's new fingerprint;
    deletes (and fingerprint-changing updates) retire the old one. The
    feed is netted per fingerprint first — a doc deleted and another
    inserted with the same fingerprint inside one version window must
    collapse to a single live upsert, not a conflicting delete+upsert
    pair in one MERGE batch.

    The one-live-doc-per-fingerprint invariant is ENFORCED, not
    assumed: a caller who merges an unprobed batch straight into the
    corpus (bypassing ``dedup_batch_against_index``) gets a loud
    ``ValueError`` here instead of a silently wrong index. Two checks,
    both O(delta):

    - intra-window: >1 distinct live (upserted) doc per fingerprint
      inside the change window — a duplicate-carrying batch.
    - cross-window: a net-new fingerprint the index ALREADY maps to a
      different doc, with nothing in the window retiring that mapping
      — the older copy is still live in the corpus. Probed with the
      same bucket-transform pruning the merge itself uses, so the
      check reads only the index buckets the window's fingerprints
      land in.
    """
    ch = corpus_tbl.table_changes(from_version)
    window_desc = f"versions ({from_version}, latest]"
    old_fp, new_fp = "old_fingerprint", "new_fingerprint"
    # NULL fingerprints never enter the index (a fp-less doc indexes
    # nothing, retires nothing): without the filters, two null-fp docs
    # in one window would share the NULL groupBy group and trip the
    # duplicate check for docs that are not duplicates of each other.
    adds = (
        ch.filter(F.col("change_type").isin("insert", "update"))
        .filter(F.col(new_fp).isNotNull())
        .select(F.col(new_fp).alias("fingerprint"), F.col("doc_id"), F.lit("upsert").alias("op"))
    )
    drops = (
        ch.filter(
            (F.col("change_type") == "delete")
            | (
                (F.col("change_type") == "update")
                & ~F.col(old_fp).eqNullSafe(F.col(new_fp))
            )
        )
        .filter(F.col(old_fp).isNotNull())
        .select(F.col(old_fp).alias("fingerprint"), F.col("doc_id"), F.lit("delete").alias("op"))
    )
    net = (
        adds.unionByName(drops)
        .groupBy("fingerprint")
        .agg(
            F.min(F.when(F.col("op") == "upsert", F.col("doc_id"))).alias("__doc"),
            F.count_distinct(
                F.when(F.col("op") == "upsert", F.col("doc_id"))
            ).alias("__n_live"),
            F.max(F.col("op") == "delete").alias("__retired"),
        )
        .persist()
    )
    try:
        dup = net.filter(F.col("__n_live") > 1).limit(3).collect()
        if dup:
            raise ValueError(
                "dedup-index invariant violated: fingerprints with more than "
                f"one live doc in {window_desc} of "
                f"the corpus, e.g. {[r['fingerprint'] for r in dup]} — a batch was "
                "merged into the corpus without probing "
                "dedup_batch_against_index first"
            )
        fresh_ups = net.filter(
            F.col("__doc").isNotNull() & ~F.coalesce("__retired", F.lit(False))
        )
        bks = index_tbl.affected_buckets(fresh_ups)
        idx = index_tbl.read_buckets(bks).select(
            "fingerprint", F.col("doc_id").alias("__idx_doc")
        )
        clash = (
            fresh_ups.join(idx, "fingerprint")
            .filter(F.col("__idx_doc") != F.col("__doc"))
            .limit(3)
            .collect()
        )
        if clash:
            raise ValueError(
                "dedup-index invariant violated: the index already maps "
                f"fingerprint(s) {[r['fingerprint'] for r in clash]} to a different "
                f"live doc and nothing in {window_desc} retired the old "
                "mapping — the corpus now holds a duplicate merged without "
                "probing dedup_batch_against_index"
            )
        ops = net.select(
            "fingerprint",
            F.col("__doc").alias("doc_id"),
            F.when(F.col("__doc").isNotNull(), F.lit("upsert"))
            .otherwise(F.lit("delete"))
            .alias("op"),
        )
        return index_tbl.merge(ops)
    finally:
        net.unpersist()


def dedup_batch_against_index(
    batch: DataFrame,
    index_tbl,
) -> DataFrame:
    """Dedup an incoming batch against the LIVE corpus state via the
    fingerprint-index merge table: bucket-transform pruning reads only
    the index buckets the batch's fingerprints land in (O(batch), not
    O(corpus) — at production bucket counts a small batch touches a
    sliver of the index), then anti-join + keep-min-id within the
    batch. Returns the accepted (id, fingerprint) rows — the exact
    frame the caller merges into the corpus table, which keeps the
    index's one-live-doc-per-fingerprint invariant. NULL-text docs
    carry no fingerprint and are excluded (quality gates drop them
    upstream)."""
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint

    fps = batch.select(
        F.col("doc_id"), normalized_fingerprint(F.col("text")).alias("fingerprint")
    ).filter(F.col("fingerprint").isNotNull())
    bks = index_tbl.affected_buckets(fps)
    known = index_tbl.read_buckets(bks).select("fingerprint")
    fresh = fps.join(known, "fingerprint", "left_anti")
    return (
        fresh.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
    )


def segment_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Exact passage-level dedup: the FIRST global occurrence of each
    distinct ``_SEG_LEN``-token segment (order = (doc_id, pos)) is
    kept, every later repeat dropped — the within-corpus complement of
    ``boilerplate_segments`` (which drops by doc-frequency regardless
    of position). Emits per-doc accounting plus an md5 fingerprint of
    the reassembled deduped text, so downstream can verify the
    rewrite without shipping full text through the gate.

    Scale shape: one shuffle partitioned on the 64-bit segment hash
    for the first-occurrence rank (the raw segment rides along only
    for the hash-collision guard and reassembly), then one shuffle on
    doc_id for the rollup. Duplicate groups are tiny (how many times
    can one passage repeat), so the per-key sort inside the window is
    bounded.
    """
    segs = docs.select(
        F.col("doc_id"),
        F.posexplode(segment_tokens(tokenize(F.col("text")), _SEG_LEN)).alias("pos", "seg"),
    ).withColumn("sh", F.xxhash64("seg"))
    # Partition on (sh, seg): the hash dominates the partitioner for
    # balance; the raw segment keeps a 64-bit collision from merging
    # two different segments into one dedup group.
    win = Window.partitionBy("sh", "seg").orderBy("doc_id", "pos")
    marked = segs.withColumn("keep", F.row_number().over(win) == 1)
    kept_struct = F.when(F.col("keep"), F.struct("pos", "seg"))
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
                " ",
            )
        ).alias("dedup_fp"),
    )


def boilerplate_segments(docs: DataFrame) -> DataFrame:
    """C4-style boilerplate removal at segment granularity: split each
    doc into consecutive ``_SEG_LEN``-token segments, count how many
    DISTINCT docs each segment occurs in corpus-wide, and drop segments
    seen in >= ``_BOILER_MIN_DOCS`` docs. Emits per-doc keep/drop accounting
    (the reassembled text is a deterministic function of the kept
    segments).

    Two hash shuffles on the 64-bit segment hash (global doc-frequency,
    then the join back) plus one on doc_id for the final rollup — no
    all-pairs step anywhere, so corpus size only scales the shuffles
    linearly.
    """
    segs = docs.select(
        F.col("doc_id"),
        F.posexplode(segment_tokens(tokenize(F.col("text")), _SEG_LEN)).alias("pos", "seg"),
    ).select(
        "doc_id",
        "pos",
        F.xxhash64("seg").alias("sh"),
        F.size(F.split("seg", " ")).alias("seg_toks"),
    )
    freq = segs.groupBy("sh").agg(F.count_distinct("doc_id").alias("df"))
    marked = segs.join(freq, "sh").withColumn(
        "is_boiler", (F.col("df") >= _BOILER_MIN_DOCS).cast("int")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum("is_boiler").cast("bigint").alias("n_boilerplate"),
            F.sum(F.when(F.col("is_boiler") == 0, F.col("seg_toks")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )
