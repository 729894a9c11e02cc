"""Entity resolution: fuzzy string-match join.

The reference's AutoMatcher joins product candidates on hand-built
composite keys (`emr/AutoMatcher.scala:57-86`) — exact-key matching.
This operator is the fuzzy complement for DIRTY keys (typos, dropped
characters): match rows of two tables whose string keys are within a
small edit distance, without the O(n*m) cross join.

Scale shape: character-trigram blocking with PREFIX FILTERING (the
SSJoin/PPJoin family technique — Bayardo et al., WWW'07; Xiao et al.,
ED-Join):

1. names are padded with boundary sentinels before trigramming, so
   even sub-3-char keys own trigrams and boundary edits stay local
   ('ab' vs 'abc' share their boundary trigrams — without padding
   their trigram sets are disjoint and the pair is unreachable);
2. one edit changes at most 3 of a string's trigrams, so two names
   within distance d share >= max(|A|,|B|) - 3d trigrams; by the
   prefix-filter theorem the (3d+1) RAREST trigrams of each row
   (rarest under one global document-frequency order) must then
   intersect — so blocking only on each row's (3d+1)-rarest prefix
   keeps recall while structurally excluding hot trigrams ('the',
   'ion', shared prefixes) from blocking: a ubiquitous trigram has
   high df and survives into a row's prefix only when the row has
   nothing rarer, so no quadratic block can form unless the matching
   pairs themselves are quadratic;
3. candidates (ids sharing a kept trigram — an equi-join shuffled on
   the trigram) are verified with the exact Levenshtein filter.

Recall 1.0 under the 3-trigrams-per-edit model, verified against the
oracle's exhaustive cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# boundary sentinels: control chars that cannot appear in real keys
_PAD_L = "\x01\x01"
_PAD_R = "\x02\x02"
# the edit distance d a match may have
_MAX_DISTANCE = 1


def _trigrams(df: DataFrame, id_col: str, name_col: str) -> DataFrame:
    """Distinct (id, trigram) pairs over the sentinel-padded name: a
    length-L name yields L+2 windows, so every non-null name — even
    the empty string — owns at least two trigrams."""
    padded = F.concat(F.lit(_PAD_L), F.col(name_col), F.lit(_PAD_R))
    tri = F.explode(
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(__padded) - 2, 1)),"
                " i -> substring(__padded, i, 3))"
            )
        )
    )
    return df.select(F.col(id_col), padded.alias("__padded")).select(
        F.col(id_col), tri.alias("__tri")
    )


def _prefix_filter(tri: DataFrame, df_counts: DataFrame, id_col: str, keep: int) -> DataFrame:
    """Keep each row's ``keep`` rarest trigrams under the global
    (df, trigram) order. df_counts is df-per-trigram over BOTH sides
    (both sides must rank under the same total order for the prefix
    theorem to hold); it is distinct-trigram-sized, so the join
    broadcasts."""
    w = Window.partitionBy(id_col).orderBy(F.col("__df").asc(), F.col("__tri").asc())
    return (
        tri.join(F.broadcast(df_counts), "__tri")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= keep)
        .select(id_col, "__tri")
    )


def blocking_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_name: str,
    right_id: str,
    right_name: str,
) -> DataFrame:
    """Candidate (left_id, right_id) pairs from prefix-filtered
    trigram blocking — exposed separately so tests can assert the
    candidate count stays near-linear under adversarial shared-hot-
    trigram inputs."""
    lt = _trigrams(left, left_id, left_name)
    rt = _trigrams(right, right_id, right_name)
    df_counts = (
        lt.select("__tri")
        .unionAll(rt.select("__tri"))
        .groupBy("__tri")
        .agg(F.count("*").alias("__df"))
    )
    keep = 3 * _MAX_DISTANCE + 1
    lp = _prefix_filter(lt, df_counts, left_id, keep)
    rp = _prefix_filter(rt, df_counts, right_id, keep)
    return lp.join(rp, "__tri").select(left_id, right_id).distinct()


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_name: str,
    right_id: str,
    right_name: str,
) -> DataFrame:
    """(left_id, right_id, dist) for every pair with
    ``levenshtein(left_name, right_name) <= _MAX_DISTANCE``, computed
    via prefix-filtered trigram blocking + exact candidate
    verification (false positives impossible; recall per module
    docstring)."""
    cand = blocking_candidates(left, right, left_id, left_name, right_id, right_name)
    ln = left.select(left_id, F.col(left_name).alias("__ln"))
    rn = right.select(right_id, F.col(right_name).alias("__rn"))
    dist = F.levenshtein("__ln", "__rn")
    return (
        cand.join(ln, left_id)
        .join(rn, right_id)
        .filter(dist <= _MAX_DISTANCE)
        .select(left_id, right_id, dist.cast("long").alias("dist"))
    )
