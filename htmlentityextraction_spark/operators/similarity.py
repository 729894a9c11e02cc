"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline. The query matrix
  ships with the task closure; each corpus partition scores itself
  against ALL queries with one BLAS matrix multiply inside
  mapInPandas, emits its local top-k per query, and a tiny global
  rank merges the per-partition winners. The corpus crosses the
  Python boundary ONCE (Arrow-batched) — never materializing the
  |corpus| x |queries| pair table that an expression-level cross
  join would build. At 100 TB this is one embarrassingly-parallel
  scan; the shuffle is only partitions x queries x k winner rows.
- LSH-bucketed ANN: random-hyperplane signature buckets; queries only
  probe their own bucket (plus multiprobe neighbors at distance 1).
  Bucketing is the same single-pass numpy shape: signatures for all
  tables come from one (batch x dim) @ (dim x tables*bits) multiply.
- IVF-flat ANN: KMeans coarse quantizer (fit on a BOUNDED sample),
  cell-pruned exact rerank.

Scalar-expression forms (`cosine`, `_dot`, `_norm`) stay for
pair-column contexts (e.g. the blocked near-dup join) where the pair
table is already small and a JVM expression avoids the Arrow hop.

Reference parity: the reference has no vector search at all — this is
the training-data-pipeline extension family (BASELINE.json north
star); outputs are oracle-checked against DuckDB list_cosine_similarity
and recall-contract-tested against the exact baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from htmlentityextraction_spark.functions.pricing import MAX_ABS_MEASURE

# Queries are collected to the driver and shipped in the task closure
# (the broadcast-dim-join shape). A query batch beyond this cap means
# the caller wants a pair join / ANN index, not a broadcast scan.
MAX_QUERY_BATCH = 10_000

# Neighbors per query of the three top-k searches.
_TOP_K = 10
# ann_lsh_topk's hyperplane tables: the embedding dimension they span,
# signature bits per table and the number of tables.
_LSH_DIM = 64
_LSH_BITS = 6
_LSH_TABLES = 6
# ann_ivf_topk's inverted lists and the nearest of them each query probes.
_IVF_CELLS = 16
_IVF_PROBE = 6
# The rounded cosine at which two embeddings are semantic duplicates
# (semantic_dedup_pairs) and a batch document is refused admission.
_DUP_COSINE = 0.35
# The IVF coarse quantizer: seed and bounded KMeans training sample.
_QUANTIZER_SEED = 42
_FIT_SAMPLE_CAP = 20_000
_KMEANS_ITERS = 25


# DuckDB-oracle twin of ``valid_vectors`` (interpolate with .format(c=col)).
VALID_VEC_SQL = (
    "{c} IS NOT NULL AND len({c}) > 0 AND len(list_filter({c},"
    f" x -> x IS NULL OR isnan(x) OR abs(x) >= {MAX_ABS_MEASURE:g})) = 0"
)


def valid_vectors(df: DataFrame) -> DataFrame:
    """Drop corrupt ``embedding`` rows at the operator boundary: NULL
    vectors, zero-length vectors, and vectors containing NULL,
    NaN, or out-of-domain elements (|x| >= 1e10 — the same corrupt-
    measurement bound as ``functions/pricing.finite_measure``; no
    real embedding component reaches ten billion). At 100 TB a failed
    encoder run WILL leave such rows, and without this guard they
    crash the numpy paths (``np.vstack`` over None), silently poison
    BLAS results, or collapse trained models: one 1e308 component
    drives LinearSVC's standardization to zero out the whole feature
    (found by the r8 fresh-seed mixed fuzz at sf0.1 — the RF's
    threshold splits shrugged the same poison off, the linear model
    could not). Dropping is the contract: a corrupt vector has no
    meaningful neighbors and no place in a training set. Oracles
    mirror it via ``VALID_VEC_SQL``."""
    c = F.col("embedding")
    return df.filter(
        c.isNotNull()
        & (F.size(c) > 0)
        & ~F.exists(
            c, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) >= F.lit(MAX_ABS_MEASURE))
        )
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM expression
    form — for already-joined pair columns). try_divide, not `/`:
    under ANSI mode (Spark 4 default) a single all-zero vector — a
    padding row, a dead image embedding — would throw DIVIDE_BY_ZERO
    and kill the whole job; null drops out of top-k rankings instead
    (desc ordering puts nulls last)."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _round6(x: np.ndarray) -> np.ndarray:
    """floor((x+1e-9)*1e6+0.5)/1e6 — the cross-engine-stable 6dp
    rounding used by every float oracle in this repo."""
    return np.floor((x + 1e-9) * 1e6 + 0.5) / 1e6


# DataType instance, not a DDL string: string return types parse via
# the active SparkContext, which doesn't exist when the Python worker
# re-imports this module.
@pandas_udf(DoubleType())
def _pair_cosine6(a: pd.Series, b: pd.Series) -> pd.Series:
    """Rounded cosine over pair rows (Arrow-batched numpy). Zero
    vectors yield NULL, mirroring try_divide."""
    if len(a) == 0:
        return pd.Series([], dtype="Float64")
    av = np.vstack(a.to_numpy()).astype(np.float64)
    bv = np.vstack(b.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", av, bv)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = num / (np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1))
    out = pd.Series(_round6(cos), dtype="Float64")
    out[~np.isfinite(cos)] = pd.NA
    return out


def _collect_query_matrix(queries: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    rows = queries.select(
        F.col("vec_id").cast("long").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).collect()
    if len(rows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch {len(rows)} exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}; "
            "use an ANN index or a pair join for bulk all-pairs scoring"
        )
    q_ids = np.array([r["qid"] for r in rows], dtype=np.int64)
    q_mat = (
        np.array([list(r["qv"]) for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    return q_ids, q_mat


def cosine_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-``_TOP_K`` neighbors per query (excluding self),
    deterministic tie-break on corpus id.

    Physical shape: per corpus partition, ONE (rows x dim) @
    (dim x n_queries) BLAS multiply + per-query local top-k (sorted on
    the already-rounded score with id tie-break, so the partition
    winners are exactly the global contenders); the global stage ranks
    only partitions x queries x k rows. No pair-table materialization,
    no per-element expression evaluation."""
    from pyspark.sql import Window

    spark = corpus.sparkSession
    k = _TOP_K
    corpus = valid_vectors(corpus)
    queries = valid_vectors(queries)
    out_ddl = "query_id long, neighbor_id long, cosine double"
    q_ids, q_mat = _collect_query_matrix(queries)
    if q_ids.size == 0:
        return spark.createDataFrame([], out_ddl + ", rank long")
    q_norms = np.linalg.norm(q_mat, axis=1)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            c_mat = np.vstack(pdf["cvec"].to_numpy()).astype(np.float64)
            c_norms = np.linalg.norm(c_mat, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (c_mat @ q_mat.T) / np.outer(c_norms, q_norms)
            rounded = _round6(cos)
            for j in range(q_ids.size):
                valid = np.isfinite(cos[:, j]) & (ids != q_ids[j])
                idx = np.nonzero(valid)[0]
                if idx.size == 0:
                    continue
                order = np.lexsort((ids[idx], -rounded[idx, j]))[:k]
                sel = idx[order]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(sel.size, q_ids[j], dtype=np.int64),
                        "neighbor_id": ids[sel],
                        "cosine": rounded[sel, j],
                    }
                )

    part_top = corpus.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    ).mapInPandas(local_topk, out_ddl)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        part_top.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (plain python RNG —
    reproducible across machines, shipped as task-closure constants)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _bucketize(
    df: DataFrame,
    planes: np.ndarray,
    tables: int,
    bits: int,
    id_out: str,
    vec_out: str,
    multiprobe: bool,
) -> DataFrame:
    """(id, vec) → exploded (id, vec, tbl, bucket) rows. All
    tables*bits signature bits come from one matrix multiply per
    Arrow batch; multiprobe additionally emits the `bits` hamming-1
    neighbor buckets per (row, table)."""
    weights = (1 << np.arange(bits)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_mat = np.vstack(pdf[vec_out].to_numpy()).astype(np.float64)
            signs = (v_mat @ planes.T) > 0  # (n, tables*bits)
            for t in range(tables):
                buckets = signs[:, t * bits : (t + 1) * bits] @ weights
                base = pd.DataFrame(
                    {
                        id_out: pdf[id_out].to_numpy(),
                        vec_out: pdf[vec_out],
                        "tbl": np.int32(t),
                        "bucket": buckets,
                    }
                )
                yield base
                if multiprobe:
                    for j in range(bits):
                        probe = base.copy()
                        probe["bucket"] = buckets ^ (1 << j)
                        yield probe

    return df.mapInPandas(
        gen, f"{id_out} long, {vec_out} array<double>, tbl int, bucket long"
    )


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-``_TOP_K``: exact rerank inside the query's LSH
    buckets across ``_LSH_TABLES`` independent hyperplane tables of
    ``_LSH_BITS`` bits (+ hamming-1 probe buckets per table). One
    table is rarely enough: per-bit collision prob for cosine θ is
    1−θ/π, so recall decays as pᵇ — L tables recover 1−(1−r)ᴸ.
    Candidate fraction ≈ tables·(1+bits)/2ᵇⁱᵗˢ of the corpus;
    bits/tables trade recall vs scan cost. Recall is contract-tested
    against cosine_topk in tests/test_llmdata.py.
    At 100 TB the (table, bucket) pair is the corpus partition key so
    each query probe is a partition-pruned read, not a scan."""
    from pyspark.sql import Window

    k, bits, tables = _TOP_K, _LSH_BITS, _LSH_TABLES
    corpus = valid_vectors(corpus)
    queries = valid_vectors(queries)
    planes = np.array(
        [p for t in range(tables) for p in hyperplanes(_LSH_DIM, bits, seed=42 + t)],
        dtype=np.float64,
    )
    c = _bucketize(
        corpus.select(
            F.col("vec_id").cast("long").alias("neighbor_id"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        ),
        planes, tables, bits, "neighbor_id", "cvec", multiprobe=False,
    )
    q = _bucketize(
        queries.select(
            F.col("vec_id").cast("long").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        ),
        planes, tables, bits, "query_id", "qvec", multiprobe=True,
    )
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine6("qvec", "cvec").alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())  # zero-vector pairs drop out
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantizer_fit_frame(c: DataFrame, cap: int, seed: int) -> DataFrame:
    """Bounded KMeans training input: a seeded Bernoulli sample sized
    ≈ cap rows (or the whole frame when it's already below cap). The
    boundedness is contract-tested — fitting the quantizer on the full
    corpus is the 100 TB job-killer this guards against."""
    n = c.count()
    return c.sample(False, cap / n, seed=seed) if n > cap else c


def _fit_kmeans_local(X: "np.ndarray", k: int, seed: int) -> "np.ndarray":
    """Driver-local Lloyd's with kmeans++ init over the (bounded)
    sample matrix. The sample is ≤ ``_FIT_SAMPLE_CAP`` rows by construction,
    so the fit is O(MB) driver work — replacing the distributed KMeans
    whose per-iteration job overhead dominated (measured 8.8 s of an
    11 s query at sf0.01 for a 16-centroid fit on ~2k vectors). This is
    the FAISS-style shape: train the coarse quantizer on a sample,
    ship centroids to workers as a closure constant."""
    rng = np.random.RandomState(seed)
    n = X.shape[0]
    if n == 0:
        return np.zeros((k, 0))
    centers = np.empty((min(k, n), X.shape[1]))
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for j in range(1, centers.shape[0]):
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers[j] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(1))
    x2 = (X**2).sum(1)
    for _ in range(_KMEANS_ITERS):
        d = x2[:, None] - 2.0 * (X @ centers.T) + (centers**2).sum(1)[None, :]
        assign = d.argmin(1)
        moved = 0.0
        for j in range(centers.shape[0]):
            pts = X[assign == j]
            if len(pts):
                nc = pts.mean(0)
                moved = max(moved, float(((nc - centers[j]) ** 2).sum()))
                centers[j] = nc
        if moved < 1e-12:
            break
    return centers


def ann_ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-flat ANN: a KMeans coarse quantizer partitions the corpus
    into ``_IVF_CELLS`` inverted lists; each query exact-reranks only
    its ``_IVF_PROBE`` nearest cells for its top ``_TOP_K`` —
    candidate fraction ≈ probe/cells of the corpus. At 100 TB the cell
    id is the write-time partition key (partition-pruned probes); the quantizer trains on a BOUNDED
    sample (≤ ``_FIT_SAMPLE_CAP`` rows) — a full-corpus multi-pass KMeans
    before any query runs would be the job-killer at scale, and
    quantizer quality needs only thousands of points per cell. This
    is the clustered-data complement to ann_lsh_topk: LSH needs no
    training but probes fixed hyperplane buckets; IVF adapts cells to
    the data distribution."""
    from pyspark.sql import Window

    k, n_cells, n_probe = _TOP_K, _IVF_CELLS, _IVF_PROBE
    corpus = valid_vectors(corpus)
    queries = valid_vectors(queries)
    c = corpus.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    sample = np.array(
        [
            list(r["cvec"])
            for r in quantizer_fit_frame(c, _FIT_SAMPLE_CAP, _QUANTIZER_SEED).collect()
        ],
        dtype=np.float64,
    )
    centers = _fit_kmeans_local(sample, n_cells, _QUANTIZER_SEED)
    c2 = (centers**2).sum(1)

    def assign_cells(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf["cvec"].to_numpy()).astype(np.float64)
            d = (M**2).sum(1)[:, None] - 2.0 * (M @ centers.T) + c2[None, :]
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"],
                    "cvec": pdf["cvec"],
                    "cell": d.argmin(1).astype(np.int32),
                }
            )

    c_assigned = c.mapInPandas(
        assign_cells, "neighbor_id long, cvec array<double>, cell int"
    )

    centroids = [list(map(float, ctr)) for ctr in centers]
    cent_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(i, v) for i, v in enumerate(centroids)], "cell int, centroid array<double>"
        )
    )
    q = queries.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    # rank cells per query by centroid distance, probe the top n_probe
    # (tiny frame: |queries| x n_cells rows — fold expression is fine)
    qc = q.crossJoin(cent_df).withColumn(
        "dist",
        F.aggregate(
            F.zip_with("qvec", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    probes = qc.withColumn("cr", F.row_number().over(wq)).filter(
        F.col("cr") <= n_probe
    ).select("query_id", "qvec", "cell")

    scored = (
        c_assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine6("qvec", "cvec").alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())  # zero-vector pairs drop out
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup_pairs(corpus: DataFrame, n_cells: int = 16) -> DataFrame:
    """SemDeDup-shaped semantic dedup: the bounded-sample KMeans
    quantizer blocks the corpus into cells, then each cell computes
    its EXACT pairwise cosine matrix (one BLAS gram matrix per cell
    inside applyInPandas) and emits pairs >= ``_DUP_COSINE`` as
    (id_a, id_b, cosine).

    This is the scale path for embedding near-dup: the pair space
    shrinks from O(n^2) to sum of cell sizes squared, and cell count
    grows with the corpus (n_cells ~ n/target_cell_size) so per-cell
    work stays constant — the label-blocked pair join
    (queries/llmdata.py embedding_neardup_pairs) is the fixture
    stand-in for exactly this blocking. Near-dup pairs land in the
    same cell with high probability because near-identical vectors
    quantize together; the residual cross-cell miss rate is the
    recall the contract query measures.
    """
    threshold = _DUP_COSINE
    corpus = valid_vectors(corpus)
    c = corpus.select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    if n_cells == 1:
        # the exact-truth degenerate: one cell holds everything, so
        # the quantizer fit (a count + sample collect + Lloyd's) and
        # the assignment pass would compute an unconditional constant
        assigned = c.withColumn("cell", F.lit(0).cast("int"))
    else:
        sample = np.array(
            [
            list(r["cvec"])
            for r in quantizer_fit_frame(c, _FIT_SAMPLE_CAP, _QUANTIZER_SEED).collect()
        ],
            dtype=np.float64,
        )
        centers = _fit_kmeans_local(sample, n_cells, _QUANTIZER_SEED)
        c2 = (centers**2).sum(1)

        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.vstack(pdf["cvec"].to_numpy()).astype(np.float64)
                d = (M**2).sum(1)[:, None] - 2.0 * (M @ centers.T) + c2[None, :]
                yield pd.DataFrame(
                    {"vid": pdf["vid"], "cvec": pdf["cvec"], "cell": d.argmin(1).astype(np.int32)}
                )

        assigned = c.mapInPandas(assign, "vid long, cvec array<double>, cell int")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        if n > 50_000:
            # A cell this large means the quantizer blocking degenerated
            # (or the n_cells=1 exact-truth path was pointed at a real
            # corpus): the n x n gram plus two triu index arrays is
            # multi-GB in ONE task and O(n^2) beyond. Fail loud instead
            # of silently attempting it — raise n_cells so per-cell
            # sizes stay bounded.
            raise ValueError(
                f"semantic_dedup_pairs: cell holds {n} vectors (> 50000); "
                "the exact per-cell gram is quadratic — increase n_cells "
                "so cells stay bounded (n_cells ~ n / target_cell_size)"
            )
        ids = pdf["vid"].to_numpy()
        M = np.vstack(pdf["cvec"].to_numpy()).astype(np.float64)
        norms = np.sqrt((M**2).sum(1))
        norms[norms == 0] = np.inf  # zero vectors match nothing
        N = M / norms[:, None]
        S = N @ N.T
        iu, ju = np.triu_indices(n, k=1)
        # threshold on the SAME 6dp half-up rounding every oracle uses
        # (_round6), so a boundary cosine lands on the same side in
        # both engines — np.round would banker's-round the .5 cases.
        cos6 = _round6(S[iu, ju])
        keep = cos6 >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "id_a": lo.astype("int64"),
                "id_b": hi.astype("int64"),
                "cosine": cos6[keep],
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        cell_pairs, "id_a long, id_b long, cosine double"
    )


def admission_best_match(
    corpus: DataFrame,
    batch: DataFrame,
    block_col: str,
) -> DataFrame:
    """Semantic admission gate for incremental ingestion: score every
    BATCH document against its block of the EXISTING corpus and admit
    it only when its best corpus match stays under ``_DUP_COSINE``.
    Returns one row per valid batch document:
    (id, best_match_id, best_cosine, admitted) — best_match_id /
    best_cosine are NULL when the block holds no corpus candidate
    (vacuously admitted). Ties break on the rounded cosine then the
    smallest candidate id, so the choice is deterministic cross-engine.

    This is the embedding-level twin of the exact-fingerprint probe
    (`operators/decontam.probe_batch`): the fingerprint gate rejects
    byte-near-identical re-crawls, this gate rejects semantic
    re-phrasings the fingerprint can never see. The 100 TB shape is
    asymmetric by design — the batch (a crawl increment, ≪ corpus) is
    broadcast; the corpus is scanned once, block-pruned, and never
    shuffled; only the |batch|-keyed score rows (bounded by
    batch × block candidates) move. ``block_col`` is the fixture's
    label here; at scale it is the LSH bucket / IVF cell the corpus
    is already indexed under (`semantic_dedup_pairs`' quantizer),
    which trades the exact-within-block guarantee for the measured
    recall of the blocking — the same contract the ANN family gates.

    Corrupt vectors are dropped on BOTH sides by ``valid_vectors``: a
    corrupt batch row has no meaningful neighbors (not admitted, not
    rejected — it simply isn't a candidate for the corpus), and a
    corrupt corpus row must not veto admission."""
    from pyspark.sql import Window

    c = valid_vectors(corpus).select(
        F.col("vec_id").cast("long").alias("cand_id"),
        F.col(block_col).alias("_block"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    b = valid_vectors(batch).select(
        F.col("vec_id").cast("long").alias("_bid"),
        F.col(block_col).alias("_block"),
        F.col("embedding").cast("array<double>").alias("bv"),
    )
    # Push the batch's block list into the corpus scan as a static
    # predicate: the join alone restricts rows AFTER the scan, but an
    # isin filter reaches the parquet reader (PushedFilters → row-group
    # stats / partition pruning), so a trickle batch touching a handful
    # of blocks reads a handful of blocks — the O(delta) shape the
    # fingerprint probe already has. The collect is batch-bounded
    # (distinct blocks ≤ batch rows, and batch ≪ corpus by contract);
    # the cap guards the degenerate every-block batch, where pruning
    # buys nothing and the filter would only bloat the plan.
    blocks = [
        r["_block"]
        for r in b.select("_block").distinct().limit(MAX_QUERY_BATCH + 1).collect()
    ]
    if len(blocks) <= MAX_QUERY_BATCH:
        c = c.filter(F.col("_block").isin(blocks))
    scored = c.join(F.broadcast(b), "_block").select(
        "_bid",
        "cand_id",
        F.round(cosine(F.col("bv"), F.col("cv")) + F.lit(1e-9), 6).alias("cosine"),
    )
    w = Window.partitionBy("_bid").orderBy(F.desc("cosine"), F.asc("cand_id"))
    best = (
        scored.filter(F.col("cosine").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("_bid", "cand_id", "cosine")
    )
    return (
        b.select("_bid")
        .join(best, "_bid", "left")
        .select(
            F.col("_bid").alias("vec_id"),
            F.col("cand_id").alias("best_match_id"),
            F.col("cosine").alias("best_cosine"),
            F.coalesce(
                F.col("cosine") < F.lit(_DUP_COSINE), F.lit(True)
            ).alias("admitted"),
        )
    )
