"""One-decade scale probe: sf0.1 → sf1 for the three worst 0.01→0.1
scalers from SCALE_PROBE.md (`setsim_prefix_join_docs` ×3.09,
`pagerank_copurchase_parts` ×2.89, `exact_substring_dup_spans`
×2.58 per 10×). VERDICT r6 item 6.

The driver only ships sf ≤ 0.1, so the sf1 inputs are DERIVED from
sf0.1 by 10-fold replication with structure-preserving key/token
isolation (documented fixture, not driver data — ratios are the
point, not absolutes):

- ``lineitem``: replica i shifts l_orderkey by i*(max+1) and
  l_partkey by i*(max+1) → the co-purchase graph becomes 10 disjoint
  copies: 10× vertices, 10× edges, identical local structure (the
  TPC-H scaling shape: more orders/parts, same per-key cardinality).
- ``documents``: replica i shifts doc_id and applies a PER-REPLICA
  LETTER SUBSTITUTION CIPHER (a seeded bijection on a-z/A-Z;
  replica 0 is the identity, i.e. sf0.1 verbatim). A bijection on
  the alphabet maps every token and every char shingle 1:1, so
  WITHIN a replica all token-set and shingle-set structure — the
  same duplicate clusters, the same Jaccard values, bit-for-bit —
  is preserved, while ACROSS replicas tokens and shingles are
  images under different ciphers and collide only at noise level.
  The round-7 fixture instead SUFFIX-salted every word, which is
  sound for token operators but catastrophically wrong for char-
  shingle ones: every word ending in the same 2-char suffix lifts
  UNRELATED-doc shingle Jaccard from ~0.18 to ~0.52 (measured) —
  past the 0.5 near-dup threshold — so the sf1 corpus became one
  giant near-dup clique (44.6M verified pairs vs 256 at sf0.1) and
  the minhash probe measured a pathological workload the operator
  never claims. The cipher keeps per-replica pair counts at exactly
  sf0.1's, the honest 10× shape for every documents operator.

Run AFTER generation on an otherwise-idle box:
    python tools/sf1_probe.py --generate   # build /tmp/sf1_probe
    python tools/sf1_probe.py              # timed probe, prints JSON
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_probe"
PROBES = [
    "setsim_prefix_join_docs",
    "pagerank_copurchase_parts",
    "exact_substring_dup_spans",
    # r8 addition: next-worst 0.01→0.1 grower (×2.36), documents-only
    "dedup_minhash_lsh",
    # r9 additions (VERDICT r8 item 1): the merge-table/CDC family's
    # newest surface, previously unprobed beyond sf0.1 — orders-only
    "mergetable_cdc_changes",
    "incremental_dedup_via_cdc",
    # r9 new query (VERDICT r8 item 8) — embeddings + documents
    "semantic_dedup_keep_best",
    # r9 late addition: the embedding-level admission gate — its
    # oracle is hash-exact (no recall dependence), so the main
    # label-isolated fixture probes it directly
    "semantic_admission_gate",
    # r10 addition (VERDICT r9 item 2): the composed cell-blocked
    # semantic dedup. NOTE its registered form computes BOTH the
    # production path and the quadratic exact-truth harness (same
    # split as semantic_dedup_cells); SCALE_PROBE.md records the
    # production-only decade separately.
    "semantic_dedup_scale_pipeline",
]
REPLICAS = 10

# The ANN family probes a SEPARATE derived fixture (--generate-ann /
# --ann): the main fixture copies vectors VERBATIM per replica (the
# semantic-dedup pair-count isolation proof needs bit-identical
# within-replica cosines), but ANN ignores labels, so verbatim
# duplication makes recall@10 degenerate — the exact top-10 of any
# query collapses to ten identical-cosine copies of one vector and
# per-query recall becomes all-or-nothing on a single cell/bucket
# probe. The ANN fixture perturbs each replica's copies instead
# (seeded N(0, 0.05) per component, renormalized — cosine ~0.97 to
# the base): every base vector gains 9 strong near-dups, the
# structure a real crawl corpus has, and the exact top-10 is
# well-spread across cells.
ANN_DST = "/tmp/sf1_ann"
ANN_PROBES = [
    "similarity_cosine_topk",
    "similarity_ann_ivf",
    "similarity_ann_lsh",
]


def generate() -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(DST, exist_ok=True)

    li = pq.read_table(os.path.join(SRC, "lineitem.parquet")).combine_chunks()
    ok_shift = int(pc.max(li.column("l_orderkey")).as_py()) + 1
    pk_shift = int(pc.max(li.column("l_partkey")).as_py()) + 1
    parts = []
    for i in range(REPLICAS):
        t = li
        t = t.set_column(
            t.column_names.index("l_orderkey"),
            "l_orderkey",
            pc.add(t.column("l_orderkey"), i * ok_shift),
        )
        t = t.set_column(
            t.column_names.index("l_partkey"),
            "l_partkey",
            pc.add(t.column("l_partkey"), i * pk_shift),
        )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(DST, "lineitem.parquet"))

    import random
    import string

    docs = pq.read_table(os.path.join(SRC, "documents.parquet")).combine_chunks()
    id_shift = int(pc.max(docs.column("doc_id")).as_py()) + 1
    texts = docs.column("text").to_pylist()
    parts = []
    for i in range(REPLICAS):
        if i == 0:
            ciphered = docs.column("text")  # identity: sf0.1 verbatim
        else:
            perm = list(string.ascii_lowercase)
            random.Random(i).shuffle(perm)
            table = str.maketrans(
                string.ascii_lowercase + string.ascii_uppercase,
                "".join(perm) + "".join(perm).upper(),
            )
            ciphered = pa.array(
                [None if t is None else t.translate(table) for t in texts],
                type=docs.column("text").type,
            )
        t = docs.set_column(
            docs.column_names.index("doc_id"),
            "doc_id",
            pc.add(docs.column("doc_id"), i * id_shift),
        )
        t = t.set_column(t.column_names.index("text"), "text", ciphered)
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(DST, "documents.parquet"))

    # embeddings: vec_id shifts by the DOCUMENTS id_shift (the
    # semantic-dedup query joins vec_id = doc_id for quality, so the
    # two shifts must match), label shifts by (max_label+1) per
    # replica so cosine blocking never crosses replicas — near-dup
    # pairs at sf1 = exactly 10x sf0.1's (the isolation proof).
    # Vectors are copied verbatim: within a replica every cosine,
    # cluster, and keep-best choice is bit-identical to sf0.1.
    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet")).combine_chunks()
    lbl_shift = int(pc.max(emb.column("label")).as_py()) + 1
    parts = []
    for i in range(REPLICAS):
        t = emb.set_column(
            emb.column_names.index("vec_id"),
            "vec_id",
            pc.add(emb.column("vec_id"), i * id_shift),
        )
        t = t.set_column(
            t.column_names.index("label"),
            "label",
            pc.cast(pc.add(t.column("label"), i * lbl_shift), emb.column("label").type),
        )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(DST, "embeddings.parquet"))

    # orders: key-shifted replicas (same shape as lineitem) for the
    # merge-table/CDC probes. The modulo-class derivations in those
    # queries re-partition under shifted keys, but the oracle runs the
    # same SQL on the same fixture, so both sides stay aligned; the
    # +10M insert band stays clear of the 10x key domain (~6M).
    orders = pq.read_table(os.path.join(SRC, "orders.parquet")).combine_chunks()
    o_shift = int(pc.max(orders.column("o_orderkey")).as_py()) + 1
    parts = []
    for i in range(REPLICAS):
        t = orders.set_column(
            orders.column_names.index("o_orderkey"),
            "o_orderkey",
            pc.add(orders.column("o_orderkey"), i * o_shift),
        )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(DST, "orders.parquet"))
    print(
        f"wrote {DST}: lineitem x{REPLICAS} (key-shifted), "
        f"documents x{REPLICAS} (per-replica letter cipher), "
        f"embeddings x{REPLICAS} (vec_id doc-aligned, label-isolated), "
        f"orders x{REPLICAS} (key-shifted)"
    )


def generate_ann() -> None:
    """Build the ANN-shaped 10x embeddings fixture (see ANN_DST note)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(ANN_DST, exist_ok=True)
    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet")).combine_chunks()
    ids = np.asarray(emb.column("vec_id").to_pylist(), dtype=np.int64)
    id_shift = int(ids.max()) + 1
    vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float64)
    elem_type = emb.column("embedding").type.value_type
    parts = []
    for i in range(REPLICAS):
        if i == 0:
            v = vecs  # replica 0: sf0.1 verbatim
        else:
            rng = np.random.RandomState(1000 + i)
            v = vecs + 0.05 * rng.randn(*vecs.shape)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
        t = emb.set_column(
            emb.column_names.index("vec_id"),
            "vec_id",
            pa.array(ids + i * id_shift, type=emb.column("vec_id").type),
        )
        t = t.set_column(
            t.column_names.index("embedding"),
            "embedding",
            pa.array([row.astype(np.float64).tolist() for row in v],
                     type=pa.list_(elem_type)),
        )
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(ANN_DST, "embeddings.parquet"))
    print(f"wrote {ANN_DST}: embeddings x{REPLICAS} (per-replica perturbed copies)")


def ann_probe() -> int:
    """Decade timing (sf0.1 -> sf1) + driver-mirroring hash compare for
    the ANN family on the perturbed fixture. The recall CONTRACTS are
    what the hash gates — the meaningful question at 10x corpus is
    whether 6/16-cell IVF probing and 6-table multiprobe LSH still
    clear their floors when each cell/bucket holds 10x the vectors."""
    import subprocess

    from htmlentityextraction_spark.runner import timed_noop_write
    from htmlentityextraction_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("sf1-ann-probe")
    qs = entry.queries()
    out = {"loadavg_1m_at_start": round(os.getloadavg()[0], 2)}
    for name in ANN_PROBES:
        ts = {}
        for tag, d in (("sf0.1_s", SRC), ("sf1_s", ANN_DST)):
            runs = [timed_noop_write(lambda: qs[name](spark, d)) for _ in range(3)]
            ts[tag] = sorted(runs)[1]
        ts["ratio_per_10x"] = round(ts["sf1_s"] / ts["sf0.1_s"], 2)
        out[name] = ts
        print(f"# {name}: {ts}", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_correctness.py"),
        "--sf-dir",
        ANN_DST,
        *ANN_PROBES,
    ]
    return subprocess.call(cmd)


def probe(names: list[str] | None = None) -> None:
    from htmlentityextraction_spark.runner import timed_noop_write
    from htmlentityextraction_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("sf1-probe")
    qs = entry.queries()
    out = {"loadavg_1m_at_start": round(os.getloadavg()[0], 2)}

    def run(name: str, sf_dir: str) -> float:
        ts = [timed_noop_write(lambda: qs[name](spark, sf_dir)) for _ in range(3)]
        return sorted(ts)[1]  # median-of-3, run 1 absorbs warm-up

    for name in names or PROBES:
        t01 = run(name, SRC)
        t1 = run(name, DST)
        out[name] = {
            "sf0.1_s": t01,
            "sf1_s": t1,
            "ratio_per_10x": round(t1 / t01, 2),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def delta_ratio() -> None:
    """MEASURE the O(delta) contract at sf1 (VERDICT r8 item 1): a
    trickle merge into a big merge table must cost bucket reads
    proportional to the DELTA, not the table.

    Fixture: the sf1 orders (~6M rows) in a RANGE-bucketed table
    (Iceberg truncate transform, ~1000 buckets) — the natural
    ingestion shape where a trickle lands in a narrow key band. Three
    measured ratios, printed as one JSON line:

    - merge: 1%-key-band re-price → buckets rewritten / total buckets
      (manifest diff; expected ≈ the delta fraction).
    - CDC: ``table_changes`` over that step → parquet files OPENED
      (DataFrame.inputFiles) / table files (expected ≈ 2x the bucket
      ratio: old+new side of each changed bucket).
    - index probe: a 16-doc batch against a 256-bucket fingerprint
      index built from the sf1 documents → buckets read / total
      (expected ≤ 16/256, O(batch) not O(corpus)).
    """
    from htmlentityextraction_spark.operators import decontam as dc
    from htmlentityextraction_spark.operators.dedup import normalized_fingerprint
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable
    from htmlentityextraction_spark.session import get_spark
    from pyspark.sql import functions as F
    import shutil
    import tempfile

    spark = get_spark("sf1-delta-ratio")
    out = {"loadavg_1m_at_start": round(os.getloadavg()[0], 2)}
    base = tempfile.mkdtemp(prefix="sf1_delta_", dir="/tmp")
    try:
        orders = spark.read.parquet(os.path.join(DST, "orders.parquet")).select(
            "o_orderkey", F.col("o_totalprice").alias("price")
        )
        max_k = orders.agg(F.max("o_orderkey")).first()[0]
        width = max(max_k // 1000, 1)
        tbl = ParquetMergeTable(
            spark,
            os.path.join(base, "orders_tbl"),
            key_col="o_orderkey",
            bucketing="range",
            range_width=width,
        )
        t0 = time.time()
        tbl.create(orders)
        create_s = round(time.time() - t0, 2)
        total_buckets = len(tbl._read_manifest()["buckets"])
        total_files = tbl.files().count()

        lo = int(max_k * 0.99)  # top 1% key band = the trickle
        delta = orders.filter(F.col("o_orderkey") >= lo).select(
            "o_orderkey",
            (F.col("price") * 1.05).alias("price"),
            F.lit("upsert").alias("op"),
        )
        n_delta = delta.count()
        t0 = time.time()
        tbl.merge(delta)
        merge_s = round(time.time() - t0, 2)
        m1 = tbl._manifest_for(1)["buckets"]
        m2 = tbl._manifest_for(2)["buckets"]
        changed = [b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)]
        cdc = tbl.table_changes(1, 2)
        t0 = time.time()
        n_changes = cdc.count()
        cdc_s = round(time.time() - t0, 2)
        cdc_files = len(cdc.inputFiles())
        out["trickle_merge_orders_sf1"] = {
            "rows": orders.count(),
            "delta_rows": n_delta,
            "delta_fraction": round(n_delta / orders.count(), 4),
            "create_s": create_s,
            "merge_s": merge_s,
            "buckets_rewritten": len(changed),
            "total_buckets": total_buckets,
            "bucket_ratio": round(len(changed) / total_buckets, 4),
            "cdc_rows": n_changes,
            "cdc_s": cdc_s,
            "cdc_files_opened": cdc_files,
            "total_files": int(total_files),
            "cdc_file_ratio": round(cdc_files / total_files, 4),
        }

        docs = spark.read.parquet(os.path.join(DST, "documents.parquet")).select(
            "doc_id", "text"
        )
        fps = docs.select(
            "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
        ).filter(F.col("fingerprint").isNotNull())
        idx = ParquetMergeTable(
            spark, os.path.join(base, "fp_idx"), "fingerprint", num_buckets=256
        )
        idx.create(
            fps.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
            .select("fingerprint", "doc_id")
        )
        idx_files = idx.files().count()
        batch = docs.limit(16).withColumn(
            "text", F.concat(F.lit("fresh-"), F.col("text"))
        )
        t0 = time.time()
        accepted = dc.dedup_batch_against_index(batch, idx)
        n_acc = accepted.count()
        probe_s = round(time.time() - t0, 2)
        bfps = batch.select(
            "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
        ).filter(F.col("fingerprint").isNotNull())
        bks = idx.affected_buckets(bfps, "fingerprint")
        pruned_files = len(idx.read_buckets(bks).inputFiles())
        out["index_probe_docs_sf1"] = {
            "index_rows": idx.read().count(),
            "batch_docs": 16,
            "accepted": n_acc,
            "probe_s": probe_s,
            "buckets_read": len(bks),
            "total_buckets": 256,
            "bucket_ratio": round(len(bks) / 256, 4),
            "files_opened": pruned_files,
            "total_files": int(idx_files),
            "file_ratio": round(pruned_files / idx_files, 4),
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def admission_sink_probe() -> None:
    """MEASURE the streaming semantic-admission sink's O(touched
    blocks) contract (VERDICT r9 item 1) — mirroring what
    ``--delta-ratio`` did for the fingerprint-CDC loop. Fixture shape:
    the corpus's block count GROWS with the corpus (quantizer cells ~
    n / target_cell_size), per-block size constant — sf0.1 embeddings
    (2k vectors) in a 63-block table, the derived sf1 embeddings
    (20k) in a ~630-block table, ~32 vectors per block in both.
    block = vec_id // 32 aligns blocks 1:1 with range buckets (the
    "keep it clustered by block" layout the sink documents).

    Per corpus, trickle three 16-doc micro-batches touching 2 blocks
    each through ``semantic_admission_merge_sink`` and record:

    - the manifest pruning decision (``prune_report_in``: scanned /
      total buckets ≈ touched fraction),
    - parquet files the corpus probe actually opened / table files,
    - median wall per trigger — flat sf0.1 → sf1 is the claim (cost
      tracks rows-in-touched-blocks, not corpus rows),
    - the same trickle against a stats-less hash-bucketed copy of the
      sf1 corpus (the sink's full-scan fallback) — the lever's size.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from htmlentityextraction_spark.operators import decontam as dc
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable
    from htmlentityextraction_spark.session import get_spark

    spark = get_spark("sf1-admission-sink-probe")
    out = {"loadavg_1m_at_start": round(os.getloadavg()[0], 2)}
    base = tempfile.mkdtemp(prefix="sf1_admission_", dir="/tmp")
    PER_BLOCK = 32

    def build(src_dir: str, name: str, pruned: bool) -> ParquetMergeTable:
        emb = (
            spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
            .select(
                "vec_id",
                (F.col("vec_id") / PER_BLOCK).cast("long").alias("block"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
        )
        if pruned:
            tbl = ParquetMergeTable(
                spark, os.path.join(base, name), "vec_id",
                bucketing="range", range_width=PER_BLOCK, stats_cols=["block"],
            )
        else:
            tbl = ParquetMergeTable(
                spark, os.path.join(base, name), "vec_id", num_buckets=64
            )
        tbl.create(emb)
        return tbl

    def trickle(tbl: ParquetMergeTable, label: str) -> None:
        blocks = sorted(
            r.block for r in tbl.read().select("block").distinct().collect()
        )
        total_buckets = len(tbl._read_manifest()["buckets"])
        total_files = int(tbl.files().count())
        max_id = tbl.read().agg(F.max("vec_id")).first()[0]
        opened: list[int] = []
        orig_in = tbl.read_where_in
        orig_full = tbl.read

        def counting_in(col, values, version=None):
            df = orig_in(col, values, version)
            opened.append(len(df.inputFiles()))
            return df

        def counting_full(version=None):
            df = orig_full(version)
            opened.append(len(df.inputFiles()))
            return df

        tbl.read_where_in = counting_in  # type: ignore[method-assign]
        tbl.read = counting_full  # type: ignore[method-assign]
        sink = dc.semantic_admission_merge_sink(
            tbl, block_col="block", threshold=0.35, id_col="vec_id"
        )
        walls = []
        for t in range(3):
            b2 = [blocks[(7 + 11 * t) % len(blocks)], blocks[(29 + 11 * t) % len(blocks)]]
            # 8 docs from EACH block (a bare limit(16) over the
            # two-block read can satisfy itself from one file and
            # silently shrink the batch to one touched block)
            batch = (
                orig_in("block", b2[:1])
                .limit(8)
                .unionByName(orig_in("block", b2[1:]).limit(8))
                .select(
                    (F.col("vec_id") + (max_id + 1) * (t + 1)).alias("vec_id"),
                    "block",
                    "embedding",
                )
            )
            batch = batch.localCheckpoint()  # pin rows before the sink mutates tbl
            rep = tbl.prune_report_in("block", b2)
            t0 = time.time()
            sink(batch, t)
            walls.append(round(time.time() - t0, 2))
            if t == 0:
                out[label] = {
                    "corpus_rows": int(orig_full().count()),
                    "total_buckets": total_buckets,
                    "total_files": total_files,
                    "batch_blocks": 2,
                    "buckets_scanned": len(rep["scanned"]),
                    "bucket_ratio": round(len(rep["scanned"]) / total_buckets, 4),
                }
        # first opened entry per trigger is the corpus probe read
        out[label]["files_opened_first_trigger"] = opened[0]
        out[label]["file_ratio"] = round(opened[0] / total_files, 4)
        out[label]["trigger_wall_s_median3"] = sorted(walls)[1]
        out[label]["trigger_walls_s"] = walls
        tbl.read_where_in = orig_in  # type: ignore[method-assign]
        tbl.read = orig_full  # type: ignore[method-assign]

    try:
        trickle(build(SRC, "adm01", pruned=True), "admission_sink_sf0.1_pruned")
        trickle(build(DST, "adm1", pruned=True), "admission_sink_sf1_pruned")
        trickle(build(DST, "adm1f", pruned=False), "admission_sink_sf1_fullscan")
        print(json.dumps(out))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def reliable_checkpoint_probe() -> None:
    """Price the durable-checkpoint option at sf1 (VERDICT r9 item 5):
    run the PageRank probe's exact edge pipeline over the derived sf1
    lineitem twice — default ``localCheckpoint`` rounds vs
    ``reliable_checkpoint_dir`` (per-round parquet cuts that survive
    executor loss) — and record the wall-time delta plus an
    order-insensitive value hash over the rounded ranks proving both
    paths produce identical results. Turns the cluster guidance
    ("pay parquet round-trips for executor-loss survival") into a
    number."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from htmlentityextraction_spark.operators.components import pagerank
    from htmlentityextraction_spark.session import get_spark
    from htmlentityextraction_spark.sources.tables import load_table

    spark = get_spark("sf1-reliable-checkpoint-probe")
    out = {"loadavg_1m_at_start": round(os.getloadavg()[0], 2)}

    def edges_of(sf_dir: str):
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        half = (
            a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .select(
                F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
            )
            .distinct()
        )
        return half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def run(sf_dir: str, ck_dir: str | None):
        ts = []
        sig = None
        for _ in range(3):
            t0 = time.time()
            ranks = pagerank(
                edges_of(sf_dir), iterations=3, damping=0.85,
                reliable_checkpoint_dir=ck_dir,
            ).select(
                "node", F.round(F.col("rank") + F.lit(1e-9), 6).alias("rank")
            )
            row = ranks.agg(
                F.count("*").alias("n"),
                # decimal accumulator: a long sum of xxhash64 values
                # overflows under ANSI
                F.sum(F.xxhash64("node", "rank").cast("decimal(38,0)")).alias("h"),
            ).first()
            ts.append(round(time.time() - t0, 2))
            sig = (int(row.n), int(row.h))
        return sorted(ts)[1], sig

    base = tempfile.mkdtemp(prefix="sf1_relck_", dir="/tmp")
    try:
        for tag, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
            local_s, local_sig = run(sf_dir, None)
            rel_s, rel_sig = run(sf_dir, os.path.join(base, f"ck_{tag}"))
            assert local_sig == rel_sig, (
                f"checkpoint paths diverged at {tag}: {local_sig} vs {rel_sig}"
            )
            out[f"pagerank_{tag}"] = {
                "local_checkpoint_s": local_s,
                "reliable_checkpoint_s": rel_s,
                "overhead_x": round(rel_s / local_s, 2),
                "nodes": local_sig[0],
                "value_hash_equal": True,
            }
            print(f"# pagerank_{tag}: {out[f'pagerank_{tag}']}", file=sys.stderr)
        print(json.dumps(out))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


CLOSURE_DST = "/tmp/sf1_closure"


def generate_closure() -> None:
    """Bounded-component sf1-scale embedding fixture (VERDICT r10 item
    3): the main sf1 fixture's 0.35-graph is one ~20k-node giant
    component, making the DuckDB recursive-closure oracle O(n^2)-
    infeasible (SCALE_PROBE.md), so the closure family's sf1 evidence
    was Spark-vs-Spark only. This fixture PLANTS bounded components so
    the recursive CTE is linear-ish and the full CROSS-ENGINE hash
    runs at sf1 scale.

    Geometry — separation GUARANTEED by construction, not sampling:
    128 clusters on the 32 disjoint coordinate planes of R^64, four
    directions per plane at 90 deg spacing, each member an in-plane
    unit vector within +-5 deg of its cluster direction. Therefore
    cross-plane cosine is EXACTLY 0, same-plane cross-cluster absolute
    cosine <= cos(80 deg) ~ 0.174, within-cluster cosine >= cos(10
    deg) ~ 0.985 — nothing lands near the 0.35 threshold, so the pair
    set is noise-immune, every component is a planted cluster (a
    complete subgraph: the closure converges in one round), and the
    largest component is bounded by the largest planted size."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(CLOSURE_DST, exist_ok=True)
    emb_src = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    elem_type = emb_src.column("embedding").type.value_type
    vid_type = emb_src.column("vec_id").type
    dim, n_rows, n_planes, n_dirs = 64, 20_000, 32, 4

    # deterministic size ladder: singletons through a ~1k-doc component,
    # cycled over 128 clusters, remainder onto the last cluster
    ladder = [1, 2, 5, 10, 25, 60, 150, 400]
    sizes = [ladder[i % len(ladder)] for i in range(n_planes * n_dirs)]
    # spread the remainder over the 16 largest clusters so every
    # component stays bounded (max ~1000, not one remainder monster)
    big = [i for i, s in enumerate(sizes) if s == max(ladder)]
    rem = n_rows - sum(sizes)
    for k, i in enumerate(big):
        sizes[i] += rem // len(big) + (1 if k < rem % len(big) else 0)
    assert sum(sizes) == n_rows and max(sizes) <= 1100, (sum(sizes), max(sizes))

    rng = np.random.RandomState(4242)
    vecs = np.zeros((n_rows, dim))
    cluster_of = np.zeros(n_rows, dtype=np.int64)
    vid = 0
    for c, size in enumerate(sizes):
        plane, d = c % n_planes, c // n_planes
        i, j = 2 * plane, 2 * plane + 1
        base = d * (np.pi / 2)
        ang = base + np.deg2rad(rng.uniform(-5.0, 5.0, size=size))
        vecs[vid : vid + size, i] = np.cos(ang)
        vecs[vid : vid + size, j] = np.sin(ang)
        cluster_of[vid : vid + size] = c
        vid += size
    assert vid == n_rows

    # verify the construction's bounds before writing anything
    g = vecs @ vecs.T
    same = cluster_of[:, None] == cluster_of[None, :]
    assert g[same].min() >= 0.984, g[same].min()
    cross_max = g[~same].max() if (~same).any() else 0.0
    assert cross_max < 0.18, cross_max

    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_rows), type=vid_type),
            "embedding": pa.array(
                [row.tolist() for row in vecs], type=pa.list_(elem_type)
            ),
            "label": pa.array(
                [f"c{c:03d}" for c in cluster_of], type=pa.string()
            ),
        }
    )
    pq.write_table(emb, os.path.join(CLOSURE_DST, "embeddings.parquet"))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_rows), type=vid_type),
            "text": pa.array([f"planted doc {v}" for v in range(n_rows)]),
            "lang": pa.array(["en"] * n_rows),
            "source": pa.array(["planted"] * n_rows),
            # keep-best quality: varied, near-unique within any cluster
            "n_chars": pa.array(
                [int(100 + (v * 131) % 9973) for v in range(n_rows)],
                type=pa.int64(),
            ),
        }
    )
    pq.write_table(docs, os.path.join(CLOSURE_DST, "documents.parquet"))
    print(
        f"wrote {CLOSURE_DST}: {n_rows} vectors, {len(sizes)} planted components "
        f"(max {max(sizes)}), cross-cluster max cos {cross_max:.3f}"
    )


def closure_check() -> int:
    """Cross-engine (Spark vs DuckDB recursive-CTE) hash compare of the
    closure family at sf1 scale on the bounded-component fixture —
    the evidence the main sf1 fixture cannot produce."""
    import subprocess

    t0 = time.time()
    rc = subprocess.call(
        [
            sys.executable,
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "check_correctness.py"
            ),
            "--sf-dir",
            CLOSURE_DST,
            "semantic_dedup_scale_pipeline",
            "semantic_dedup_cells",
            "semantic_dedup_keep_best",
        ]
    )
    print(f"# closure_check wall: {round(time.time() - t0, 1)}s", file=sys.stderr)
    return rc


def hash_check() -> int:
    """Correctness at sf1, not just wall time (VERDICT r7 item 2): run
    the driver-mirroring compare (Spark query vs DuckDB oracle, row
    count + schema + order-insensitive value hash) over the derived
    sf1 fixtures for every probed query. Delegates to
    tools/check_correctness.py with --sf-dir pointed at the fixture
    dir (which registers only the tables the fixture ships)."""
    import subprocess

    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_correctness.py"),
        "--sf-dir",
        DST,
        *PROBES,
    ]
    return subprocess.call(cmd)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--generate", action="store_true")
    ap.add_argument(
        "--generate-ann",
        action="store_true",
        help="build the perturbed-copy ANN embeddings fixture",
    )
    ap.add_argument(
        "--ann",
        action="store_true",
        help="decade timing + hash compare for the ANN family on the perturbed fixture",
    )
    ap.add_argument(
        "--hash-check",
        action="store_true",
        help="driver-mirroring hash compare of the probed queries at sf1",
    )
    ap.add_argument(
        "--delta-ratio",
        action="store_true",
        help="measured O(delta) bucket/file-read ratios for trickle merges at sf1",
    )
    ap.add_argument(
        "--admission-sink",
        action="store_true",
        help="measured O(touched blocks) ratios for the streaming semantic-admission sink",
    )
    ap.add_argument(
        "--reliable-checkpoint",
        action="store_true",
        help="durable vs local checkpoint cost for the sf1 PageRank walk (same hash both paths)",
    )
    ap.add_argument(
        "--generate-closure",
        action="store_true",
        help="build the bounded-component closure fixture (cross-engine sf1 oracle)",
    )
    ap.add_argument(
        "--closure",
        action="store_true",
        help="cross-engine hash compare of the closure family on the bounded fixture",
    )
    ap.add_argument("names", nargs="*", help="probe only these queries")
    args = ap.parse_args()
    if args.generate:
        generate()
    elif args.generate_closure:
        generate_closure()
    elif args.closure:
        raise SystemExit(closure_check())
    elif args.generate_ann:
        generate_ann()
    elif args.ann:
        raise SystemExit(ann_probe())
    elif args.hash_check:
        raise SystemExit(hash_check())
    elif args.delta_ratio:
        delta_ratio()
    elif args.admission_sink:
        admission_sink_probe()
    elif args.reliable_checkpoint:
        reliable_checkpoint_probe()
    else:
        probe(args.names or None)
