"""Incremental table-format MERGE query (K3/K8 as a real table op).

Two successive MERGE batches against a copy-on-write bucketed parquet
table (operators/incremental.ParquetMergeTable), then the final
snapshot. The oracle expresses the net effect of both batches in
closed form, so a hash match proves update, delete, delete-persistence
(half the deleted keys are NOT re-inserted), re-insert-after-delete,
and brand-new-key insert all landed — across manifest versions.

Reference: `analytics/UpdateProdMetrics.scala:264-306` (MySQL
INSERT … ON DUPLICATE KEY UPDATE), `emr/SwapIDs.scala:119-128`
(Cassandra DELETE after re-keying).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators.incremental import (
    OP_DELETE,
    OP_UPSERT,
    ParquetMergeTable,
)
from htmlentityextraction_spark.functions.keys import valid_id
from htmlentityextraction_spark.functions.pricing import (
    finite_measure,
    finite_measure_sql,
    measure_cents,
    measure_cents_sql,
)
from htmlentityextraction_spark.registry import register
from htmlentityextraction_spark.runner import scratch
from htmlentityextraction_spark.sources.tables import load_table


# keyfuzz ingestion boundary (r12) for the WHOLE merge family: a
# merge-table key is a PRIMARY KEY. A NULL key is a corrupt row, and a
# duplicate-key pair in the source (the at-least-once-delivery shape)
# would write a corrupted table — two rows per key after an upsert —
# so ingestion resolves both deterministically: drop NULL keys, keep
# max(price) per key. Every oracle mirrors the identical dedup, and
# every `% n` bucket comparison with a nonzero remainder uses the
# pmod twin (Spark F.pmod is non-negative; raw `%` takes the dividend
# sign on both engines).
def _orders_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(valid_id("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.max("o_totalprice").alias("price"))
    )


@register(
    "merge_incremental_orders",
    f"""
    WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    SELECT k AS o_orderkey,
           CASE WHEN ((((k) % 7) + 7) % 7) = 1 AND {finite_measure_sql('p')} THEN floor(p * 1.05 * 100) / 100
                WHEN ((((k) % 14) + 14) % 14) = 2 THEN 1.0
                WHEN ((((k) % 7) + 7) % 7) = 3 AND {finite_measure_sql('p')} THEN floor(p * 0.9 * 100) / 100
                ELSE p END AS price
    FROM o WHERE ((((k) % 14) + 14) % 14) <> 9
    UNION ALL
    SELECT k + 10000000 AS o_orderkey, 5.0 AS price FROM o WHERE k % 50 = 0
    """,
)
def merge_incremental_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create table from orders → MERGE batch 1 (upsert k%7==1 to
    +5%, delete k%7==2) → MERGE batch 2 (re-insert k%14==2 at price
    1.0 — k%14==9 stays deleted —, upsert k%7==3 to -10%, insert new
    keys k+10M for k%50==0 at 5.0) → read the final snapshot. Each
    merge rewrites only the buckets holding its keys and publishes via
    an atomic manifest swap."""
    return _merged_orders_table(spark, sf_dir).read().select("o_orderkey", "price")


def _merged_orders_table(spark: SparkSession, sf_dir: str) -> ParquetMergeTable:
    """The shared two-merge scenario (see merge_incremental_orders)
    — also the CDC fixture: v1 = raw orders, v3 = after both
    merges."""
    # the deduped orders spine feeds FIVE lineages here (create and
    # both merges' four batch derivations), each otherwise replaying
    # the scan + groupBy shuffle; persist it for the build and release
    # it before returning — the table itself is files, so nothing
    # cached outlives the query (optimization r12, guide §2.2/§5.2).
    # The release sits in a finally: a spine still cached after a
    # failed merge is plan-keyed, and the next run would reuse it.
    orders = _orders_source(spark, sf_dir).persist()
    try:
        k = F.col("o_orderkey")
        path = scratch("merge_tbl_")
        tbl = ParquetMergeTable(spark, path, key_col="o_orderkey", num_buckets=16)
        tbl.create(orders)

        # derived updates skip NaN source prices: Spark's floor(NaN) is
        # silently 0 while DuckDB's is NaN — a corrupt measurement must
        # not fabricate a price (null/NaN-fuzz aligned)
        batch1 = orders.filter(
            (F.pmod(k, F.lit(7)) == 2)
            | ((F.pmod(k, F.lit(7)) == 1) & finite_measure("price"))
        ).select(
            "o_orderkey",
            F.when(F.pmod(k, F.lit(7)) == 1, F.floor(F.col("price") * 1.05 * 100) / 100)
            .otherwise(F.lit(None).cast("double"))
            .alias("price"),
            F.when(F.pmod(k, F.lit(7)) == 1, F.lit(OP_UPSERT))
            .otherwise(F.lit(OP_DELETE))
            .alias("op"),
        )
        tbl.merge(batch1)

        reinsert = orders.filter(F.pmod(k, F.lit(14)) == 2).select(
            "o_orderkey", F.lit(1.0).alias("price"), F.lit(OP_UPSERT).alias("op")
        )
        discount = orders.filter(
            (F.pmod(k, F.lit(7)) == 3) & finite_measure("price")
        ).select(
            "o_orderkey",
            (F.floor(F.col("price") * 0.9 * 100) / 100).alias("price"),
            F.lit(OP_UPSERT).alias("op"),
        )
        brand_new = orders.filter(F.pmod(k, F.lit(50)) == 0).select(
            (k + 10_000_000).alias("o_orderkey"),
            F.lit(5.0).alias("price"),
            F.lit(OP_UPSERT).alias("op"),
        )
        tbl.merge(reinsert.unionByName(discount).unionByName(brand_new))
        return tbl
    finally:
        orders.unpersist()


@register(
    "mergetable_pruned_range_read",
    """
    WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    SELECT o_orderkey, price FROM (
        SELECT k AS o_orderkey,
               -- the markup applies only to usable prices: a corrupt
               -- (NULL/NaN/out-of-range) price passes through raw on
               -- both engines (Spark floor(inf) clamps, duck keeps inf)
               CASE WHEN k % 5 = 0 AND k BETWEEN 1000 AND 3000
                         AND {fp}
                    THEN floor(p * 1.10 * 100) / 100
                    ELSE p END AS price
        FROM o
        WHERE NOT (((((k) % 10) + 10) % 10) = 7 AND k BETWEEN 1000 AND 3000)
    ) WHERE o_orderkey BETWEEN 1200 AND 2400
    """.format(fp=finite_measure_sql("p")),
)
def mergetable_pruned_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bucketed merge table (bucket = key div 2000, the Iceberg
    truncate transform) + manifest zone maps: create from orders,
    MERGE a batch of mid-range upserts/deletes, then a range read
    that PRUNES to the few overlapping buckets before scanning
    (``read_where``; the oracle is the same rows, proving pruning
    never changes results). The manifest-level file skipping a
    Delta/Iceberg reader gets — at 100 TB a narrow range read lists
    a handful of bucket dirs instead of the table. The read band spans
    the bucket-0/1 boundary and overlaps the merged band, so it holds
    rows at every fixture scale and, from sf0.01 up, skips every
    bucket past the second."""
    # spine persisted across create + merge batch (see _merged_orders_table)
    orders = _orders_source(spark, sf_dir).persist()
    try:
        k = F.col("o_orderkey")
        path = scratch("merge_rng_")
        tbl = ParquetMergeTable(
            spark, path, key_col="o_orderkey", bucketing="range", range_width=2000
        )
        tbl.create(orders)
        in_band = k.between(1000, 3000)
        batch = orders.filter(in_band & (F.pmod(k, 5) == 0) & finite_measure("price")).select(
            "o_orderkey",
            (F.floor(F.col("price") * 1.10 * 100) / 100).alias("price"),
            F.lit(OP_UPSERT).alias("op"),
        ).unionByName(
            orders.filter(in_band & (F.pmod(k, 10) == 7)).select(
                "o_orderkey", F.lit(None).cast("double").alias("price"), F.lit(OP_DELETE).alias("op")
            )
        )
        tbl.merge(batch)
    finally:
        orders.unpersist()
    return tbl.read_where("o_orderkey", 1200, 2400)


@register(
    "mergetable_cdc_changes",
    f"""
    WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    -- p IS NOT NULL on the derived-update branches: a NULL price
    -- maps to a NULL new price, and NULL -> NULL is NOT a change
    -- under CDC's null-safe diff (null-fuzz aligned). The derived
    -- price must also DIFFER from the old one: upserting the same
    -- value is a no-op to CDC (p = -0.0 -> floor(...) = 0.0 compares
    -- equal, so no change row — mixed-fuzz aligned)
    SELECT k AS o_orderkey, 'update' AS change_type,
           round(p + 1e-9, 6) AS old_price,
           round(floor(p * 1.05 * 100) / 100 + 1e-9, 6) AS new_price
    FROM o WHERE ((((k) % 7) + 7) % 7) = 1 AND {finite_measure_sql('p')}
      AND NOT (floor(p * 1.05 * 100) / 100 = p)
    UNION ALL
    SELECT k, 'update', round(p + 1e-9, 6), 1.0 FROM o WHERE ((((k) % 14) + 14) % 14) = 2
    UNION ALL
    SELECT k, 'update', round(p + 1e-9, 6),
           round(floor(p * 0.9 * 100) / 100 + 1e-9, 6)
    FROM o WHERE ((((k) % 7) + 7) % 7) = 3 AND {finite_measure_sql('p')}
      AND NOT (floor(p * 0.9 * 100) / 100 = p)
    UNION ALL
    SELECT k, 'delete', round(p + 1e-9, 6), CAST(NULL AS DOUBLE) FROM o WHERE ((((k) % 14) + 14) % 14) = 9
    UNION ALL
    SELECT k + 10000000, 'insert', CAST(NULL AS DOUBLE), 5.0 FROM o WHERE k % 50 = 0
    """,
)
def mergetable_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across the two-merge scenario: diff of
    snapshot v1 (raw orders) against the current snapshot via
    ``table_changes`` — every net update/delete/insert classified
    with old and new values side by side. The oracle states each
    change class in closed form, so the hash match proves CDC sees
    exactly the net effect of both merges (including that the
    delete-then-reinsert keys surface as updates, not
    delete+insert)."""
    tbl = _merged_orders_table(spark, sf_dir)
    cdc = tbl.table_changes(1)
    return cdc.select(
        "o_orderkey",
        "change_type",
        F.round(F.col("old_price") + 1e-9, 6).alias("old_price"),
        F.round(F.col("new_price") + 1e-9, 6).alias("new_price"),
    )


@register(
    "incremental_rollup_maintenance",
    f"""
    WITH final AS (
        SELECT o_orderkey, price FROM (
            WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
            SELECT k AS o_orderkey,
                   CASE WHEN ((((k) % 7) + 7) % 7) = 1 THEN floor(p * 1.05 * 100) / 100
                        WHEN ((((k) % 14) + 14) % 14) = 2 THEN 1.0
                        WHEN ((((k) % 7) + 7) % 7) = 3 THEN floor(p * 0.9 * 100) / 100
                        ELSE p END AS price
            FROM o WHERE ((((k) % 14) + 14) % 14) <> 9
            UNION ALL
            SELECT k + 10000000, 5.0 FROM o WHERE k % 50 = 0
        )
    )
    SELECT ((((o_orderkey) % 100) + 100) % 100) AS price_group,
           count(*) AS n_orders,
           -- NaN contributes no cents (same as NULL) on both engines
           CAST(sum({measure_cents_sql('price')}) AS BIGINT) AS sum_cents
    FROM final GROUP BY price_group
    """,
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VIEW MAINTENANCE: a per-group rollup (count +
    exact cent sum) is maintained by applying the CDC delta from
    ``table_changes`` to the version-1 rollup — never re-aggregating
    the final snapshot. The oracle aggregates the final state
    directly, so the hash match proves base + delta == recompute:
    inserts add, deletes subtract, updates contribute (new - old).
    At 100 TB this is the difference between touching |changes| and
    touching the table on every refresh; exact integer sums make the
    algebra safe under any partitioning."""
    tbl = _merged_orders_table(spark, sf_dir)
    grp = lambda c: F.pmod(c, F.lit(100)).alias("price_group")  # noqa: E731

    base = (
        tbl.read(1)
        .groupBy(grp(F.col("o_orderkey")))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(measure_cents("price")).alias("sum_cents"),
        )
    )
    cdc = tbl.table_changes(1)
    is_ins = F.col("change_type") == "insert"
    is_del = F.col("change_type") == "delete"
    d_cnt = F.when(is_ins, 1).when(is_del, -1).otherwise(0)
    d_sum = F.coalesce(
        F.when(~is_del, measure_cents("new_price")), F.lit(0)
    ) - F.coalesce(F.when(~is_ins, measure_cents("old_price")), F.lit(0))
    delta = cdc.groupBy(grp(F.col("o_orderkey"))).agg(
        F.sum(d_cnt).alias("d_cnt"), F.sum(d_sum).alias("d_sum")
    )
    return (
        base.join(delta, "price_group", "full_outer")
        .select(
            "price_group",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias(
                "n_orders"
            ),
            (F.coalesce("sum_cents", F.lit(0)) + F.coalesce("d_sum", F.lit(0))).alias(
                "sum_cents"
            ),
        )
        .filter(F.col("n_orders") > 0)
    )


@register(
    "mergetable_zorder_read",
    f"""
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
           CAST(sum({measure_cents_sql('l_extendedprice')})
                AS BIGINT) AS sum_cents
    FROM lineitem
    WHERE l_partkey BETWEEN 40 AND 180 AND l_suppkey BETWEEN 2 AND 8
    GROUP BY l_partkey
    """,
)
def mergetable_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY, end to end: load lineitem into a merge
    table, rewrite it z-ordered on (l_partkey, l_suppkey)
    (`incremental.optimize(zorder_by=...)`), then run a BOTH-dim
    range predicate over the optimized snapshot. The oracle is the
    same query on the raw table — hash equality proves the clustered
    rewrite is content-preserving; the row-group-skipping evidence
    (tight parquet min/max after clustering, the reason to z-order at
    100 TB) is measured from footer metadata in
    tests/test_zorder_optimize.py."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_partkey", "l_suppkey", "l_extendedprice",
    )
    path = scratch("zorder_tbl_")
    tbl = ParquetMergeTable(spark, path, key_col="rid", num_buckets=4)
    tbl.create(li)
    tbl.optimize(zorder_by=["l_partkey", "l_suppkey"])
    out = tbl.read().where(
        F.col("l_partkey").between(40, 180) & F.col("l_suppkey").between(2, 8)
    )
    return out.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(measure_cents("l_extendedprice")).alias("sum_cents"),
    )


@register(
    "matview_variance_incremental",
    f"""
    WITH final AS (
        SELECT o_orderkey, price FROM (
            WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
            SELECT k AS o_orderkey,
                   CASE WHEN ((((k) % 7) + 7) % 7) = 1 THEN floor(p * 1.05 * 100) / 100
                        WHEN ((((k) % 14) + 14) % 14) = 2 THEN 1.0
                        WHEN ((((k) % 7) + 7) % 7) = 3 THEN floor(p * 0.9 * 100) / 100
                        ELSE p END AS price
            FROM o WHERE ((((k) % 14) + 14) % 14) <> 9
            UNION ALL
            SELECT k + 10000000, 5.0 FROM o WHERE k % 50 = 0
        )
    ), agg AS (
        SELECT ((((o_orderkey) % 100) + 100) % 100) AS price_group,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum({measure_cents_sql('price')}) AS BIGINT) AS s,
               CAST(sum({measure_cents_sql('price')}
                        * {measure_cents_sql('price')}) AS BIGINT) AS s2
        FROM final GROUP BY price_group
    )
    SELECT price_group, n_orders, s AS sum_cents, s2 AS sum_sq_cents FROM agg
    """,
)
def matview_variance_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VARIANCE maintenance: per-group population variance
    kept fresh from the CDC delta alone, via the classic sufficient
    statistics (n, Σx, Σx²) — each is additive, so inserts add,
    deletes subtract, updates contribute the difference, and
    variance is Σx²/n − (Σx/n)² at read time. The matview's
    deliverable IS the exact integer statistics (Σx² reaches ~1e17,
    past double's 2^53, so ANY float derivation is engine-unstable —
    the gate hashes the BIGINTs and the final divide belongs to the
    reader). The oracle recomputes the statistics from the final
    snapshot; hash equality proves base + delta == recompute for a
    beyond-count/sum statistic. Only |changes| rows are touched per
    refresh."""
    tbl = _merged_orders_table(spark, sf_dir)
    grp = lambda c: F.pmod(c, F.lit(100)).alias("price_group")  # noqa: E731

    base = (
        tbl.read(1)
        .groupBy(grp(F.col("o_orderkey")))
        .agg(
            F.count("*").alias("n"),
            F.sum(measure_cents("price")).alias("s"),
            F.sum(measure_cents("price") * measure_cents("price")).alias("s2"),
        )
    )
    cdc = tbl.table_changes(1)
    is_ins = F.col("change_type") == "insert"
    is_del = F.col("change_type") == "delete"
    new_c = measure_cents("new_price")
    old_c = measure_cents("old_price")
    d_n = F.when(is_ins, 1).when(is_del, -1).otherwise(0)
    d_s = F.coalesce(F.when(~is_del, new_c), F.lit(0)) - F.coalesce(
        F.when(~is_ins, old_c), F.lit(0)
    )
    d_s2 = F.coalesce(F.when(~is_del, new_c * new_c), F.lit(0)) - F.coalesce(
        F.when(~is_ins, old_c * old_c), F.lit(0)
    )
    delta = cdc.groupBy(grp(F.col("o_orderkey"))).agg(
        F.sum(d_n).alias("d_n"), F.sum(d_s).alias("d_s"), F.sum(d_s2).alias("d_s2")
    )
    fresh = (
        base.join(delta, "price_group", "full_outer")
        .select(
            "price_group",
            (F.coalesce("n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n_orders"),
            (F.coalesce("s", F.lit(0)) + F.coalesce("d_s", F.lit(0))).alias("s"),
            (F.coalesce("s2", F.lit(0)) + F.coalesce("d_s2", F.lit(0))).alias("s2"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return fresh.select(
        "price_group",
        "n_orders",
        F.col("s").alias("sum_cents"),
        F.col("s2").alias("sum_sq_cents"),
    )


@register(
    "mergetable_history_rows",
    """
    WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey),
    v1 AS (SELECT count(*) AS n FROM o),
    v2 AS (
        -- batch 1 deletes ALL k%7==2 (the k%14==2 half returns only
        -- in batch 2's re-insert)
        SELECT (SELECT count(*) FROM o WHERE ((((k) % 7) + 7) % 7) <> 2) AS n
    ), v3 AS (
        SELECT (SELECT count(*) FROM o WHERE ((((k) % 14) + 14) % 14) <> 9)
             + (SELECT count(*) FROM o WHERE k % 50 = 0) AS n
    )
    SELECT 1 AS version, CAST((SELECT n FROM v1) AS BIGINT) AS total_rows
    UNION ALL SELECT 2, CAST((SELECT n FROM v2) AS BIGINT)
    UNION ALL SELECT 3, CAST((SELECT n FROM v3) AS BIGINT)
    """,
)
def mergetable_history_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-history metadata table (Iceberg's ``history`` /
    Delta's ``DESCRIBE HISTORY``): per retained version, the total
    row count straight from manifest statistics — no data files are
    read. The oracle derives each version's expected cardinality from
    the merge scenario in closed form (v1 = raw orders, v2 = after
    the update/delete batch, v3 = after re-inserts + new keys), so
    the hash match proves the manifest row accounting tracks the
    actual merge history exactly."""
    tbl = _merged_orders_table(spark, sf_dir)
    return tbl.snapshots().select(
        F.col("version").cast("bigint").alias("version"),
        F.col("total_rows").alias("total_rows"),
    )


@register(
    "mergetable_schema_evolution",
    """
    WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    SELECT k AS o_orderkey,
           CASE WHEN ((((k) % 11) + 11) % 11) = 4 AND {fp}
                THEN floor(p * 1.10 * 100) / 100 ELSE p END AS unit_price,
           CASE WHEN ((((k) % 11) + 11) % 11) = 4 AND {fp}
                THEN CAST(((((k) % 5) + 5) % 5) AS INT) ELSE NULL END AS qty
    FROM o
    """.format(fp=finite_measure_sql("p")),
)
def mergetable_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the merge table (round 7, Delta
    column-mapping model): create from orders → RENAME price →
    unit_price (metadata-only commit — zero buckets rewritten, old
    snapshots keep their names) → MERGE under the NEW logical name
    that also ADDS a typed qty column (existing rows null-fill) →
    read the final snapshot. The oracle states the net effect in
    closed form, so the hash match proves the rename routed updates
    into the original physical column, the added column landed in its
    own storage, and untouched rows read back unchanged under the new
    name. Corrupt source measurements are excluded from the update
    batch per the finite-measure ingestion contract (floor(NaN)
    diverges across engines)."""
    # spine persisted across create + update batch (see _merged_orders_table)
    orders = _orders_source(spark, sf_dir).persist()
    try:
        path = scratch("evo_tbl_")
        tbl = ParquetMergeTable(spark, path, key_col="o_orderkey", num_buckets=16)
        tbl.create(orders)
        tbl.rename_column("price", "unit_price")
        k = F.col("o_orderkey")
        updates = (
            orders
            .filter((F.pmod(k, F.lit(11)) == 4) & finite_measure("price"))
            .select(
                "o_orderkey",
                (F.floor(F.col("price") * 1.10 * 100) / 100).alias("unit_price"),
                F.pmod(k, F.lit(5)).cast("int").alias("qty"),
                F.lit(OP_UPSERT).alias("op"),
            )
        )
        tbl.merge(updates)
    finally:
        orders.unpersist()
    return tbl.read().select("o_orderkey", "unit_price", "qty")


@register(
    "mergetable_schema_drop_widen",
    """
    WITH o AS (SELECT o_orderkey AS k, max(o_totalprice) AS p FROM orders
               WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
    SELECT k AS o_orderkey,
           CASE WHEN ((((k) % 13) + 13) % 13) = 6 AND {fp}
                THEN floor(p * 1.05 * 100) / 100 ELSE p END AS price,
           CASE WHEN ((((k) % 13) + 13) % 13) = 6 AND {fp}
                THEN 3000000000 + (((((k) % 5) + 5) % 5)) ELSE ((((k) % 5) + 5) % 5) END AS qty,
           CASE WHEN ((((k) % 13) + 13) % 13) = 6 AND {fp}
                THEN 'update' ELSE NULL END AS change_type
    FROM o
    """.format(fp=finite_measure_sql("p")),
)
def mergetable_schema_drop_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 schema-evolution surface: column DROP + type WIDENING
    (`operators/incremental.py:drop_column`, `_WIDENINGS`), plus CDC
    across the drop boundary. Create from orders with an extra tag
    column and an INT qty → DROP tag (metadata-only commit, zero
    buckets rewritten) → MERGE a batch that carries qty as BIGINT
    with values beyond int range (the table widens; untouched narrow
    buckets upcast at scan, SPARK-40876) → join the final snapshot
    with ``table_changes`` spanning the drop. The oracle states the
    net effect in closed form: a hash match proves (a) the dropped
    column is gone without disturbing other columns, (b) widened and
    upcast values agree exactly, and (c) CDC across the drop reports
    ONLY the genuinely merged keys as updates — a diff that compared
    the dropped column would mark every row updated and mismatch.
    Corrupt measurements are excluded from the update batch per the
    finite-measure ingestion contract."""
    k = F.col("o_orderkey")
    # the dedup boundary keeps max(price); tag resolves to max() too —
    # deterministic under conflicting duplicates
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(valid_id("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.max("o_totalprice").alias("price"),
            F.max("o_orderpriority").alias("tag"),
        )
        .select(
            "o_orderkey",
            "price",
            F.pmod(k, F.lit(5)).cast("int").alias("qty"),
            "tag",
        )
        # spine persisted across create + update batch; the update
        # derivation below reuses it (same dedup boundary, so
        # (o_orderkey, price) is identical to _orders_source)
        .persist()
    )
    try:
        path = scratch("dw_tbl_")
        tbl = ParquetMergeTable(spark, path, key_col="o_orderkey", num_buckets=16)
        tbl.create(orders)  # v1
        tbl.drop_column("tag")  # v2: metadata-only
        updates = (
            orders.select("o_orderkey", "price")
            .filter((F.pmod(k, F.lit(13)) == 6) & finite_measure("price"))
            .select(
                "o_orderkey",
                (F.floor(F.col("price") * 1.05 * 100) / 100).alias("price"),
                (F.lit(3_000_000_000) + F.pmod(k, F.lit(5))).cast("long").alias("qty"),
                F.lit(OP_UPSERT).alias("op"),
            )
        )
        tbl.merge(updates)  # v3: widens qty int -> bigint
    finally:
        orders.unpersist()
    changes = tbl.table_changes(1, 3).select("o_orderkey", "change_type")
    return (
        tbl.read()
        .join(changes, "o_orderkey", "left")
        .select("o_orderkey", "price", "qty", "change_type")
    )
