"""Physical-plan regression contracts for headline queries: the
properties that make these plans scale (pushdown, pruning, broadcast
choice, no stray cartesian) must not silently regress."""

from __future__ import annotations

import re

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
PYTHON_NODES = (
    r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonUDTF"
)


def _plan(spark, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_project_pushes_filters(spark):
    plan = _plan(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # projection pruned: tax/shipdate are unused and must not be read
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("l_tax" not in s and "l_shipdate" not in s for s in schemas)


def test_broadcast_dim_join_broadcasts_dims(spark):
    plan = _plan(spark, "broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_no_cartesian_and_pruned(spark):
    plan = _plan(spark, "price_delta_market_position")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # only the 6 observation columns are read from lineitem
    assert schemas and all("l_tax" not in s for s in schemas)


def test_semi_and_anti_joins_planned_as_such(spark):
    semi = _plan(spark, "join_semi_customers_with_open_orders")
    anti = _plan(spark, "join_anti_customers_without_orders")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_dau_wau_trailing_window_is_equi_not_nlj(spark):
    # the trailing-7-day membership must be the explode+equi-groupBy
    # shape; a non-equi range join would plan as BroadcastNestedLoopJoin
    # (O(|days| x |user_days|) at scale)
    plan = _plan(spark, "daily_weekly_active_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Explode" in plan or "Generate" in plan


def test_extraction_is_one_flat_map_in_arrow(spark):
    # candidates come straight out of one mapInArrow: no scalar Arrow
    # UDF returning a nested array, no explode after it
    plan = _plan(spark, "price_candidate_extraction")
    assert "MapInArrow" in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate" not in plan


def test_serve_scoring_is_one_python_map_and_no_shuffle(spark):
    # score_pages_batch is one per-page mapInArrow between JVM
    # projections: no second Python boundary, no shuffle, no join back
    # to the pages, no per-url aggregate
    from htmlentityextraction_spark import schemas
    from htmlentityextraction_spark.streaming import serve

    raw = spark.createDataFrame(
        [('{"url":"http://a.com/p","html":"price 1.50 now","updatedPrice":1.5}',)],
        "value string",
    )
    pages = schemas.parse_page_messages(raw).filter("NOT is_corrupt")
    plan = serve.score_pages_batch(pages, [])._jdf.queryExecution().executedPlan().toString()
    assert re.findall(PYTHON_NODES, plan) == ["MapInArrow"]
    for node in ("Exchange", "Join", "Aggregate"):
        assert node not in plan


def test_serve_batch_parses_once_above_the_exchange(spark):
    # the micro-batch is parsed by one from_json, after the parallelism
    # guard's shuffle: a filter on the parsed corrupt flag would be
    # pushed below the Exchange and parse each message up to 3 times
    from htmlentityextraction_spark.streaming import serve

    raw = spark.createDataFrame(
        [('{"url":"http://a.com/p","html":"price 1.50 now","updatedPrice":1.5}',), ("{bad",)],
        "value string",
    ).coalesce(1)
    registry = spark.sparkContext.broadcast({})
    plan = serve.serve_batch(raw, registry, 4)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    parse = [i for i, line in enumerate(lines) if "from_json(" in line]
    exchange = [i for i, line in enumerate(lines) if "Exchange RoundRobinPartitioning" in line]
    assert plan.count("from_json(") == 1 and len(exchange) == 1
    assert parse[0] < exchange[0], plan
    assert re.findall(PYTHON_NODES, plan) == ["MapInArrow"]


def test_serve_drain_runs_at_most_two_jobs_per_trigger(spark, tmp_path):
    # one Spark pass per micro-batch: with the session's AQE, the
    # guard's shuffle map stage and the writer's result stage. Counted
    # as the difference between drains of 1 and 4 files, so one-time
    # stream start-up jobs cancel out.
    import os
    import shutil

    from htmlentityextraction_spark.streaming import serve

    sc = spark.sparkContext
    src = tmp_path / "src"
    for f in range(4):
        msgs = [(f'{{"url":"http://a.com/p/{f}-{i}","html":"price {i}.50 now","updatedPrice":{i}.5}}',)
                for i in range(8)] + [(f"{{bad {f}",)]
        spark.createDataFrame(msgs, "value string").coalesce(1).write.mode("append").parquet(str(src))
    files = sorted(p for p in os.listdir(src) if p.endswith(".parquet"))
    groups = [None]

    def last_job() -> int:
        ids = [i for g in groups for i in sc.statusTracker().getJobIdsForGroup(g) or []]
        return max(ids) if ids else -1

    def jobs_for(n: int, tag: str) -> int:
        topic = tmp_path / f"topic_{tag}"
        topic.mkdir()
        for name in files[:n]:
            shutil.copy(src / name, topic)
        raw = spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).parquet(str(topic))
        j0 = last_job()
        holder = serve.serve_stream(spark, raw, [], str(tmp_path / f"out_{tag}"))
        holder.await_done()
        # foreachBatch runs its jobs under the stream's run id
        groups.append(str(holder.query.runId))
        assert len(holder.metrics) == n
        return last_job() - j0

    jobs_for(1, "warm")
    base = jobs_for(1, "base")
    more = jobs_for(4, "more")
    per_trigger = (more - base) / 3
    assert 1 <= per_trigger <= 2, f"{per_trigger} jobs per trigger (1 file: {base}, 4 files: {more})"


def test_model_score_pick_price_scores_through_the_page_map(spark):
    # the registry query scores with the serve path's page scorer: one
    # mapInArrow is the plan's only Python node, no candidate-row
    # mapInPandas scorer
    plan = _plan(spark, "model_score_pick_price")
    assert re.findall(PYTHON_NODES, plan) == ["MapInArrow"]
    assert "MapInPandas" not in plan


def test_whole_stage_codegen_present(spark):
    # the relational core must stay inside codegen (no interpreted
    # projections in the hot path)
    plan = _plan(spark, "scan_filter_project")
    assert "*(1)" in plan  # WholeStageCodegen stage marker


def test_skyline_is_two_level_reduction_not_quadratic(spark):
    # frontier must be groupBy + window — NEVER a self-join
    plan = _plan(spark, "skyline_size_price_frontier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # no join of any kind
    assert "Window" in plan


def test_dq_suite_is_single_scan(spark):
    # all five checks must ride ONE aggregation over ONE scan
    plan = _plan(spark, "dq_expectation_report")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_golden_record_is_single_shuffle_no_window(spark):
    # per-field survivorship folds into one groupBy: no window, no
    # self-join back
    plan = _plan(spark, "golden_user_record")
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_gap_fill_spine_is_generated_not_crossjoined(spark):
    # the calendar spine must come from explode(sequence(...)), not a
    # cross join against a date dimension
    plan = _plan(spark, "gap_fill_user_purchase_value")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan or "Explode" in plan


def test_weighted_sample_is_take_ordered_not_global_sort(spark):
    # global top-k must plan as TakeOrderedAndProject (partition-local
    # heaps), never a full Sort + Limit
    plan = _plan(spark, "weighted_doc_sample")
    assert "TakeOrderedAndProject" in plan


def test_sorted_neighborhood_window_is_blocked(spark):
    # the window must be partitioned by the prefix block — a global
    # (unpartitioned) window would single-thread the corpus
    plan = _plan(spark, "sorted_neighborhood_doc_pairs")
    assert "Window" in plan
    # every Window operator carries a partition spec (the __blk prefix)
    for line in plan.splitlines():
        if line.strip().startswith(("Window ", "*(")) and "windowspecdefinition" in line:
            assert "__blk" in line
    assert "Join" not in plan  # pairs come from lead(), not a self-join


def test_bloom_prefilter_is_broadcast_only_before_join(spark):
    # the bloom probes are k broadcast hash joins of the tiny word
    # table; the fact side must not hit a SortMergeJoin or a
    # nested-loop anywhere in the pre-filter
    plan = _plan(spark, "bloom_prefilter_join")
    assert plan.count("BroadcastHashJoin") >= 5  # k probes (+ exact join)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_report_is_pure_aggregation(spark):
    # bit interleave + zone maps = scans, projections, aggregates;
    # no join of any kind beyond the broadcast stats row
    plan = _plan(spark, "zorder_pruning_report")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" not in plan


def test_tablediff_drilldown_prunes_via_broadcast_semi(spark):
    # phase 2 must reach the row-level join through broadcast
    # LeftSemi on the changed-bucket list, not a full-table shuffle
    plan = _plan(spark, "table_diff_reconciliation")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tablediff_reads_the_deduped_left_once(spark):
    # the deduped left is localCheckpointed before its six consumer
    # subtrees, so the executed plan reads checkpointed RDD blocks
    # instead of replaying the parquet scan + dedup (24 scans without)
    plan = _plan(spark, "table_diff_reconciliation")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan


def test_rolling_hll_no_nlj(spark):
    # the trailing window is the 7-offset sketch explode + equi
    # groupBy, never a range join
    plan = _plan(spark, "rolling_distinct_users_7d")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan or "Explode" in plan


def test_rendezvous_is_narrow_after_identity_dedup(spark):
    # The shard choice itself is a pure per-row expression; the only
    # required shuffle is the keyfuzz r12 identity dedup (DISTINCT
    # doc_id). A local-fixture scan floor may add RoundRobin
    # repartitions, but no join and no second hash exchange ever.
    plan = _plan(spark, "rendezvous_shard_assignment")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_theil_sen_pairs_are_equi_blocked(spark):
    # pairwise slopes must join per product key, never data x data
    plan = _plan(spark, "theil_sen_price_trend")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_cdf_windows_are_partitioned(spark):
    plan = _plan(spark, "ks_two_sample_value_drift")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kanonymity_release_no_nlj(spark):
    plan = _plan(spark, "kanonymous_user_value_release")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange" in plan  # a real aggregate, not a collect


def test_finite_measure_filter_reaches_parquet_scan(spark):
    """Since the keyfuzz r12 identity dedup (groupBy(o_orderkey) →
    max(o_totalprice)) the finite-measure boundary applies to the
    AGGREGATED measure — the range halves cannot push below the
    aggregate any more (max() orders NaN above every double, so a
    pre-agg range filter would change which groups survive — the
    DuckDB oracle pins the post-agg semantics). What must still reach
    the scan is the identity gate: IsNotNull on the group key prunes
    NULL-key row groups. The finite conjuncts must still exist as a
    post-agg filter."""
    plan = _plan(spark, "price_candidate_extraction")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderkey)" in plan
    # finite_measure survives above the aggregate
    assert "1.0E10" in plan and "isnan" in plan


def test_rt2report_is_single_aggregation_no_distinct_expand(spark):
    """Optimization r12 (guide §2.4): n_competitors derives from
    size(collect_set('S'||suppkey)) instead of a countDistinct
    aggregate — a mixed distinct/non-distinct agg plans as TWO
    hash exchanges and four aggregation levels; the set-derived form
    needs one of each. The legacy countDistinct aggregation (the r12
    kill-switch arm, pruned in r13) is rebuilt inline here as the
    equivalence reference — injective comp string + matching NULL
    semantics make the two counts provably equal."""
    from pyspark.sql import functions as F

    from htmlentityextraction_spark.functions.pricing import finite_measure
    from htmlentityextraction_spark.sources.tables import load_table

    name = "rt2report_competitor_summary"
    df = entry.queries()[name](spark, SF)
    plan_new = df._jdf.queryExecution().executedPlan().toString()
    got_new = sorted(map(tuple, df.collect()))

    li = load_table(spark, SF, "lineitem").filter(finite_measure("l_extendedprice"))
    comp = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    legacy = li.groupBy(F.col("l_partkey").alias("prodid")).agg(
        F.countDistinct("l_suppkey").alias("n_competitors"),
        F.round(F.min("l_extendedprice") + 1e-9, 6).alias("min_price"),
        F.round(F.max("l_extendedprice") + 1e-9, 6).alias("max_price"),
        F.round(F.avg("l_extendedprice") + 1e-9, 6).alias("avg_price"),
        F.array_join(F.array_sort(F.collect_set(comp)), ",").alias("competitors"),
    )
    plan_old = legacy._jdf.queryExecution().executedPlan().toString()
    got_old = sorted(map(tuple, legacy.collect()))

    assert got_new == got_old, "set-derived count must equal countDistinct"
    assert plan_new.count("Exchange hashpartitioning") == 1
    assert "Expand" not in plan_new
    # the contrast that motivates the rewrite: the distinct-agg form
    # really does plan two hash exchanges (ADVICE r12 — assert it)
    assert plan_old.count("Exchange hashpartitioning") == 2
    # schema parity: n_competitors stays a bigint in both forms
    assert dict(df.dtypes)["n_competitors"] == "bigint"
