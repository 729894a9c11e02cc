"""Copy-on-write merge-table behavior + per-domain skew-cap
behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import cached_plans
from htmlentityextraction_spark.operators import incremental as inc
from htmlentityextraction_spark.operators import models as md


def test_train_per_domain_caps_mega_domains(spark, monkeypatch):
    # one domain with 300 rows, cap at 50: the fit must see exactly 50
    monkeypatch.setattr(md, "_MAX_ROWS_PER_DOMAIN", 50)
    rows = []
    for i in range(150):
        rows.append(("big.com", f"http://big.com/p/{i}", 1, 0.2, f"{i}.50", "good price", "x"))
        rows.append(("big.com", f"http://big.com/p/{i}", 0, 0.8, f"{i}.99", "footer junk", "y"))
    cand = spark.createDataFrame(
        rows,
        "domain string, url string, label int, norm_location double,"
        "candidate string, text_before string, text_after string",
    )
    feats = md.featurize_candidates(cand)
    reg = md.train_per_domain(
        feats, n_estimators=3, max_depth=2, min_doc_freq=2,
    ).collect()
    assert len(reg) == 1
    assert reg[0].n_rows == 50, "skew cap must bound the per-domain fit"


def _mk_table(spark, tmp_path, rows):
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    df = spark.createDataFrame(rows, "o_orderkey long, price double")
    tbl = ParquetMergeTable(spark, str(tmp_path / "tbl"), "o_orderkey", num_buckets=4)
    tbl.create(df)
    return tbl


def test_merge_table_upsert_delete_insert(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(20)])
    updates = spark.createDataFrame(
        [(3, 33.0, "upsert"), (5, None, "delete"), (100, 1.5, "upsert")],
        "o_orderkey long, price double, op string",
    )
    tbl.merge(updates)
    got = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert got[3] == 33.0, "matched upsert must update"
    assert 5 not in got, "matched delete must remove the row"
    assert got[100] == 1.5, "unmatched upsert must insert"
    assert got[7] == 7.0, "untouched rows must survive"
    assert len(got) == 20  # 20 - 1 delete + 1 insert


def test_merge_table_crash_before_commit_preserves_snapshot(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(20)])
    updates = spark.createDataFrame(
        [(3, 99.0, "upsert"), (4, None, "delete")],
        "o_orderkey long, price double, op string",
    )
    # stage the merge (files written) but "crash" before the manifest
    # swap: readers must still see the original snapshot
    staged = tbl.staged_merge(updates)
    got = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert got[3] == 3.0 and 4 in got and len(got) == 20, (
        "un-committed merge must be invisible"
    )
    # restart: redo the whole merge (stage + commit) — must converge
    tbl.merge(updates)
    got = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert got[3] == 99.0 and 4 not in got and len(got) == 19
    assert staged["version"] == 2


def test_merge_table_rewrites_only_affected_buckets(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(40)])
    before = tbl._read_manifest()["buckets"]
    updates = spark.createDataFrame([(3, 99.0, "upsert")], "o_orderkey long, price double, op string")
    tbl.merge(updates)
    after = tbl._read_manifest()["buckets"]
    changed = [b for b in after if after[b] != before.get(b)]
    assert len(changed) == 1, f"single-key merge must rewrite one bucket, got {changed}"
    # copy-on-write: unchanged buckets still point at the ORIGINAL
    # files (identical relative paths across manifests)
    assert all(after[b] == before[b] for b in after if b not in changed)


def test_merge_table_time_travel_and_history(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(10)])
    tbl.merge(spark.createDataFrame([(3, 33.0, "upsert")], "o_orderkey long, price double, op string"))
    tbl.merge(spark.createDataFrame([(3, None, "delete")], "o_orderkey long, price double, op string"))
    assert [h["version"] for h in tbl.history()] == [1, 2, 3]
    v1 = {r.o_orderkey: r.price for r in tbl.read(version=1).collect()}
    v2 = {r.o_orderkey: r.price for r in tbl.read(version=2).collect()}
    now = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert v1[3] == 3.0 and v2[3] == 33.0 and 3 not in now
    assert len(v1) == 10 and len(v2) == 10 and len(now) == 9


def test_merge_table_vacuum_keeps_referenced_cow_files(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(10)])
    tbl.merge(spark.createDataFrame([(3, 33.0, "upsert")], "o_orderkey long, price double, op string"))
    tbl.merge(spark.createDataFrame([(3, 34.0, "upsert")], "o_orderkey long, price double, op string"))
    tbl.vacuum(keep_last=1)
    # old snapshots are gone...
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tbl.read(version=1)
    # ...but the current snapshot (which still references v1 bucket
    # dirs via copy-on-write) reads back whole
    got = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert got[3] == 34.0 and len(got) == 10


def test_range_bucketing_zone_map_pruning(spark, tmp_path):
    df = spark.range(0, 1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") * 2.0).alias("price")
    )
    tbl = inc.ParquetMergeTable(
        spark, str(tmp_path / "rt"), "o_orderkey", bucketing="range", range_width=100
    )
    tbl.create(df)
    rep = tbl.prune_report("o_orderkey", 150, 249)
    assert rep["scanned"] == ["1", "2"], rep
    assert len(rep["skipped"]) == 8
    got = sorted(r.o_orderkey for r in tbl.read_where("o_orderkey", 150, 249).collect())
    assert got == list(range(150, 250))
    # merge flows zone maps forward; pruning still exact afterwards
    tbl.merge(
        spark.createDataFrame(
            [(170, 999.0, "upsert"), (240, None, "delete")],
            "o_orderkey long, price double, op string",
        )
    )
    assert tbl.prune_report("o_orderkey", 150, 249)["scanned"] == ["1", "2"]
    after = {r.o_orderkey: r.price for r in tbl.read_where("o_orderkey", 150, 249).collect()}
    assert after[170] == 999.0 and 240 not in after and len(after) == 99
    # fully-pruned range: zero rows, schema intact
    assert tbl.read_where("o_orderkey", 5000, 6000).count() == 0


def test_spec_persists_for_new_openers(spark, tmp_path):
    path = str(tmp_path / "spec")
    tbl = inc.ParquetMergeTable(spark, path, "k", bucketing="range", range_width=100)
    tbl.create(
        spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    )
    # a fresh opener passing stale/default args adopts the table spec
    reopened = inc.ParquetMergeTable(spark, path, key_col="k", num_buckets=16)
    assert reopened.bucketing == "range" and reopened.range_width == 100
    # its range read prunes to one bucket under the recorded layout
    assert reopened.prune_report("k", 777, 777)["scanned"] == ["7"]
    # and its merges land in the recorded layout
    reopened.merge(spark.createDataFrame([(777, -1, "upsert")], "k long, v long, op string"))
    assert [r.v for r in tbl.read_where("k", 777, 777).collect()] == [-1]
    assert tbl.read().count() == 1000


def test_table_changes_classification_and_noop(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(10)])
    tbl.merge(
        spark.createDataFrame(
            [(3, 33.0, "upsert"), (4, None, "delete"), (100, 1.0, "upsert"),
             (5, 5.0, "upsert")],  # no-op update: same value
            "o_orderkey long, price double, op string",
        )
    )
    cdc = {r.o_orderkey: r for r in tbl.table_changes(1).collect()}
    assert cdc[3].change_type == "update" and cdc[3].old_price == 3.0 and cdc[3].new_price == 33.0
    assert cdc[4].change_type == "delete" and cdc[4].new_price is None
    assert cdc[100].change_type == "insert" and cdc[100].old_price is None
    assert 5 not in cdc, "unchanged value must not appear in the change feed"
    assert set(cdc) == {3, 4, 100}
    # self-diff is empty
    assert tbl.table_changes(2, 2).count() == 0


def test_empty_table_reads_with_recorded_schema(spark, tmp_path):
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    tbl = ParquetMergeTable(spark, str(tmp_path / "e"), "k", num_buckets=4)
    tbl.create(spark.createDataFrame([], "k long, v double"))
    df = tbl.read()
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<k:bigint,v:double>"
    # first merge into the empty table works
    tbl.merge(spark.createDataFrame([(1, 1.5, "upsert")], "k long, v double, op string"))
    assert [(r.k, r.v) for r in tbl.read().collect()] == [(1, 1.5)]


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(10)])
    # update batch ADDS a currency column
    tbl.merge(
        spark.createDataFrame(
            [(3, 33.0, "EUR", "upsert"), (100, 1.0, "USD", "upsert")],
            "o_orderkey long, price double, currency string, op string",
        )
    )
    got = {r.o_orderkey: r for r in tbl.read().collect()}
    assert got[3].currency == "EUR" and got[100].currency == "USD"
    assert got[7].currency is None, "pre-evolution rows null-fill the new column"
    assert len(got) == 11
    # CDC across the evolution sees the new column
    cdc = {r.o_orderkey: r for r in tbl.table_changes(1).collect()}
    assert cdc[3].change_type == "update" and cdc[3].new_currency == "EUR"
    assert cdc[100].change_type == "insert"
    # dropping an existing column is rejected (full-row upserts)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing existing columns"):
        tbl.merge(
            spark.createDataFrame([(3, "x", "upsert")], "o_orderkey long, currency string, op string")
        )


def test_merge_combine_folds_matched_values(spark, tmp_path):
    """combine= folds new into old inside the merge join (the ON
    DUPLICATE KEY UPDATE n = n + new.n shape) — no pre-read of
    current state needed by the caller."""
    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    tbl = ParquetMergeTable(spark, str(tmp_path / "cmb"), "k", num_buckets=4)
    tbl.create(spark.createDataFrame([(1, 10, 5), (2, 20, 9)], "k long, n long, mx long"))
    upd = spark.createDataFrame(
        [(1, 3, 2, "upsert"), (3, 7, 1, "upsert")], "k long, n long, mx long, op string"
    )
    tbl.merge(upd, combine={"n": "sum", "mx": "max"})
    got = {r.k: r for r in tbl.read().collect()}
    assert got[1].n == 13 and got[1].mx == 5, "matched: sum folds, max keeps larger"
    assert got[2].n == 20, "untouched row unchanged"
    assert got[3].n == 7 and got[3].mx == 1, "insert takes the new value"
    # aligned writes: each bucket dir holds exactly one data file
    import os

    m = tbl._read_manifest()
    for rel in m["buckets"].values():
        files = [f for f in os.listdir(os.path.join(tbl.path, rel)) if f.startswith("part-")]
        assert len(files) == 1, f"aligned write must emit one file per bucket, got {files}"


def test_late_stale_stage_write_cannot_clobber_published_files(spark, tmp_path):
    """OCC race hardening: a stale writer whose stage WRITE lands
    after another writer already published the same target version
    must not touch the published files (staging dirs are unique per
    writer; with a shared v{N} dir the late overwrite would delete
    files the committed manifest references)."""
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(20)])
    tbl.merge(
        spark.createDataFrame([(4, 44.0, "upsert")], "o_orderkey long, price double, op string")
    )  # table now at version 2
    before = sorted((r.o_orderkey, r.price) for r in tbl.read().collect())
    # the stale writer (staged on base v1) finishes writing its v2
    # files AFTER the commit above
    late = spark.createDataFrame([(3, 99.0)], "o_orderkey long, price double")
    entries, _ = tbl._write_buckets(late, 2)
    assert sorted((r.o_orderkey, r.price) for r in tbl.read().collect()) == before, (
        "published snapshot corrupted by a stale writer's late stage write"
    )
    # and the orphan never aliases a published path
    published = set(tbl._read_manifest()["buckets"].values())
    assert not (set(entries.values()) & published)


def test_table_changes_reads_only_changed_buckets(spark, tmp_path):
    import os

    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(200)])
    m1 = tbl._read_manifest()["buckets"]
    tbl.merge(
        spark.createDataFrame([(3, 99.0, "upsert")], "o_orderkey long, price double, op string")
    )
    m2 = tbl._read_manifest()["buckets"]
    changed_rel = {m1[b] for b in m1 if m1[b] != m2.get(b)} | {
        m2[b] for b in m2 if m1.get(b) != m2[b]
    }
    cdc = tbl.table_changes(1)
    rows = {r.o_orderkey: r for r in cdc.collect()}
    assert set(rows) == {3} and rows[3].change_type == "update"
    scanned = {
        os.path.relpath(os.path.dirname(f.removeprefix("file:")), tbl.path)
        for f in cdc.inputFiles()
    }
    assert scanned <= changed_rel, (
        f"CDC must read only manifest-diff buckets; scanned {scanned - changed_rel} extra"
    )
    assert len(changed_rel) == 2, "single-key merge: one old + one new bucket dir"


def test_read_buckets_and_affected_buckets_prune_paths(spark, tmp_path):
    import os

    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(200)])
    keys = spark.createDataFrame([(3,), (77,)], "o_orderkey long")
    touched = tbl.affected_buckets(keys)
    assert 1 <= len(touched) <= 2
    sub = tbl.read_buckets(touched)
    m = tbl._read_manifest()["buckets"]
    want = {m[b] for b in touched if b in m}
    scanned = {
        os.path.relpath(os.path.dirname(f.removeprefix("file:")), tbl.path)
        for f in sub.inputFiles()
    }
    assert scanned == want
    got = {r.o_orderkey for r in sub.collect()}
    assert {3, 77} <= got, "keys' prior state must be in the pruned read"
    # empty selection reads back typed-empty
    assert tbl.read_buckets([]).count() == 0


def test_stream_merge_never_reads_full_state_table(spark, tmp_path):
    """The streaming MERGE sink's per-batch combine must use the
    bucket-pruned read path, never a full-table read()."""
    from htmlentityextraction_spark.streaming import pipeline as sp

    topic = str(tmp_path / "topic")
    spark.createDataFrame(
        [(1, 2.0, "2024-01-01 00:00:00"), (2, 3.0, "2024-01-01 00:01:00")],
        "user_id long, value double, ts string",
    ).select("user_id", "value", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(topic)
    tbl = inc.ParquetMergeTable(spark, str(tmp_path / "t"), key_col="user_id", num_buckets=8)
    tbl.create(
        spark.createDataFrame([], "user_id long, n_events long, sum_cents long, last_us long")
    )

    def full_read_forbidden(version=None):
        raise AssertionError("stream_merge_into called full tbl.read() per batch")

    orig = tbl.read
    tbl.read = full_read_forbidden
    try:
        stream = sp.read_events_stream(spark, "unused", events_dir=topic)
        sp.stream_merge_into(stream, tbl).await_done()
    finally:
        tbl.read = orig
    got = {r.user_id: r for r in tbl.read().collect()}
    assert got[1].n_events == 1 and got[1].sum_cents == 200
    assert got[2].sum_cents == 300


def test_prune_report_date_bounds_degrade_to_scan(spark, tmp_path):
    import datetime

    from htmlentityextraction_spark.operators.incremental import ParquetMergeTable

    # zone maps cover the key only, so the date column is the key
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 6, 1))],
        "o_orderkey long, d date",
    )
    tbl = ParquetMergeTable(spark, str(tmp_path / "dt"), "d", num_buckets=2)
    tbl.create(df)
    # date bounds normalize through the manifest's ISO encoding and
    # prune correctly instead of raising TypeError
    rep = tbl.prune_report("d", datetime.date(2024, 5, 1), datetime.date(2024, 12, 31))
    assert set(rep["scanned"]) | set(rep["skipped"]) == set(
        tbl._read_manifest()["buckets"]
    )
    got = sorted(
        r.o_orderkey
        for r in tbl.read_where(
            "d", datetime.date(2024, 5, 1), datetime.date(2024, 12, 31)
        ).collect()
    )
    assert got == [2]
    # an incomparable bound (numeric vs date stats) degrades to scan
    rep2 = tbl.prune_report("d", 123, 456)
    assert rep2["skipped"] == [] or rep2["scanned"], "never raises, conservatively scans"


def test_concurrent_commit_rejected_then_retry_succeeds(spark, tmp_path):
    from htmlentityextraction_spark.operators.incremental import ConcurrentWriteError

    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(20)])
    upd_a = spark.createDataFrame([(3, 33.0, "upsert")], "o_orderkey long, price double, op string")
    upd_b = spark.createDataFrame([(4, 44.0, "upsert")], "o_orderkey long, price double, op string")
    staged_a = tbl.staged_merge(upd_a)
    # writer B lands first
    tbl.merge(upd_b)
    # A's commit must be refused — last-writer-wins would drop B's work
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriteError, match="re-stage"):
        tbl.commit(staged_a)
    got = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert got[4] == 44.0 and got[3] == 3.0, "rejected commit must change nothing"
    # retry path: re-stage on the new base, both writers' effects land
    tbl.merge(upd_a)
    got = {r.o_orderkey: r.price for r in tbl.read().collect()}
    assert got[3] == 33.0 and got[4] == 44.0


def test_merge_join_strategy_gate_and_equivalence(spark, tmp_path, monkeypatch):
    """Optimization r12 (guide §3.2): a provably small update batch
    merges via a shuffled-hash join built on the delta (skipping both
    full-outer SMJ sorts); patching the build-size gate to 0 restores
    sort-merge (the shape a table-scale batch gets). Both arms must
    produce byte-identical snapshots — upsert, delete, insert, and
    combine semantics included."""
    from htmlentityextraction_spark.operators import incremental as inc

    plans: list[str] = []
    orig = inc.ParquetMergeTable._write_buckets

    def capturing(self, df, version):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, df, version)

    monkeypatch.setattr(inc.ParquetMergeTable, "_write_buckets", capturing)
    production_budget = inc._SHJ_BUILD_BYTES_PER_PART

    def run(arm: str):
        # arm "0" = force sort-merge by shrinking the hash-build budget
        # to nothing; arm "1" = the production gate
        monkeypatch.setattr(
            inc, "_SHJ_BUILD_BYTES_PER_PART", 0 if arm == "0" else production_budget
        )
        tbl = _mk_table(
            spark, tmp_path / f"arm{arm}", [(i, float(i)) for i in range(40)]
        )
        updates = spark.createDataFrame(
            [(3, 33.0, "upsert"), (5, None, "delete"), (100, 1.5, "upsert"),
             (7, 2.0, "upsert")],
            "o_orderkey long, price double, op string",
        )
        plans.clear()
        tbl.merge(updates, combine={"price": "sum"})
        merge_plan = plans[-1]
        return {r.o_orderkey: r.price for r in tbl.read().collect()}, merge_plan

    got_smj, plan_smj = run("0")
    got_shj, plan_shj = run("1")
    assert got_smj == got_shj, "join strategy must not change merge results"
    assert got_shj[7] == 9.0 and got_shj[3] == 36.0  # combine sum applied
    assert 5 not in got_shj and got_shj[100] == 1.5
    # plan contract: the tiny batch takes the hash build; the kill
    # switch keeps sort-merge (also the shape a table-scale batch gets)
    assert "ShuffledHashJoin" in plan_shj and "FullOuter" in plan_shj
    assert "SortMergeJoin" in plan_smj and "ShuffledHashJoin" not in plan_smj


@pytest.mark.parametrize(
    "name",
    [
        "merge_incremental_orders",
        "mergetable_pruned_range_read",
        "mergetable_schema_evolution",
        "mergetable_schema_drop_widen",
    ],
)
def test_failed_merge_releases_the_persisted_spine(spark, sf_dir, monkeypatch, name):
    """Each merge query persists its orders spine for the build. A
    spine still cached after a failed merge is plan-keyed, so the next
    run of the query would silently reuse it: the release must not
    depend on the merge succeeding."""
    import __spark_entry__ as entry

    def failing_merge(self, *args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(inc.ParquetMergeTable, "merge", failing_merge)
    before = cached_plans(spark)
    with pytest.raises(RuntimeError, match="merge failed"):
        entry.queries()[name](spark, sf_dir)
    assert cached_plans(spark) <= before


@pytest.mark.parametrize("name", ["mergetable_pruned_range_read", "mergetable_zorder_read"])
def test_read_band_selects_rows_at_the_smallest_scale(spark, sf_dir, name):
    """The oracle gate of a range read proves nothing when both sides
    are empty: each query's band must select rows in the smallest
    fixture too."""
    import __spark_entry__ as entry

    assert entry.queries()[name](spark, sf_dir).count() > 0


def test_merge_releases_its_cached_batch_on_every_exit(spark, tmp_path):
    """staged_merge caches the update batch for its two passes; a no-op
    merge, a refused one and one that casts a narrow batch up must each
    leave Spark's cache as they found it."""
    tbl = _mk_table(spark, tmp_path, [(i, float(i)) for i in range(8)])
    before = cached_plans(spark)
    tbl.merge(spark.createDataFrame([], "o_orderkey long, price double, op string"))
    assert cached_plans(spark) == before, "no-op merge"
    refusals = [
        ("missing existing columns", "o_orderkey long, op string", [(1, "upsert")], None),
        ("lossless widenings", "o_orderkey long, price string, op string", [(1, "x", "upsert")], None),
        ("sum\\|max\\|min", "o_orderkey long, price double, op string", [(1, 2.0, "upsert")], {"price": "avg"}),
    ]
    for match, schema, rows, combine in refusals:
        with pytest.raises(ValueError, match=match):
            tbl.merge(spark.createDataFrame(rows, schema), combine)
        assert cached_plans(spark) == before, match
    tbl.merge(spark.createDataFrame([(1, 1.5, "upsert")], "o_orderkey long, price float, op string"))
    assert cached_plans(spark) == before, "merge of a narrower batch"
    assert {r.o_orderkey: r.price for r in tbl.read().collect()}[1] == 1.5


def test_merge_into_new_buckets_checks_the_recorded_schema(spark, tmp_path):
    """A merge whose keys land only in buckets the table does not hold
    yet (every merge into an empty table) evolves, widens and checks
    the batch against the recorded schema like any other merge."""
    def empty_table(name, schema):
        tbl = inc.ParquetMergeTable(spark, str(tmp_path / name), "k", num_buckets=4)
        tbl.create(spark.createDataFrame([], schema))
        return tbl

    added = empty_table("added", "k long, price double")
    added.merge(spark.createDataFrame([(1, 1.0, "x", "upsert")], "k long, price double, tag string, op string"))
    assert [tuple(r) for r in added.read().collect()] == [(1, 1.0, "x")]

    widened = empty_table("widened", "k long, qty int")
    widened.merge(spark.createDataFrame([(1, 2**40, "upsert")], "k long, qty long, op string"))
    assert [tuple(r) for r in widened.read().collect()] == [(1, 2**40)]

    missing = empty_table("missing", "k long, price double")
    with pytest.raises(ValueError, match="missing existing columns"):
        missing.merge(spark.createDataFrame([(1, "upsert")], "k long, op string"))
