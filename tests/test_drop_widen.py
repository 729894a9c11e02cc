"""Round-8 merge-table evolution surface: column DROP (metadata-only,
column-mapping model), type WIDENING through MERGE, both through CDC,
plus the commit-path crash matrix —
every pre-swap failure residue must leave readers on an intact
snapshot and a retried commit must converge."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from htmlentityextraction_spark.operators import incremental as inc
from htmlentityextraction_spark.operators.incremental import (
    ConcurrentWriteError,
    ParquetMergeTable,
)


def _mk(spark, path, n=12):
    tbl = ParquetMergeTable(spark, path, "k", num_buckets=4)
    tbl.create(
        spark.createDataFrame(
            [(i, float(i), f"s{i}") for i in range(n)],
            "k long, price double, tag string",
        )
    )
    return tbl


# ------------------------------------------------------------------- drop


def test_drop_is_metadata_only_and_time_travel_keeps_column(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    before = tbl._read_manifest()
    tbl.drop_column("tag")
    after = tbl._read_manifest()
    assert after["buckets"] == before["buckets"], "drop must rewrite nothing"
    assert after["version"] == before["version"] + 1
    cur = tbl.read()
    assert set(cur.columns) == {"k", "price"}
    assert {r.k: r.price for r in cur.collect()}[7] == 7.0
    # time travel still shows the column at its pre-drop snapshot
    old = tbl.read(version=before["version"])
    assert "tag" in old.columns
    assert {r.k: r.tag for r in old.collect()}[7] == "s7"


def test_drop_guards_and_retired_name_probes(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="bucketing key"):
        tbl.drop_column("k")
    with pytest.raises(ValueError, match="no such column"):
        tbl.drop_column("nope")
    tbl.drop_column("tag")
    with pytest.raises(ValueError, match="no such column"):
        tbl.drop_column("tag")  # double drop
    # probes for the retired name must raise, never resolve to storage
    for probe in (
        lambda: tbl.prune_report("tag", "a", "z"),
        lambda: tbl.read_where("tag", "a", "z"),
    ):
        with pytest.raises(ValueError, match="renamed or dropped"):
            probe()


def test_probe_for_renamed_away_name_raises(spark, tmp_path):
    # the ADVICE scenario: after rename price -> unit_price, a probe
    # for 'price' must not silently return unit_price's storage
    tbl = _mk(spark, str(tmp_path / "t"))
    tbl.rename_column("price", "unit_price")
    with pytest.raises(ValueError, match="renamed or dropped"):
        tbl.prune_report("price", 1.0, 2.0)
    with pytest.raises(ValueError, match="renamed or dropped"):
        tbl.read_where("price", 1.0, 2.0)


def test_merge_after_drop_and_readd_mints_fresh_storage(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), n=6)
    tbl.drop_column("tag")
    # full-row upserts no longer require the dropped column
    tbl.merge(
        spark.createDataFrame(
            [(2, 22.0, "upsert")], "k long, price double, op string"
        )
    )
    got = {r.k: r.price for r in tbl.read().collect()}
    assert got[2] == 22.0 and got[3] == 3.0 and len(got) == 6
    # re-ADD a column with the dropped name: fresh storage, old values
    # must NOT resurrect on rows the new batch didn't touch
    tbl.merge(
        spark.createDataFrame(
            [(0, 0.0, "fresh", "upsert")],
            "k long, price double, tag string, op string",
        )
    )
    rows = {r.k: r for r in tbl.read().collect()}
    assert rows[0].tag == "fresh"
    assert rows[3].tag is None, "dropped values must not resurrect"
    m = tbl._read_manifest()
    assert m["mapping"]["tag"] != "tag", "re-add must mint a fresh physical name"
    assert "tag" in (m.get("dropped") or [])


def test_rewrites_progressively_retire_dropped_column(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), n=8)
    tbl.drop_column("tag")
    tbl.optimize(zorder_by=["k", "price"])
    m = tbl._read_manifest()
    for rel in m["buckets"].values():
        df = spark.read.parquet(os.path.join(str(tmp_path / "t"), rel))
        assert "tag" not in df.columns, "rewrite must retire the column physically"
    assert {r.k: r.price for r in tbl.read().collect()}[5] == 5.0


def test_cdc_across_drop_boundary(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), n=6)  # v1
    tbl.merge(
        spark.createDataFrame(
            [(1, 11.0, "x1", "upsert")], "k long, price double, tag string, op string"
        )
    )  # v2
    tbl.drop_column("tag")  # v3 (metadata only)
    tbl.merge(
        spark.createDataFrame(
            [(2, 22.0, "upsert")], "k long, price double, op string"
        )
    )  # v4
    # the metadata-only drop step contributes ZERO change rows
    assert tbl.table_changes(2, 3).count() == 0
    # a diff spanning the drop uses the TO version's column set: no
    # old_tag/new_tag, and no fabricated updates from the column loss
    ch = tbl.table_changes(1, 4)
    assert not [c for c in ch.columns if c.endswith("_tag")]
    rows = {r.k: r for r in ch.collect()}
    assert set(rows) == {1, 2}, f"only real updates, got {sorted(rows)}"
    assert rows[1].new_price == 11.0 and rows[2].new_price == 22.0
    # a diff ending BEFORE the drop still carries the column
    ch_old = tbl.table_changes(1, 2)
    assert "new_tag" in ch_old.columns


# --------------------------------------------------------------- widening


def test_merge_widens_int_to_long_and_float_to_double(spark, tmp_path):
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), "k", num_buckets=4)
    tbl.create(
        spark.createDataFrame(
            [(i, i * 10, float(i)) for i in range(12)],
            "k long, qty int, score float",
        )
    )
    # batch carries qty as BIGINT and score as DOUBLE -> table widens
    tbl.merge(
        spark.createDataFrame(
            [(3, 3_000_000_000, 3.5, "upsert")],
            "k long, qty long, score double, op string",
        )
    )
    cur = tbl.read()
    assert dict(cur.dtypes)["qty"] == "bigint"
    assert dict(cur.dtypes)["score"] == "double"
    got = {r.k: r for r in cur.collect()}
    assert got[3].qty == 3_000_000_000
    # untouched buckets (narrow files) upcast at scan time
    assert got[7].qty == 70 and abs(got[7].score - 7.0) < 1e-9
    # the widened schema is the manifest authority: empty reads too
    assert dict(tbl.read_buckets([]).dtypes)["qty"] == "bigint"
    # time travel keeps the narrow type
    assert dict(tbl.read(version=1).dtypes)["qty"] == "int"


def test_narrow_batch_upcasts_into_stored_type(spark, tmp_path):
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), "k", num_buckets=4)
    tbl.create(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "k long, qty long")
    )
    tbl.merge(
        spark.createDataFrame([(2, 99, "upsert")], "k long, qty int, op string")
    )
    cur = tbl.read()
    assert dict(cur.dtypes)["qty"] == "bigint", "table type must not narrow"
    assert {r.k: r.qty for r in cur.collect()}[2] == 99


def test_illegal_type_change_fails_loudly(spark, tmp_path):
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), "k", num_buckets=4)
    tbl.create(spark.createDataFrame([(1, 10)], "k long, qty long"))
    with pytest.raises(ValueError, match="lossless widenings"):
        tbl.merge(
            spark.createDataFrame(
                [(1, "ten", "upsert")], "k long, qty string, op string"
            )
        )


def test_key_type_guard(spark, tmp_path):
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), "k", num_buckets=4)
    tbl.create(spark.createDataFrame([(i, float(i)) for i in range(8)], "k long, price double"))
    # NARROW batch key upcasts before bucketing (hash is type-sensitive)
    tbl.merge(
        spark.createDataFrame([(3, 33.0, "upsert")], "k int, price double, op string")
    )
    got = {r.k: r.price for r in tbl.read().collect()}
    assert got[3] == 33.0 and len(got) == 8, "no phantom second row for key 3"
    # WIDER batch key is refused — it would relocate every bucket
    tbl2 = ParquetMergeTable(spark, str(tmp_path / "t2"), "k", num_buckets=4)
    tbl2.create(spark.createDataFrame([(1, 1.0)], "k int, price double"))
    with pytest.raises(ValueError, match="key.*type"):
        tbl2.merge(
            spark.createDataFrame([(2, 2.0, "upsert")], "k long, price double, op string")
        )


# ------------------------------------------------------------ crash matrix


def _crash_residues(tbl, staged):
    """Simulate each distinct residue a writer crash can leave between
    staging and the manifest-pointer swap. The staged FILES already
    exist (staged_merge wrote them); each entry adds the metadata
    residue of dying one step further into commit()."""
    v = staged["version"]
    return {
        "staged_only": lambda: None,
        "holding_lock": lambda: open(
            os.path.join(tbl.path, "_commit.lock"), "w"
        ).close(),
        "orphan_version_file": lambda: json.dump(
            staged, open(os.path.join(tbl.path, f"manifest-v{v}.json"), "w")
        ),
        "tmp_pointer": lambda: json.dump(
            staged, open(os.path.join(tbl.path, "manifest.json.tmp"), "w")
        ),
    }


@pytest.mark.parametrize(
    "residue", ["staged_only", "holding_lock", "orphan_version_file", "tmp_pointer"]
)
def test_commit_crash_matrix_readers_intact_and_retry_converges(
    spark, tmp_path, monkeypatch, residue
):
    monkeypatch.setattr(inc, "_STALE_LOCK_SEC", 0.0)
    tbl = _mk(spark, str(tmp_path / "t"), n=10)
    updates = spark.createDataFrame(
        [(3, 99.0, "zz", "upsert"), (4, None, None, "delete")],
        "k long, price double, tag string, op string",
    )
    staged = tbl.staged_merge(updates)
    _crash_residues(tbl, staged)[residue]()

    # 1) reader invariants: old snapshot fully intact, residue invisible
    got = {r.k: r.price for r in tbl.read().collect()}
    assert got[3] == 3.0 and 4 in got and len(got) == 10
    assert tbl._read_manifest()["version"] == 1
    assert [h["version"] for h in tbl.history()] == [1]
    assert [r.version for r in tbl.snapshots().collect()] == [1]
    with pytest.raises(FileNotFoundError, match="not published"):
        tbl.read(version=staged["version"])
    assert tbl.verify_integrity()["ok"]

    # 2) a retried commit of the same staged manifest converges
    # (_STALE_LOCK_SEC=0 lets the retry break the dead writer's lock)
    tbl.commit(staged)
    got = {r.k: r.price for r in tbl.read().collect()}
    assert got[3] == 99.0 and 4 not in got and len(got) == 9
    assert [h["version"] for h in tbl.history()] == [1, 2]
    assert tbl.verify_integrity()["ok"]


def test_stale_lock_is_broken_but_fresh_lock_blocks(spark, tmp_path, monkeypatch):
    import time

    # threshold must exceed the ~5 s retry window, or the "fresh" lock
    # legitimately goes stale while the loop waits
    monkeypatch.setattr(inc, "_STALE_LOCK_SEC", 30.0)
    tbl = _mk(spark, str(tmp_path / "t"), n=4)
    staged = tbl.staged_merge(
        spark.createDataFrame(
            [(0, 5.0, "x", "upsert")], "k long, price double, tag string, op string"
        )
    )
    lock = os.path.join(tbl.path, "_commit.lock")
    open(lock, "w").close()
    with pytest.raises(TimeoutError):
        tbl.commit(staged)  # fresh lock: a live writer holds it
    os.utime(lock, (time.time() - 60, time.time() - 60))  # now stale
    tbl.commit(staged)
    assert tbl._read_manifest()["version"] == 2


def test_vacuum_spares_inflight_staging_and_removes_orphans(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), n=8)
    tbl.merge(
        spark.createDataFrame(
            [(1, 11.0, "a", "upsert")], "k long, price double, tag string, op string"
        )
    )  # v2 published
    # writer A stages v3 but hasn't committed; writer B crashed after
    # writing its orphan version file
    staged = tbl.staged_merge(
        spark.createDataFrame(
            [(2, 22.0, "b", "upsert")], "k long, price double, tag string, op string"
        )
    )
    orphan = os.path.join(tbl.path, "manifest-v99.json")
    json.dump({"version": 99, "buckets": {}}, open(orphan, "w"))
    deleted = tbl.vacuum(keep_last=1)
    assert not os.path.exists(orphan), "orphan version file must be reclaimed"
    staged_dirs = {
        rel for rel in staged["buckets"].values() if rel not in
        tbl._manifest_for(2)["buckets"].values()
    }
    for rel in staged_dirs:
        assert os.path.isdir(os.path.join(tbl.path, rel)), (
            "in-flight staging dirs must survive vacuum"
        )
    assert all(not d.startswith("v3") for d in deleted)
    # the staged merge still commits fine after the vacuum
    tbl.commit(staged)
    assert {r.k: r.price for r in tbl.read().collect()}[2] == 22.0
    assert tbl.verify_integrity()["ok"]


def test_snapshots_lists_retained_tail_after_vacuum(spark, tmp_path):
    # the snapshots metadata table must list the RETAINED versions
    # after vacuum drops old ones (a contiguous scan from v1 returned
    # an empty table the moment v1 was vacuumed)
    tbl = _mk(spark, str(tmp_path / "t"), n=6)
    for k in (1, 2):
        tbl.merge(
            spark.createDataFrame(
                [(k, k * 100.0, "u", "upsert")],
                "k long, price double, tag string, op string",
            )
        )  # v2, v3
    tbl.vacuum(keep_last=2)
    assert [r.version for r in tbl.snapshots().collect()] == [2, 3]
    assert [h["version"] for h in tbl.history()] == [2, 3]


def test_release_never_unlinks_a_regranted_lock(spark, tmp_path, monkeypatch):
    """Ownership-verified release: a holder that outlived
    _STALE_LOCK_SEC and was broken must NOT strip the NEXT holder's
    lock on its way out (the double-grant the r9 lock hardening
    closes)."""
    import time

    monkeypatch.setattr(inc, "_STALE_LOCK_SEC", 0.0)
    tbl = _mk(spark, str(tmp_path / "t"), n=4)
    lease_a = tbl._acquire_lock()
    time.sleep(0.01)  # age > 0 => instantly stale under _STALE_LOCK_SEC=0
    lease_b = tbl._acquire_lock()  # breaks A's lock, grants B
    lock = os.path.join(tbl.path, "_commit.lock")
    with open(lock) as f:
        assert f.read() == lease_b["token"]

    tbl._release_lock(lease_a)  # A exits late: must be a no-op
    assert os.path.exists(lock), "A's release stripped B's lock"
    with open(lock) as f:
        assert f.read() == lease_b["token"]

    tbl._release_lock(lease_b)
    assert not os.path.exists(lock)


def test_heartbeat_keeps_long_held_lock_fresh(spark, tmp_path, monkeypatch):
    """A holder legitimately outliving _STALE_LOCK_SEC (long vacuum) is
    protected by the mtime heartbeat: a second writer keeps seeing a
    FRESH lock and times out instead of breaking it."""
    monkeypatch.setattr(inc, "_STALE_LOCK_SEC", 0.6)
    # > _STALE_LOCK_SEC: a break would happen without the heartbeat
    monkeypatch.setattr(inc, "_LOCK_TIMEOUT_SEC", 1.5)
    tbl = _mk(spark, str(tmp_path / "t"), n=4)
    contender = ParquetMergeTable(spark, tbl.path, "k", num_buckets=4)
    lease = tbl._acquire_lock()
    try:
        with pytest.raises(TimeoutError):
            contender._acquire_lock()
    finally:
        tbl._release_lock(lease)
    # once released, the contender acquires immediately
    lease2 = contender._acquire_lock()
    contender._release_lock(lease2)
