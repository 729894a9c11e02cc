"""Merge-table schema evolution (round-7, VERDICT r6 item 8):
column RENAME as a metadata-only commit via Delta-style column
mapping (physical names never change, no bucket rewrite), column ADD
through merge (already supported) interacting with renames, and CDC
across a rename boundary."""

from __future__ import annotations

import pytest

from htmlentityextraction_spark.operators.incremental import ParquetMergeTable


def _mk(spark, path, n=12):
    tbl = ParquetMergeTable(spark, path, "k", num_buckets=4)
    tbl.create(
        spark.createDataFrame(
            [(i, float(i), f"s{i}") for i in range(n)],
            "k long, price double, tag string",
        )
    )
    return tbl


# ---------------------------------------------------------------- rename


def test_rename_is_metadata_only_and_time_travel_keeps_old_names(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    before = tbl._read_manifest()
    tbl.rename_column("price", "unit_price")
    after = tbl._read_manifest()
    # metadata-only: every bucket path identical, one version bump
    assert after["buckets"] == before["buckets"]
    assert after["version"] == before["version"] + 1
    # current read shows the new logical name with the old values
    cur = tbl.read()
    assert "unit_price" in cur.columns and "price" not in cur.columns
    assert {r.k: r.unit_price for r in cur.collect()}[7] == 7.0
    # time travel shows each snapshot under ITS names
    old = tbl.read(version=before["version"])
    assert "price" in old.columns and "unit_price" not in old.columns


def test_rename_guards(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="bucketing key"):
        tbl.rename_column("k", "key2")
    with pytest.raises(ValueError, match="no such column"):
        tbl.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("price", "tag")
    # double rename walks the chain back to the same physical column
    tbl.rename_column("price", "p2")
    tbl.rename_column("p2", "p3")
    assert {r.k: r.p3 for r in tbl.read().collect()}[3] == 3.0


def test_merge_under_new_name_and_pruned_reads(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    tbl.rename_column("price", "unit_price")
    # upserts arrive under the LOGICAL name and land in the physical
    # column; combine semantics translate too
    tbl.merge(
        spark.createDataFrame(
            [(3, 100.0, "x3", "upsert"), (50, 0.5, "nw", "upsert")],
            "k long, unit_price double, tag string, op string",
        ),
        combine={"unit_price": "sum"},
    )
    got = {r.k: r.unit_price for r in tbl.read().collect()}
    assert got[3] == 103.0 and got[50] == 0.5
    # the logical name resolves for pruning; a non-key column has no
    # zone map, so the report conservatively scans every bucket
    rep = tbl.prune_report("unit_price", 90.0, 1e9)
    assert rep["skipped"] == [] and rep["scanned"] == sorted(tbl._read_manifest()["buckets"])
    vals = {r.unit_price for r in tbl.read_where("unit_price", 90.0, 1e9).collect()}
    assert vals == {103.0}


def test_add_column_colliding_with_retired_physical_name(spark, tmp_path):
    # rename price -> unit_price (physical stays "price"), then ADD a
    # NEW logical column named "price": it must get its own storage,
    # never silently overwrite unit_price's physical column
    tbl = _mk(spark, str(tmp_path / "t"), n=4)
    tbl.rename_column("price", "unit_price")
    tbl.merge(
        spark.createDataFrame(
            [(0, 0.0, "s0", 9.99, "upsert")],
            "k long, unit_price double, tag string, price double, op string",
        )
    )
    row = {r.k: r for r in tbl.read().collect()}
    assert row[0].unit_price == 0.0 and row[0].price == 9.99
    assert row[1].unit_price == 1.0 and row[1].price is None
    m = tbl._read_manifest()
    # both logical names exist, mapped to DISTINCT physical columns
    assert m["mapping"]["unit_price"] == "price"
    assert m["mapping"]["price"] != "price"


def test_table_changes_across_rename_boundary(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"), n=6)  # v1
    tbl.merge(
        spark.createDataFrame(
            [(2, 22.0, "s2", "upsert")], "k long, price double, tag string, op string"
        )
    )  # v2
    tbl.rename_column("price", "unit_price")  # v3 (metadata only)
    tbl.merge(
        spark.createDataFrame(
            [(2, 222.0, "s2", "upsert")],
            "k long, unit_price double, tag string, op string",
        )
    )  # v4
    # CDC spanning the rename: physical diff stays aligned, output
    # uses the TO-version's logical names
    ch = tbl.table_changes(1, 4)
    assert "old_unit_price" in ch.columns and "new_unit_price" in ch.columns
    rows = {r.k: r for r in ch.collect()}
    assert rows[2].change_type == "update"
    assert rows[2].old_unit_price == 2.0 and rows[2].new_unit_price == 222.0
    # CDC ending BEFORE the rename keeps the old logical names
    ch_old = tbl.table_changes(1, 2)
    assert "old_price" in ch_old.columns


def test_zorder_optimize_survives_rename(spark, tmp_path):
    tbl = _mk(spark, str(tmp_path / "t"))
    tbl.rename_column("price", "unit_price")
    # z-order by the logical name; the rewrite reads physical columns
    tbl.optimize(zorder_by=["k", "unit_price"])
    assert {r.k: r.unit_price for r in tbl.read().collect()}[5] == 5.0
    # range reads on the renamed column stay exact after the rewrite
    assert set(tbl.read_where("unit_price", 4.9, 5.1).select("k").toPandas()["k"]) == {5}
