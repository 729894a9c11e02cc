"""Manifest-format contract: every path that publishes a snapshot
writes the one manifest format ``ParquetMergeTable`` reads — a recorded
schema, the bucket spec, a ``__rows`` count for every bucket, and bucket
dirs under a ``v<N>-<hex>`` staging dir. The readers have no branch for
a manifest without these."""

from __future__ import annotations

import json
import os
import re

import pytest

from htmlentityextraction_spark.operators.incremental import OP_DELETE, OP_UPSERT, ParquetMergeTable

SCHEMA = "k long, price double, tag string"
ROWS = [(i, float(i), f"t{i % 3}") for i in range(24)]


def _create_empty(spark, tbl):
    tbl.create(spark.createDataFrame([], SCHEMA))


def _create(spark, tbl):
    tbl.create(spark.createDataFrame(ROWS, SCHEMA))


def _merge(spark, tbl):
    _create(spark, tbl)
    tbl.merge(
        spark.createDataFrame(
            [(3, 33.0, "u", OP_UPSERT), (5, None, None, OP_DELETE), (100, 1.5, "n", OP_UPSERT)],
            f"{SCHEMA}, op string",
        )
    )


def _empty_merge(spark, tbl):
    _create(spark, tbl)
    tbl.merge(spark.createDataFrame([], f"{SCHEMA}, op string"))


def _rename_column(spark, tbl):
    _create(spark, tbl)
    tbl.rename_column("price", "unit_price")


def _drop_column(spark, tbl):
    _create(spark, tbl)
    tbl.drop_column("tag")


def _optimize(spark, tbl):
    _create(spark, tbl)
    tbl.optimize(["k", "price"])


PATHS = {
    "create_empty": _create_empty,
    "create": _create,
    "merge": _merge,
    "empty_merge": _empty_merge,
    "rename_column": _rename_column,
    "drop_column": _drop_column,
    "optimize": _optimize,
}


def _assert_manifest_format(path: str, m: dict) -> None:
    assert json.loads(m["schema"])["type"] == "struct"
    assert set(m["spec"]) == {"num_buckets", "bucketing", "range_width", "key_col"}
    assert set(m["stats"]) == set(m["buckets"]), "a __rows count for every bucket, and no other"
    for b, rel in m["buckets"].items():
        assert isinstance(m["stats"][b]["__rows"], int) and m["stats"][b]["__rows"] > 0
        mv = re.fullmatch(r"v(\d+)-[0-9a-f]+/__bucket=(.+)", rel)
        assert mv and int(mv.group(1)) <= m["version"] and mv.group(2) == b, rel
        assert os.path.isdir(os.path.join(path, rel))


@pytest.mark.parametrize("bucketing", ["hash", "range"])
@pytest.mark.parametrize("publish", sorted(PATHS))
def test_every_publishing_path_writes_the_one_manifest_format(spark, tmp_path, publish, bucketing):
    path = str(tmp_path / "t")
    tbl = ParquetMergeTable(spark, path, "k", num_buckets=4, bucketing=bucketing, range_width=10)
    PATHS[publish](spark, tbl)
    pointer = tbl._read_manifest()
    versions = sorted(
        int(n[len("manifest-v"):-len(".json")]) for n in os.listdir(path) if n.startswith("manifest-v")
    )
    assert versions == list(range(1, pointer["version"] + 1))
    for v in versions:
        with open(os.path.join(path, f"manifest-v{v}.json")) as f:
            m = json.load(f)
        assert m["version"] == v
        _assert_manifest_format(path, m)
    with open(os.path.join(path, f"manifest-v{pointer['version']}.json")) as f:
        assert json.load(f) == pointer


def test_range_table_refuses_a_null_key(spark, tmp_path):
    """A null key has no range bucket; writing one would publish a
    bucket without a ``__rows`` count."""
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"), "k", bucketing="range", range_width=10)
    with pytest.raises(ValueError, match="holds nulls"):
        tbl.create(spark.createDataFrame([(1, 1.0, "a"), (None, 2.0, "b")], SCHEMA))
    assert not os.path.exists(os.path.join(tbl.path, "manifest.json"))
