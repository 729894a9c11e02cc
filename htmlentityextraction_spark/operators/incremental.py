"""Incremental batch processing over a copy-on-write MERGE table
(SURVEY K3/K8 upsert + anti-upsert): ``ParquetMergeTable`` keeps
key-bucketed parquet under an atomic manifest, so a trickle merge
rewrites only the buckets its keys land in, and ``table_changes``
reads the change feed between two versions from the manifest diff.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import re
import shutil
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from htmlentityextraction_spark.operators.zorder import scale_to_bits, zvalue_n


# ---------------------------------------------------------------------------
# Copy-on-write MERGE table (K3/K8 upsert + anti-upsert as a table format)
# ---------------------------------------------------------------------------

OP_UPSERT = "upsert"
OP_DELETE = "delete"

# legal (from, to) physical type widenings for schema evolution — the
# lossless core of Delta's type-widening feature; every pair is also a
# widening conversion Spark's parquet readers apply at scan time
# (SPARK-40876), so untouched narrow bucket files stay readable under
# the widened manifest schema without a rewrite
_WIDENINGS = frozenset(
    {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"),
        ("smallint", "double"),
        ("int", "double"),
    }
)

# max estimated hash-build bytes per shuffle partition for the merge
# join's shuffled-hash gate: a delta estimated under this per-partition
# budget hash-builds (skips both full-outer SMJ sorts); anything bigger
# keeps the spill-safe sort-merge plan. Module-level so tests can
# patch it to 0 to force the sort-merge arm deterministically.
_SHJ_BUILD_BYTES_PER_PART = 8 * 1024 * 1024

# every write shuffles by bucket so each bucket is written by one task;
# a fat bucket still splits into files of at most this many rows
# (Spark's maxRecordsPerFile), so alignment never makes unboundedly
# large files at scale
_MAX_RECORDS_PER_FILE = 5_000_000

# commit lock: a lock file older than _STALE_LOCK_SEC is a crashed
# writer's residue and is broken; _acquire_lock gives up after
# _LOCK_TIMEOUT_SEC of wall clock. Both are read at call time, so
# tests patch them the way they patch _SHJ_BUILD_BYTES_PER_PART.
_STALE_LOCK_SEC = 600.0
_LOCK_TIMEOUT_SEC = 5.0

# parquet.block.size of an optimize rewrite: the row group is the unit
# a pushed-down predicate skips. Read at call time, so tests patch it.
_ZORDER_ROW_GROUP_BYTES = 256 * 1024


class ConcurrentWriteError(RuntimeError):
    """Another writer published a snapshot between staging and commit;
    the staged merge must be re-staged on the current base."""


class ParquetMergeTable:
    """Minimal copy-on-write table format supporting incremental MERGE
    (matched → update, matched tombstone → delete, unmatched → insert)
    over key-bucketed parquet with an atomic manifest swap.

    This is the table-format answer to the reference's mutable-store
    sinks: MySQL ``INSERT … ON DUPLICATE KEY UPDATE``
    (`analytics/UpdateProdMetrics.scala:264-306`) and Cassandra CQL
    DELETE (`emr/SwapIDs.scala:119-128`) — the Delta/Iceberg-style
    MERGE a production user runs daily, reduced to its load-bearing
    parts:

    - data lives in key buckets (hash or range), one parquet dir per
      (bucket, version) under a ``v<N>-<hex>`` staging dir; a JSON
      manifest records its ``version``, ``buckets`` (bucket → current
      dir), ``stats`` (each bucket's key zone map and ``__rows``
      count), the physical ``schema``, the bucket ``spec`` and, after
      a rename or drop, ``mapping``/``dropped``. Every writer writes
      all of these; the readers rely on them.
    - MERGE (``merge`` = ``staged_merge`` + ``commit``) rewrites ONLY
      the buckets that contain updated keys (copy-on-write file reuse
      for the rest) — at 100 TB a trickle merge touches
      |update-buckets|, not the table.
    - readers resolve the manifest first: a snapshot is immutable.
      ``read`` time-travels, ``read_buckets``/``read_where`` prune by
      bucket and key zone map, ``table_changes`` is the change feed.
    - commit = write-new-files, then atomically replace the manifest
      (os.replace here; a conditional PUT on an object store) under a
      heartbeated lock with an OCC version check. A crash BEFORE the
      swap leaves the old snapshot fully intact.
    - schema evolution: ``rename_column``/``drop_column`` are
      metadata-only; merges add columns and widen types.
    - maintenance: ``optimize`` (Z-order rewrite), ``vacuum``
      (retention), ``verify_integrity`` (storage audit), and the
      ``snapshots``/``history`` metadata views.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        num_buckets: int = 16,
        bucketing: str = "hash",
        range_width: int | None = None,
    ):
        """``bucketing``:

        - ``hash`` (default): bucket = xxhash64(key) % num_buckets —
          uniform spread; range predicates cannot prune.
        - ``range``: bucket = key div range_width (Iceberg's truncate
          transform) — bucket count grows with the key domain
          (num_buckets is ignored), and range predicates on the key
          prune via the manifest zone maps (``read_where``).

        Every bucket records a min/max zone map of ``key_col`` and a
        row count in the manifest.
        """
        if bucketing not in ("hash", "range"):
            raise ValueError(f"bucketing must be hash|range, got {bucketing!r}")
        if bucketing == "range" and not range_width:
            raise ValueError("range bucketing requires range_width")
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.num_buckets = num_buckets
        self.bucketing = bucketing
        self.range_width = range_width
        # the bucket SPEC belongs to the table, not the client
        # (Iceberg partition-spec semantics): an existing manifest's
        # recorded spec overrides constructor arguments, so every later
        # opener buckets and prunes like the creator regardless of the
        # arguments it passes
        if os.path.exists(self._manifest_file):
            spec = self._read_manifest()["spec"]
            self.num_buckets = spec["num_buckets"]
            self.bucketing = spec["bucketing"]
            self.range_width = spec["range_width"]
            self.key_col = spec["key_col"]

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_file(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _version_file(self, version: int) -> str:
        return os.path.join(self.path, f"manifest-v{version}.json")

    def _read_manifest(self) -> dict:
        with open(self._manifest_file) as f:
            return json.load(f)

    def _versions(self) -> list[int]:
        """Every version with a ``manifest-v<N>.json`` file, oldest
        first: the published ones and, beyond the current pointer,
        crash residue (see ``_manifest_for``)."""
        return sorted(
            int(mm.group(1))
            for name in os.listdir(self.path)
            if (mm := re.fullmatch(r"manifest-v(\d+)\.json", name))
        )

    def _published(self) -> list[dict]:
        """The retained published manifests, oldest first: the version
        files up to the current pointer. Listed rather than scanned
        from v1, so the tail a vacuum keeps is still found."""
        current = self._read_manifest()["version"]
        out = []
        for v in self._versions():
            if v <= current:
                with open(self._version_file(v)) as f:
                    out.append(json.load(f))
        return out

    @staticmethod
    def _successor(manifest: dict, **changes) -> dict:
        """The manifest that follows ``manifest``: the next version,
        carrying every entry (copied) that ``changes`` does not
        replace. A replaced ``mapping`` keeps only its renames."""
        if "mapping" in changes:
            changes["mapping"] = {l: p for l, p in changes["mapping"].items() if l != p} or None
        return {
            "version": manifest["version"] + 1,
            "buckets": dict(manifest["buckets"]),
            "stats": dict(manifest["stats"]),
            "schema": manifest["schema"],
            "mapping": manifest.get("mapping"),
            "dropped": manifest.get("dropped"),
            **changes,
        }

    @staticmethod
    def _schema(manifest: dict) -> T.StructType:
        """The snapshot's recorded schema, in physical names."""
        return T.StructType.fromJson(json.loads(manifest["schema"]))

    def _manifest_types(self, manifest: dict) -> dict:
        """col → DataType from the manifest's recorded schema
        (authoritative for its version)."""
        return {f.name: f.dataType for f in self._schema(manifest).fields}

    def _swap_manifest(self, manifest: dict) -> None:
        # Retain every published snapshot: the versioned manifest is
        # written first (immutable once written), then the current
        # pointer swaps — so history is complete even mid-crash, and
        # time-travel reads resolve manifest-v{N} exactly like Delta/
        # Iceberg log entries. Copy-on-write already keeps old bucket
        # dirs, so a historical manifest's files all still exist
        # (until vacuum drops them).
        # every snapshot records the spec it was written under, so a
        # fresh opener adopts the table's current layout (see __init__)
        manifest.setdefault(
            "spec",
            {
                "num_buckets": self.num_buckets,
                "bucketing": self.bucketing,
                "range_width": self.range_width,
                "key_col": self.key_col,
            },
        )
        with open(self._version_file(manifest["version"]), "w") as f:
            json.dump(manifest, f)
        tmp = self._manifest_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_file)

    # -- column mapping (rename without rewrite) ---------------------------
    #
    # Delta's column-mapping model, reduced to its load-bearing part:
    # parquet files always store PHYSICAL column names, which never
    # change after a column is first written; the manifest's optional
    # ``mapping`` {logical -> physical} defines the user-visible view.
    # RENAME is therefore a metadata-only commit (no bucket rewrite,
    # old snapshots stay readable), and CDC diffs across a rename
    # boundary stay aligned because they compare physical columns.
    # Everything internal (bucket files, stats, manifest schema) lives
    # in physical space; the public surfaces translate at the boundary.

    @staticmethod
    def _mapping(manifest: dict) -> dict[str, str]:
        """logical -> physical for this snapshot (identity entries
        omitted)."""
        return dict(manifest.get("mapping") or {})

    def _logical_cols(self, manifest: dict) -> set[str]:
        """Current user-visible column names of a snapshot."""
        inv = {p: l for l, p in self._mapping(manifest).items()}
        dropped = set(manifest.get("dropped") or [])
        return {
            inv.get(p, p)
            for p in self._schema(manifest).fieldNames()
            if p not in dropped
        }

    def _phys(self, manifest: dict, logical: str) -> str:
        """Logical → stored physical name, guarding RETIRED names:
        after rename price → unit_price, a probe for 'price' must
        raise, not silently resolve to unit_price's physical storage
        (that column's data would come back under the wrong name);
        likewise a dropped column must not resurrect. Names that
        never existed pass through — downstream either degrades
        conservatively (prune: scan-all, the pinned pre-evolution
        contract) or fails with Spark's own missing-column analysis
        error."""
        mp = self._mapping(manifest)
        if logical in mp:
            return mp[logical]
        have = self._logical_cols(manifest)
        if logical not in have:
            retired = set(manifest.get("dropped") or ()) | set(mp.values())
            if logical in retired:
                raise ValueError(
                    f"column {logical!r} was renamed or dropped; "
                    f"current columns: {sorted(have)}"
                )
        return logical

    def _to_logical_df(self, df: DataFrame, manifest: dict) -> DataFrame:
        inv = {p: l for l, p in self._mapping(manifest).items()}
        dropped = set(manifest.get("dropped") or [])
        if not inv and not dropped:
            return df
        return df.select(
            *[
                F.col(c).alias(inv.get(c, c))
                for c in df.columns
                if c not in dropped
            ]
        )

    def _scan(self, manifest: dict, bucket_ids) -> DataFrame:
        """The given buckets of a snapshot (ids it does not hold are
        skipped) in physical names, pinned to its recorded schema —
        the authority for what this snapshot's columns ARE: files that
        predate an added column null-fill it, files narrower than a
        widened column upcast at scan time (Parquet widening reads,
        SPARK-40876), and physical columns retired by a DROP are
        simply never selected. An empty selection reads no file: it is
        an empty frame with the recorded schema."""
        schema = self._schema(manifest)
        want = set(bucket_ids)
        paths = [
            os.path.join(self.path, rel)
            for b, rel in manifest["buckets"].items()
            if b in want
        ]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only column rename (no data rewrite): publishes a
        new snapshot whose ``mapping`` points the logical name ``new``
        at the column's unchanged physical name. Time travel shows
        each snapshot under ITS names; CDC across the rename boundary
        is unaffected (diffs run on physical columns). The bucketing
        key cannot be renamed (its physical identity is baked into
        the table spec), matching the fixed-at-creation bucketing
        contract."""
        m = self._read_manifest()
        mapping = self._mapping(m)
        logical_cols = self._logical_cols(m)
        if old == self.key_col:
            raise ValueError(f"cannot rename bucketing key column {old!r}")
        if old not in logical_cols:
            raise ValueError(f"no such column {old!r} (have {sorted(logical_cols)})")
        if new in logical_cols or new == self.key_col:
            raise ValueError(f"column {new!r} already exists")
        mapping[new] = mapping.pop(old, old)
        staged = self._successor(m, mapping=mapping)
        self.commit(staged)
        return staged

    def drop_column(self, col: str) -> dict:
        """Metadata-only column DROP (the column-mapping model's other
        half, mirroring ``rename_column``): the physical column stays
        in existing bucket files but leaves the table schema — reads
        stop selecting it (schema-pinned scans never touch it), future
        merges neither require nor rewrite it, and every later rewrite
        (merge/optimize) retires it physically for the buckets it
        touches. The retired PHYSICAL name is recorded in
        the manifest's ``dropped`` list so a later ADD of the same
        logical name mints a fresh physical name instead of
        resurrecting old storage (`staged_merge`'s collision guard).
        Old snapshots still time-travel with the column. The bucketing
        key cannot be dropped."""
        m = self._read_manifest()
        mapping = self._mapping(m)
        logical_cols = self._logical_cols(m)
        if col == self.key_col:
            raise ValueError(f"cannot drop bucketing key column {col!r}")
        if col not in logical_cols:
            raise ValueError(f"no such column {col!r} (have {sorted(logical_cols)})")
        phys = mapping.pop(col, col)
        schema = T.StructType([f for f in self._schema(m).fields if f.name != phys])
        staged = self._successor(
            m,
            schema=schema.json(),
            mapping=mapping,
            dropped=[*(m.get("dropped") or []), phys],
        )
        self.commit(staged)
        return staged

    def _bucket(self, key: Column) -> Column:
        if self.bucketing == "range":
            # exact integer division (Iceberg truncate transform)
            return F.expr(f"`{self.key_col}` div {int(self.range_width)}")
        return F.pmod(F.xxhash64(key), F.lit(self.num_buckets))

    def _json_scalar(self, v):
        if isinstance(v, (int, float, str)) or v is None:
            return v
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return str(v)

    def _bucket_stats(self, out: DataFrame) -> dict:
        """Per-bucket min/max zone map of the key plus a ``__rows``
        count (the integrity-audit expectation — ``verify_integrity``
        recounts storage against it); ≤ one row per bucket, so the
        collect is bounded by the bucket count."""
        k = self.key_col
        rows = (
            out.groupBy("__bucket")
            .agg(
                F.count(F.lit(1)).alias("__rows"),
                F.min(k).alias("__mn"),
                F.max(k).alias("__mx"),
            )
            .collect()
        )
        return {
            str(r["__bucket"]): {
                "__rows": int(r["__rows"]),
                k: [self._json_scalar(r["__mn"]), self._json_scalar(r["__mx"])],
            }
            for r in rows
        }

    @staticmethod
    def _staging_dir(version: int) -> str:
        """A new ``v<version>-<hex>`` dir name, unique per writer (see
        ``_write_buckets``)."""
        return f"v{version}-{uuid.uuid4().hex[:8]}"

    def _write_buckets(self, df: DataFrame, version: int) -> tuple[dict[str, str], dict]:
        """Write one dir per bucket under v{version}-{uuid}/; return
        (bucket → relative path for every bucket actually written,
        bucket → zone-map stats). The input is shuffled by bucket, so
        each bucket is written by one task, and persisted for the two
        passes (write + stats agg).

        The staging dir is UNIQUE PER WRITER (uuid suffix): two
        writers staging against the same base version can never
        overwrite each other's files, so when OCC refuses the loser's
        commit, its staged files are true orphans — no path a
        committed manifest references is ever touched. Without the
        suffix, the loser's mode('overwrite') into the shared v{N}
        dir would delete files the winner's published manifest points
        at (readers of the current snapshot would see missing data)."""
        vdir = self._staging_dir(version)
        out = (
            df.withColumn("__bucket", self._bucket(F.col(self.key_col)))
            .repartition("__bucket")
            .persist()
        )
        try:
            out.write.mode("overwrite").option(
                "maxRecordsPerFile", _MAX_RECORDS_PER_FILE
            ).partitionBy("__bucket").parquet(os.path.join(self.path, vdir))
            stats = self._bucket_stats(out)
        finally:
            out.unpersist()
        if "None" in stats:
            # a null key has no range bucket: its rows would land in a
            # dir the manifest has no stats for; refuse before publishing
            raise ValueError(f"key column {self.key_col!r} holds nulls; a range bucket needs a key")
        written = {
            d.split("=", 1)[1]: os.path.join(vdir, d)
            for d in os.listdir(os.path.join(self.path, vdir))
            if d.startswith("__bucket=")
        }
        return written, stats

    # -- operations --------------------------------------------------------
    def create(self, df: DataFrame) -> None:
        """Initial snapshot (version 1, all non-empty buckets). The
        schema is recorded in the manifest so an EMPTY table (or one
        emptied by deletes) still reads back with its proper schema —
        required by streaming MERGE sinks that create the table
        before the first micro-batch arrives."""
        os.makedirs(self.path, exist_ok=True)
        # an empty initial snapshot (the streaming-MERGE bootstrap path)
        # has no buckets to write: skip the partitioned write + stats
        # jobs and publish a bucketless manifest directly
        entries, stats = self._write_buckets(df, 1) if df.take(1) else ({}, {})
        self._swap_manifest(
            {"version": 1, "buckets": entries, "stats": stats, "schema": df.schema.json()}
        )

    def _manifest_for(self, version: int | None) -> dict:
        if version is None:
            return self._read_manifest()
        current = self._read_manifest()["version"]
        if version > current:
            # a manifest-v{N}.json beyond the current pointer is crash
            # residue from a commit that died between the version-file
            # write and the pointer swap — it was never published and
            # must not be time-travel-readable
            raise FileNotFoundError(
                f"version {version} not published (current is {current})"
            )
        vfile = self._version_file(version)
        if not os.path.exists(vfile):
            raise FileNotFoundError(
                f"version {version} not available (never published, or vacuumed)"
            )
        with open(vfile) as f:
            return json.load(f)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read: current manifest, or time-travel to a prior
        published ``version``. Every snapshot is immutable — a reader
        holding version N is unaffected by later merges (and by
        vacuum, until vacuum drops N)."""
        m = self._manifest_for(version)
        # schema-pinned read: after column-adding merges, untouched
        # buckets null-fill; after widening they upcast; after drops
        # the retired column is never selected. _to_logical_df applies
        # this snapshot's column mapping
        return self._to_logical_df(self._scan(m, m["buckets"]), m)

    def affected_buckets(self, keys: DataFrame) -> list[str]:
        """Distinct bucket ids the table's key column in ``keys`` lands
        in — evaluated with the table's own bucket expression, so it is
        exact for both hash and range bucketing. Bounded collect:
        ≤ the table's bucket count."""
        rows = (
            keys.select(self._bucket(F.col(self.key_col)).alias("__b"))
            .distinct()
            .collect()
        )
        return sorted({str(r["__b"]) for r in rows})

    def read_buckets(self, bucket_ids: list[str]) -> DataFrame:
        """Current-snapshot read restricted to the given bucket ids — the
        pruned-read primitive behind key-state lookups (streaming
        MERGE reads only the buckets a micro-batch's keys touch) and
        manifest-diff CDC. Buckets absent from the manifest (never
        written / emptied) are skipped. An empty selection reads back
        as an empty frame with the manifest schema."""
        m = self._read_manifest()
        return self._to_logical_df(self._scan(m, {str(b) for b in bucket_ids}), m)

    # -- pruned reads (zone maps / bucket transform) -----------------------
    def prune_report(self, col: str, lo, hi) -> dict:
        """Manifest-only pruning decision for ``lo <= col <= hi`` on the
        current snapshot:
        which buckets must be scanned vs are skipped by their zone
        maps. Only the key carries zone maps, so any other ``col``
        conservatively scans every bucket. Bounds
        are normalized through the manifest's own JSON encoding
        (dates/timestamps → ISO strings, decimals → floats) so a
        date/datetime bound compares against stored stats instead of
        raising; any residual incomparability (e.g. a numeric bound
        against string stats) degrades to a conservative scan, never
        an error — pruning is an optimization, not a correctness
        gate."""
        m = self._read_manifest()
        col = self._phys(m, col)  # stats are keyed by physical name
        lo = self._json_scalar(lo)
        hi = self._json_scalar(hi)
        kept, pruned = [], []
        for b in m["buckets"]:
            st = m["stats"][b].get(col)
            if st is not None and st[0] is not None and st[1] is not None:
                try:
                    if st[0] > hi or st[1] < lo:
                        pruned.append(b)
                        continue
                except TypeError:  # incomparable bound vs stored stat
                    pass
            kept.append(b)
        return {"scanned": sorted(kept), "skipped": sorted(pruned)}

    def read_where(self, col: str, lo, hi) -> DataFrame:
        """Current-snapshot range read with manifest zone-map pruning: only buckets
        whose key [min, max] overlaps [lo, hi] are scanned when ``col``
        is the key (with range bucketing this is partition pruning);
        any other ``col`` scans every bucket. The predicate still
        applies exactly, so results never depend on stats. At 100 TB
        this is the difference between listing a few bucket dirs and
        scanning the table — the same file-skipping contract
        Delta/Iceberg readers get from their manifests. When every
        bucket is pruned, no file is read."""
        m = self._read_manifest()
        df = self._scan(m, self.prune_report(col, lo, hi)["scanned"])
        c = F.col(self._phys(m, col))  # predicate on the physical column
        return self._to_logical_df(df.filter(c.between(F.lit(lo), F.lit(hi))), m)

    def optimize(self, zorder_by: list[str]) -> dict:
        """Delta's ``OPTIMIZE ... ZORDER BY``: rewrite EVERY bucket into
        one file with rows ordered by the Morton interleave of the
        ``zorder_by`` columns (at least two, each scaled onto a grid of
        up to 8 bits via the table-wide min/max). Parquet already stores
        per-row-group min/max for every column; clustering is what
        makes those statistics TIGHT, so a pushed-down predicate on ANY
        of the columns skips row groups at scan time (Spark's parquet
        filter pushdown does the skipping — no reader change needed;
        evidence in tests/test_zorder_optimize.py via footer metadata).
        Row groups are ``_ZORDER_ROW_GROUP_BYTES`` (the skipping unit).

        The rewrite also compacts each bucket to one file and is
        published like any other commit: old snapshots still
        time-travel, vacuum reclaims the old dirs once unreferenced.
        One job per bucket, run one after another; the commit is one
        atomic swap."""
        if len(zorder_by) < 2:
            raise ValueError("zorder_by takes at least two columns")
        m = self._read_manifest()
        version = m["version"] + 1
        vdir = self._staging_dir(version)
        zbits = min(8, 63 // len(zorder_by))
        aggs = []
        for i, c in enumerate(zorder_by):
            aggs.append(F.min(c).alias(f"lo{i}"))
            aggs.append(F.max(c).alias(f"hi{i}"))
        zbounds = self.read().agg(*aggs).collect()[0]
        z = zvalue_n(
            [
                scale_to_bits(
                    # bucket files store PHYSICAL names
                    F.col(self._phys(m, c)),
                    F.lit(zbounds[f"lo{i}"]),
                    F.lit(zbounds[f"hi{i}"]),
                    zbits,
                )
                for i, c in enumerate(zorder_by)
            ],
            zbits,
        )
        entries: dict[str, str] = {}
        for b in sorted(m["buckets"]):
            out_rel = os.path.join(vdir, f"__bucket={b}")
            # schema-pinned: the rewrite materializes the CURRENT
            # schema — retired (dropped) columns leave the rewritten
            # files physically, widened columns land at the wide type
            df = (
                self._scan(m, [b])
                .withColumn("__z", z)
                .coalesce(1)
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            df.write.mode("overwrite").option("parquet.block.size", _ZORDER_ROW_GROUP_BYTES).parquet(
                os.path.join(self.path, out_rel)
            )
            entries[b] = out_rel
        if not entries:
            return {"version": m["version"], "compacted": []}
        # publish through commit() so a merge racing the rewrite
        # cannot be silently clobbered
        self.commit(self._successor(m, buckets=entries))
        return {"version": version, "compacted": sorted(entries)}

    def snapshots(self) -> DataFrame:
        """Metadata table (Iceberg's ``snapshots``, Delta's DESCRIBE
        HISTORY — distinct from the driver-side ``history()`` list):
        one row per retained published snapshot — version, bucket
        count, total rows (the sum of the manifest's ``__rows``
        stats), and the bucket spec it was written under. Reads only
        manifests (kilobytes), never data files."""
        rows = [
            (
                m["version"],
                len(m["buckets"]),
                sum(m["stats"][b]["__rows"] for b in m["buckets"]),
                m["spec"]["bucketing"],
                m["spec"]["num_buckets"],
            )
            for m in self._published()
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, n_buckets int, total_rows long, bucketing string, num_buckets int",
        )

    def verify_integrity(self) -> dict:
        """Storage-vs-manifest audit of the current snapshot: every referenced
        bucket dir must exist with data files, and its row count must
        equal the manifest's recorded ``__rows`` expectation. Returns
        ``{"ok", "missing", "mismatched"}`` — missing = path gone
        (premature vacuum, partial copy), mismatched = count drift
        (corruption, manual edits). One bounded read per bucket (a
        count over one dir); at production bucket counts run the
        recount as one job over all paths.
        This is the routine a migration/replication pipeline runs
        before flipping readers to a copied table — the audit-side
        complement of ``tablediff.checksum_diff``."""
        m = self._read_manifest()
        missing: list[str] = []
        mismatched: list[dict] = []
        for b, rel in sorted(m["buckets"].items()):
            full = os.path.join(self.path, rel)
            if not os.path.isdir(full) or not any(
                f.endswith(".parquet") for f in os.listdir(full)
            ):
                missing.append(b)
                continue
            expect = m["stats"][b]["__rows"]
            actual = self.spark.read.parquet(full).count()
            if actual != expect:
                mismatched.append({"bucket": b, "expected": expect, "actual": actual})
        return {
            "ok": not missing and not mismatched,
            "missing": missing,
            "mismatched": mismatched,
        }

    def table_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed between two published snapshots (Delta's
        ``table_changes`` shape): one row per key whose state differs,
        classified ``insert`` / ``update`` / ``delete``, with the old
        and new non-key columns side by side (null on the absent
        side). No change log is stored, so CDC works between ANY two
        retained versions.

        MANIFEST-DIFF PRUNING: copy-on-write means a bucket whose
        relative path is identical in both manifests is byte-for-byte
        the same files — no key in it can have changed — so the
        full-outer join reads ONLY buckets whose paths differ
        (added, dropped, or rewritten). Between adjacent versions of
        a 100 TB table a trickle merge touches a handful of buckets;
        CDC cost is O(changed buckets), not O(table). Bucketing
        parameters are fixed at table creation, so a key's bucket id
        is stable across versions and pruned sides stay join-aligned."""
        m_old = self._manifest_for(from_version)
        m_new = self._manifest_for(to_version)
        ob, nb = m_old["buckets"], m_new["buckets"]
        changed = sorted(b for b in set(ob) | set(nb) if ob.get(b) != nb.get(b))
        # diff in PHYSICAL space: physical names are stable across
        # renames, so old/new stay column-aligned even when the two
        # snapshots straddle a rename boundary; output switches to the
        # TO-version's logical names at the end (Delta CDF convention)
        old = self._scan(m_old, changed)
        new = self._scan(m_new, changed)
        k = self.key_col
        # each side reads under its version's recorded schema; a
        # column added between the versions null-fills the old side
        old_types = self._manifest_types(m_old)
        new_types = self._manifest_types(m_new)
        # diff under the TO version's column set (Delta CDF
        # convention): a column DROPPED between the versions leaves
        # the feed entirely — the metadata-only drop commit itself has
        # identical bucket paths (zero change rows), and later
        # rewrites must not report every row as updated just because
        # a dropped column's values went away
        data_cols = [c for c in old_types if c != k and c in new_types] + [
            c for c in new_types if c != k and c not in old_types
        ]
        for c in data_cols:
            if c not in old_types:
                old = old.withColumn(c, F.lit(None).cast(new_types[c]))
        o = old.select(F.col(k).alias("__ok"), *[F.col(c).alias(f"old_{c}") for c in data_cols])
        n = new.select(F.col(k).alias("__nk"), *[F.col(c).alias(f"new_{c}") for c in data_cols])
        j = o.join(n, o["__ok"] == n["__nk"], "full_outer")
        changed = F.lit(False)
        for c in data_cols:
            changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        change = (
            F.when(F.col("__ok").isNull(), F.lit("insert"))
            .when(F.col("__nk").isNull(), F.lit("delete"))
            .when(changed, F.lit("update"))
        )
        inv_new = {p: l for l, p in self._mapping(m_new).items()}
        return (
            j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select(
                F.coalesce(F.col("__ok"), F.col("__nk")).alias(k),
                "change_type",
                *[F.col(f"old_{c}").alias(f"old_{inv_new.get(c, c)}") for c in data_cols],
                *[F.col(f"new_{c}").alias(f"new_{inv_new.get(c, c)}") for c in data_cols],
            )
        )

    def history(self) -> list[dict]:
        """Published versions, oldest first: [{version, n_buckets}].
        Versions beyond the current pointer (crash residue of a commit
        that never swapped the pointer) are not published and are
        excluded."""
        return [{"version": m["version"], "n_buckets": len(m["buckets"])} for m in self._published()]

    def vacuum(self, keep_last: int = 1, min_age_sec: float | None = None) -> list[str]:
        """Drop snapshots older than the newest ``keep_last`` versions
        and delete bucket dirs no KEPT manifest references. Copy-on-
        write means an old version dir can still back the current
        snapshot, so deletion is reference-counted against the kept
        manifests, never by version-dir age. Returns deleted paths.

        Runs under the commit lock: otherwise a commit publishing a
        new snapshot between vacuum's reference scan and its deletes
        could have its fresh bucket dirs reclaimed as "unreferenced".
        Version dirs AHEAD of the current pointer (a concurrent
        writer's staged-but-uncommitted merge) are left alone for the
        same reason; orphan ``manifest-v{N}.json`` files ahead of the
        pointer (crash residue — see ``commit``) ARE removed, since
        under the lock no in-flight commit can be mid-swap.

        ``min_age_sec`` (default ``_STALE_LOCK_SEC``): unreferenced
        STORAGE younger than this survives until a later vacuum —
        Delta's retention-horizon rule. Staging is deliberately
        lock-free, and a staged version number offers no in-flight
        protection on its own: a writer staging version N can lose
        the OCC race, so by vacuum time the pointer has moved PAST N
        while the loser is still mid-write into its ``v{N}-{uuid}``
        dir (caught live by the multi-process race test). Age is the
        only signal that separates that in-flight work from crash
        residue; manifest files need no horizon because they are only
        ever written under the lock vacuum already holds."""
        age_floor = _STALE_LOCK_SEC if min_age_sec is None else min_age_sec
        now = time.time()

        def _old_enough(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= age_floor
            except OSError:
                return False  # vanished mid-scan: someone owns it, skip

        lease = self._acquire_lock()
        try:
            current = self._read_manifest()
            kept = [current, *self._published()[-max(keep_last, 1):]]
            keep_versions = {m["version"] for m in kept}
            referenced = {rel for m in kept for rel in m["buckets"].values()}
            # dropped snapshots, and orphan version files ahead of the
            # pointer
            for v in self._versions():
                if v not in keep_versions:
                    os.remove(self._version_file(v))
            deleted = []
            for vdir in sorted(os.listdir(self.path)):
                mv = re.fullmatch(r"v(\d+)-[0-9a-f]+", vdir)
                if not mv:
                    continue
                if int(mv.group(1)) > current["version"]:
                    continue  # in-flight staging by a live writer
                for bdir in sorted(os.listdir(os.path.join(self.path, vdir))):
                    rel = os.path.join(vdir, bdir)
                    if (
                        bdir.startswith("__bucket=")
                        and rel not in referenced
                        and _old_enough(os.path.join(self.path, rel))
                    ):
                        shutil.rmtree(os.path.join(self.path, rel))
                        deleted.append(rel)
                if not any(
                    b.startswith("__bucket=")
                    for b in os.listdir(os.path.join(self.path, vdir))
                ) and _old_enough(os.path.join(self.path, vdir)):
                    shutil.rmtree(os.path.join(self.path, vdir))
            return deleted
        finally:
            self._release_lock(lease)

    def merge(self, updates: DataFrame, combine: dict[str, str] | None = None) -> dict:
        """MERGE: rows with op='upsert' update matched keys or insert
        new ones; op='delete' removes matched keys. Returns the new
        manifest. Equal to staged_merge + commit.

        ``combine``: per-column matched-row semantics — the
        ``WHEN MATCHED THEN UPDATE SET n = n + new.n`` shape of the
        reference's MySQL ``INSERT … ON DUPLICATE KEY UPDATE``
        (`analytics/UpdateProdMetrics.scala:264-306`). Map a column
        to ``sum`` / ``max`` / ``min`` to fold the new value into the
        old INSIDE the merge join; unmapped columns replace. This is
        the scale-correct streaming-upsert path: the caller never
        pre-reads current state to compute the combined value — the
        only state ever read is the affected buckets the merge
        rewrites anyway."""
        staged = self.staged_merge(updates, combine)
        self.commit(staged)
        return staged

    def staged_merge(self, updates: DataFrame, combine: dict[str, str] | None = None) -> dict:
        """Write the post-merge files for every affected bucket and
        return the NEW manifest — without publishing it. A crash here
        (or a discarded stage) leaves readers on the old snapshot.
        ``combine``: see merge()."""
        m = self._read_manifest()
        version = m["version"] + 1
        # updates arrive under LOGICAL names; everything below (bucket
        # files, stats, evolved-column detection) runs in physical
        # space. A NEW column whose name collides with a RETIRED
        # physical name (add "a" after renaming a->b: files still
        # store physical "a" for logical "b") gets a minted physical
        # name — writing it as-is would silently corrupt the renamed
        # column's storage.
        mapping = self._mapping(m)
        # a RETIRED physical name (renamed-away or dropped) is still
        # occupied storage in old bucket files — a new logical column
        # reusing it must mint a fresh physical name
        retired = set(m.get("dropped") or [])
        phys_cols = set(self._schema(m).fieldNames()) | retired
        logical_cols = self._logical_cols(m)
        for c in updates.columns:
            if c in ("op", self.key_col) or c in logical_cols:
                continue
            if c in phys_cols:
                minted = f"{c}__p{version}"
                while minted in phys_cols:
                    minted += "x"
                mapping[c] = minted
        inv_mapping = {p: l for l, p in mapping.items()}
        if mapping:
            updates = updates.select(*[F.col(c).alias(mapping.get(c, c)) for c in updates.columns])
        # lenient translation for combine: its columns may be ADDED by
        # this very batch (not yet in the snapshot), which strict
        # _phys would reject
        combine = {mapping.get(c, c): how for c, how in (combine or {}).items()}
        # the bucket transform hashes by TYPE (xxhash64(int 57) !=
        # xxhash64(long 57)): a batch carrying the key at a narrower
        # type than the table stores must be upcast BEFORE bucketing,
        # and a wider-than-table key is refused — widening the key
        # would relocate every existing row's bucket
        k_t = self._manifest_types(m)[self.key_col]
        u_kt = updates.schema[self.key_col].dataType
        if u_kt != k_t:
            pair = (u_kt.simpleString(), k_t.simpleString())
            if pair not in _WIDENINGS:
                raise ValueError(
                    f"update batch key {self.key_col!r} is "
                    f"{u_kt.simpleString()} but the table stores "
                    f"{k_t.simpleString()}; the bucket hash is "
                    "type-sensitive, so key types cannot widen"
                )
            updates = updates.withColumn(self.key_col, F.col(self.key_col).cast(k_t))
        batch = updates.withColumn("__bucket", self._bucket(F.col(self.key_col))).cache()
        try:  # the cached batch is released on every exit, refusals included
            upd = batch
            # one action yields the affected-bucket set AND the batch row
            # count (optimization r12, guide §1.3/§3.2): the count costs
            # nothing extra over the old distinct() and lets the merge
            # join pick its strategy from a KNOWN delta size below
            per_bucket = upd.groupBy("__bucket").count().collect()
            affected = sorted(str(r["__bucket"]) for r in per_bucket)
            n_upd_rows = sum(r["count"] for r in per_bucket)
            if not affected:
                # no-op batch (empty stream trigger): the next version,
                # carrying the recorded schema forward
                return self._successor(m)

            data_cols = [c for c in upd.columns if c not in ("op", "__bucket")]
            # schema-pinned read: dropped physical columns are never
            # selected (this rewrite retires them physically for the
            # affected buckets), narrow files upcast if the table
            # already widened; buckets new to the table read as an
            # empty frame with the recorded schema
            old = self._scan(m, affected)

            # schema evolution (Delta schema-merge shape): an update batch
            # may ADD columns — existing rows take null for them, and the
            # manifest schema evolves so empty/pruned reads stay typed.
            # Updates are full-row upserts, so they must still carry every
            # existing column; silently dropping one would fork the schema
            # between rewritten and untouched buckets.
            missing_in_upd = [c for c in old.columns if c not in data_cols]
            if missing_in_upd:
                raise ValueError(
                    "update batch is missing existing columns "
                    f"{[inv_mapping.get(c, c) for c in missing_in_upd]}; "
                    "upserts are full-row (schema evolution only ADDS columns)"
                )
            evolved = [c for c in data_cols if c not in old.columns]
            for c in evolved:
                old = old.withColumn(c, F.lit(None).cast(updates.schema[c].dataType))

            # TYPE WIDENING (Delta type-widening shape): a batch may carry
            # an existing column at a WIDER type — the table's schema
            # widens (lossless casts only), existing narrow bucket files
            # upcast at scan time (SPARK-40876), and only the affected
            # buckets rewrite. A batch NARROWER than the table upcasts
            # into the stored type; anything else (string vs int,
            # long -> int, ...) fails loudly rather than corrupting.
            widened: list[str] = []
            for c in data_cols:
                if c == self.key_col or c in evolved:
                    continue
                o_t = old.schema[c].dataType
                u_t = upd.schema[c].dataType
                if o_t == u_t:
                    continue
                pair = (o_t.simpleString(), u_t.simpleString())
                if pair in _WIDENINGS:  # batch widens the table
                    old = old.withColumn(c, F.col(c).cast(u_t))
                    widened.append(c)
                elif (pair[1], pair[0]) in _WIDENINGS:  # batch is narrower
                    upd = upd.withColumn(c, F.col(c).cast(o_t))
                else:
                    raise ValueError(
                        f"column {inv_mapping.get(c, c)!r} is {pair[0]} in the "
                        f"table but {pair[1]} in the update batch; only "
                        f"lossless widenings are supported: {sorted(_WIDENINGS)}"
                    )

            k = self.key_col
            upd_named = upd.select(
                F.col(k).alias("__uk"),
                F.col("op").alias("__op"),
                *[F.col(c).alias(f"__u_{c}") for c in data_cols if c != k],
            )
            # full-outer SMJ sorts BOTH sides; when the update batch is
            # provably small (the trickle-merge norm: delta << table), a
            # shuffled-hash join building on the delta skips both sorts
            # (optimization r12, guide §3.2 — broadcast is not an option:
            # Spark has no full-outer BHJ). Gated on the measured batch
            # row count so a bulk load the size of the table keeps the
            # sort-based, spill-safe plan: the hash build must fit task
            # memory, so require est. build bytes per shuffle partition
            # <= _SHJ_BUILD_BYTES_PER_PART (row width estimated
            # conservatively at 32B + 16B/col). The r12 A/B kill switch
            # (SPARK_GRAFT_MERGE_SHJ) was pruned in r13 after adjudication;
            # tests force the sort-merge arm by patching the constant.
            est_build = n_upd_rows * (32 + 16 * len(data_cols))
            try:
                n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
            except ValueError:
                n_parts = 200
            if est_build <= _SHJ_BUILD_BYTES_PER_PART * max(1, n_parts):
                upd_named = upd_named.hint("shuffle_hash")
            joined = old.join(upd_named, old[k] == upd_named["__uk"], "full_outer")

            def merged_value(c: str) -> Column:
                o, u = F.col(c), F.col(f"__u_{c}")
                how = combine.get(c)
                if how is None:
                    new_val = u  # replace (full-row upsert)
                elif how == "sum":  # null old state (insert / evolved) = identity
                    new_val = F.when(o.isNull(), u).otherwise(o + u)
                elif how == "max":
                    new_val = F.greatest(o, u)  # greatest/least skip nulls
                elif how == "min":
                    new_val = F.least(o, u)
                else:
                    raise ValueError(f"combine[{c!r}] must be sum|max|min, got {how!r}")
                return F.when(F.col("__uk").isNotNull(), new_val).otherwise(o).alias(c)

            merged_cols = [
                F.coalesce(F.col(k), F.col("__uk")).alias(k),
                *[merged_value(c) for c in data_cols if c != k],
            ]
            merged = joined.filter(
                F.col("__op").isNull() | (F.col("__op") == OP_UPSERT)
            ).select(*merged_cols)

            staged = self._successor(m, mapping=mapping)
            new_entries, new_stats = self._write_buckets(merged, version)
            for b in affected:
                if b in new_entries:
                    staged["buckets"][b] = new_entries[b]
                    staged["stats"][b] = new_stats[b]
                else:  # bucket emptied by deletes
                    staged["buckets"].pop(b, None)
                    staged["stats"].pop(b, None)
            if evolved or widened:
                staged["schema"] = merged.schema.json()
            return staged
        finally:
            batch.unpersist()

    def _acquire_lock(self):
        """Take the table's commit lock (O_CREAT|O_EXCL — a
        conditional PUT on an object store). A writer that crashed
        while holding the lock (between manifest swap and unlock)
        would otherwise wedge the table forever; a lock older than
        ``_STALE_LOCK_SEC`` is presumed abandoned and broken.

        Correctness of the break path (a double-granted lock would
        defeat the OCC version check and silently lose a writer's
        buckets):

        - the lock file carries an OWNER TOKEN (pid + uuid), and
          release verifies the token before unlinking — a holder that
          outlived ``_STALE_LOCK_SEC`` and was broken can no longer
          unlink the NEXT holder's lock on its way out.
        - breaking is an atomic ``os.rename`` to a unique name:
          exactly one of N racing breakers wins the rename (the
          source vanishes for the rest), so a breaker can never
          unlink a lock a faster breaker already re-created — the
          unlink-then-retry double grant. The rename is followed by a
          POST-CAPTURE staleness verification: a breaker descheduled
          between its stat and its rename can capture a FRESH lock a
          faster breaker already re-granted — the captured file's own
          mtime tells us, and a fresh capture is restored with
          ``os.link`` (atomic, never overwrites a newer lock).
        - a daemon heartbeat refreshes the lock mtime at
          ``_STALE_LOCK_SEC/4`` while held, so a legitimately long
          operation under the lock (vacuum on a big table) never
          goes stale out from under itself.

        The retry loop is deadline-based (``_LOCK_TIMEOUT_SEC`` wall
        clock) and sleeps on EVERY branch, so a contended or flapping
        lock waits the intended duration rather than burning an
        iteration budget in microseconds. Returns a lease for
        ``_release_lock``."""
        lock = os.path.join(self.path, "_commit.lock")
        token = f"{os.getpid()}-{uuid.uuid4().hex}"
        deadline = time.monotonic() + max(_LOCK_TIMEOUT_SEC, 0.0)
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    age = None  # holder released between open and stat
                if age is not None and age > _STALE_LOCK_SEC:
                    broken = f"{lock}.broken-{uuid.uuid4().hex}"
                    try:
                        os.rename(lock, broken)  # atomic: one breaker wins
                    except OSError:
                        broken = None  # another breaker won; retry below
                    if broken is not None:
                        try:
                            cap_age = time.time() - os.path.getmtime(broken)
                        except OSError:
                            cap_age = None
                        if cap_age is not None and cap_age <= _STALE_LOCK_SEC:
                            # stat->rename TOCTOU: we captured a FRESH
                            # lock re-granted after a faster breaker's
                            # break. Put it back atomically; if a yet
                            # newer lock appeared meanwhile, leave that
                            # one in place (link never overwrites).
                            try:
                                os.link(broken, lock)
                            except OSError:
                                pass
                        try:
                            os.remove(broken)
                        except OSError:
                            pass
                if time.monotonic() >= deadline:
                    raise TimeoutError(f"could not acquire commit lock {lock}")
                time.sleep(0.05)
                continue
            os.write(fd, token.encode())
            os.fsync(fd)
            stop = threading.Event()
            interval = max(min(_STALE_LOCK_SEC / 4.0, 60.0), 0.2)

            def _heartbeat():
                while not stop.wait(interval):
                    try:
                        with open(lock) as f:
                            if f.read() != token:
                                return  # broken + re-granted: not ours
                        os.utime(lock, None)
                    except OSError:
                        # transient (e.g. a mistaken breaker mid-
                        # capture-and-restore): keep trying — exiting
                        # here would let a long-held lock go stale
                        continue
            t = threading.Thread(target=_heartbeat, daemon=True)
            t.start()
            return {"fd": fd, "token": token, "stop": stop, "thread": t}

    def _release_lock(self, lease) -> None:
        """Release the commit lock, but ONLY if we still own it: if
        this holder outlived ``_STALE_LOCK_SEC`` despite the heartbeat
        and a breaker re-granted the lock, unlinking here would strip
        the new holder's mutual exclusion mid-commit."""
        lease["stop"].set()
        lease["thread"].join(timeout=2.0)
        os.close(lease["fd"])
        lock = os.path.join(self.path, "_commit.lock")
        try:
            with open(lock) as f:
                still_ours = f.read() == lease["token"]
            if still_ours:
                os.remove(lock)
        except OSError:
            pass  # already broken as stale — nothing of ours to remove

    def commit(self, manifest: dict) -> None:
        """Publish a staged manifest with OPTIMISTIC CONCURRENCY
        CONTROL (Delta-style): the commit holds a lock file, re-reads
        the current version, and REFUSES if another writer published
        since this merge was staged — last-writer-wins would silently
        drop the other writer's buckets (the staged manifest embeds
        the base snapshot's entries). The loser re-stages on the new
        base and retries; its written files are orphans that vacuum
        reclaims.

        Crash behavior at every step (the crash-matrix test walks
        these): before the lock → nothing published, retry converges;
        holding the lock → stale-lock breaking unwedges later
        writers; after ``manifest-v{N}.json`` but before the pointer
        swap → readers stay on the old snapshot and the orphan
        version file is invisible to history/time-travel until a
        successful commit of N overwrites it; after the pointer swap →
        the commit IS published (retrying raises
        ConcurrentWriteError, which the caller treats as
        already-won-or-lost and re-checks)."""
        lease = self._acquire_lock()
        try:
            current = self._read_manifest()["version"]
            if current != manifest["version"] - 1:
                raise ConcurrentWriteError(
                    f"staged on base version {manifest['version'] - 1} but the "
                    f"table is now at {current}; re-stage the merge on the "
                    "current snapshot and retry"
                )
            # last line of defense for the swap itself: re-verify we
            # STILL own the lock (a holder that went stale despite the
            # heartbeat may have been legitimately broken) — on an
            # object store this is the conditional-PUT precondition
            try:
                with open(os.path.join(self.path, "_commit.lock")) as f:
                    still_ours = f.read() == lease["token"]
            except OSError:
                still_ours = False
            if not still_ours:
                raise ConcurrentWriteError(
                    "commit lock was broken as stale while this commit was "
                    "in flight; the table may have advanced — re-stage and "
                    "retry"
                )
            self._swap_manifest(manifest)
        finally:
            self._release_lock(lease)
