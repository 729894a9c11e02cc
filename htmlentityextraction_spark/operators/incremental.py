"""Incremental batch processing over a copy-on-write MERGE table
(SURVEY K3/K8 upsert + anti-upsert): ``ParquetMergeTable`` keeps
key-bucketed parquet under an atomic manifest, so a trickle merge
rewrites only the buckets its keys land in, and ``table_changes``
reads the change feed between two versions from the manifest diff.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Copy-on-write MERGE table (K3/K8 upsert + anti-upsert as a table format)
# ---------------------------------------------------------------------------

OP_UPSERT = "upsert"
OP_DELETE = "delete"

# per-bucket manifest bloom index geometry (see ParquetMergeTable
# bloom_cols): m bits, k salted xxhash64 probes. 2048 bits / 3 probes
# gives ~1% false positives at ~300 distinct values per bucket and
# costs 512 hex chars of manifest per (bucket, column).
_BLOOM_BITS = 2048
_BLOOM_K = 3

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

    - data lives in ``num_buckets`` key-hash buckets, one parquet dir
      per (bucket, version); a JSON manifest maps bucket → current dir.
    - MERGE rewrites ONLY the buckets that contain updated keys
      (copy-on-write file reuse for the rest) — at 100 TB a trickle
      merge touches |update-buckets|, not the table.
    - readers resolve the manifest first: a snapshot is immutable.
    - commit = write-new-files, then atomically replace the manifest
      (os.replace here; a conditional PUT on an object store). A crash
      BEFORE the swap leaves the old snapshot fully intact — verified
      by the restart-safety test, which stages a merge, "crashes", and
      re-runs it.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        num_buckets: int = 16,
        bucketing: str = "hash",
        range_width: int | None = None,
        stats_cols: list[str] | None = None,
        align_writes: bool = True,
        max_records_per_file: int | None = 5_000_000,
        bloom_cols: list[str] | None = None,
        stale_lock_sec: float = 600.0,
        lock_timeout_sec: float = 5.0,
    ):
        """``bucketing``:

        - ``hash`` (default): bucket = xxhash64(key) % num_buckets —
          uniform spread; point lookups prune to one bucket
          (``read_key``), but range predicates cannot prune.
        - ``range``: bucket = key div range_width (Iceberg's truncate
          transform) — bucket count grows with the key domain
          (num_buckets is ignored), and range predicates on the key
          prune via the manifest zone maps (``read_where``).

        ``stats_cols``: columns to record per-bucket min/max for in
        the manifest (zone maps), default ``[key_col]``. Numeric or
        string columns only (values land in the JSON manifest).

        ``bloom_cols``: columns to build a per-bucket BLOOM FILTER
        for in the manifest (a membership index for NON-key columns —
        zone maps prune ranges, blooms prune point lookups on columns
        the bucket transform does not cover). 2048 bits / 3 salted
        xxhash64 probes per bucket, stored as hex in the manifest;
        ``bloom_candidates``/``read_point`` consult it.
        False positives only ⇒ pruning is safe; deletes/compaction
        never invalidate it (rows only leave, superset stays sound).

        ``align_writes`` (default True): shuffle each write by
        ``__bucket`` so every bucket is written by one task — without
        it, every shuffle partition of the merge join emits a file
        into every bucket dir (partitions × buckets small files per
        version, which the NEXT merge then re-opens). Fat buckets
        still split into bounded files via ``max_records_per_file``
        (maps to Spark's maxRecordsPerFile), so alignment never
        creates unboundedly large files at scale. False models
        legacy/unaligned writers — OPTIMIZE compacts those.
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
        self.stats_cols = list(stats_cols) if stats_cols else [key_col]
        self.align_writes = align_writes
        self.max_records_per_file = max_records_per_file
        self.bloom_cols = list(bloom_cols) if bloom_cols else []
        # commit-lock staleness threshold: a lock file older than this
        # is treated as a crashed writer's residue and broken
        self.stale_lock_sec = stale_lock_sec
        # how long _acquire_lock waits (wall clock) before TimeoutError
        self.lock_timeout_sec = lock_timeout_sec
        # the bucket SPEC belongs to the table, not the client
        # (Iceberg partition-spec semantics): an existing manifest's
        # recorded spec overrides constructor defaults, so a table
        # rebucketed by one writer prunes correctly for every later
        # opener regardless of the arguments they pass
        if os.path.exists(self._manifest_file):
            spec = self._read_manifest().get("spec")
            if spec:
                self.num_buckets = spec.get("num_buckets", self.num_buckets)
                self.bucketing = spec.get("bucketing", self.bucketing)
                self.range_width = spec.get("range_width", self.range_width)
                self.bloom_cols = spec.get("bloom_cols", self.bloom_cols) or []
                self.key_col = spec.get("key_col", self.key_col)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_file(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _read_manifest(self) -> dict:
        with open(self._manifest_file) as f:
            return json.load(f)

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
                "bloom_cols": self.bloom_cols,
                "key_col": self.key_col,
            },
        )
        vfile = os.path.join(self.path, f"manifest-v{manifest['version']}.json")
        with open(vfile, "w") as f:
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
    # Everything internal (bucket files, stats, blooms, manifest
    # schema) lives in physical space; the public surfaces translate
    # at the boundary.

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
            for p in self._physical_cols(manifest)
            if p not in dropped
        }

    def _phys(self, manifest: dict, logical: str) -> str:
        """Logical → stored physical name, guarding RETIRED names:
        after rename price → unit_price, a probe for 'price' must
        raise, not silently resolve to unit_price's physical storage
        (that column's data would come back under the wrong name);
        likewise a dropped column must not resurrect. Names that
        never existed pass through — downstream either degrades
        conservatively (prune/bloom: scan-all, the pinned
        pre-evolution contract) or fails with Spark's own
        missing-column analysis error."""
        mp = self._mapping(manifest)
        if logical in mp:
            return mp[logical]
        if self._physical_cols(manifest):
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

    def _read_physical(self, manifest: dict, paths: list[str]) -> DataFrame:
        """Bucket-file read pinned to the manifest's recorded
        (physical) schema — the authority for what this snapshot's
        columns ARE: files that predate an added column null-fill it,
        files narrower than a widened column upcast at scan time
        (Parquet widening reads, SPARK-40876), and physical columns
        retired by a DROP are simply never selected. Pre-schema
        manifests fall back to mergeSchema."""
        from pyspark.sql import types as T

        sj = manifest.get("schema")
        if sj:
            st = T.StructType.fromJson(json.loads(sj))
            return self.spark.read.schema(st).parquet(*paths)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def _to_physical_df(self, df: DataFrame, manifest: dict) -> DataFrame:
        mp = self._mapping(manifest)
        if not mp:
            return df
        return df.select(*[F.col(c).alias(mp.get(c, c)) for c in df.columns])

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
        phys = mapping.pop(old, old)
        mapping[new] = phys
        staged = {
            "version": m["version"] + 1,
            "buckets": dict(m["buckets"]),
            "stats": dict(m.get("stats", {})),
            "schema": m.get("schema"),
            "mapping": {l: p for l, p in mapping.items() if l != p},
            "dropped": m.get("dropped"),
        }
        self.commit(staged)
        return staged

    def drop_column(self, col: str) -> dict:
        """Metadata-only column DROP (the column-mapping model's other
        half, mirroring ``rename_column``): the physical column stays
        in existing bucket files but leaves the table schema — reads
        stop selecting it (schema-pinned scans never touch it), future
        merges neither require nor rewrite it, and every later rewrite
        (merge/optimize/rebucket) retires it physically for the
        buckets it touches. The retired PHYSICAL name is recorded in
        the manifest's ``dropped`` list so a later ADD of the same
        logical name mints a fresh physical name instead of
        resurrecting old storage (`staged_merge`'s collision guard).
        Old snapshots still time-travel with the column. The bucketing
        key cannot be dropped."""
        from pyspark.sql import types as T

        m = self._read_manifest()
        if not m.get("schema"):
            raise ValueError("cannot drop a column from a pre-schema manifest")
        mapping = self._mapping(m)
        logical_cols = self._logical_cols(m)
        if col == self.key_col:
            raise ValueError(f"cannot drop bucketing key column {col!r}")
        if col not in logical_cols:
            raise ValueError(f"no such column {col!r} (have {sorted(logical_cols)})")
        phys = mapping.pop(col, col)
        st = T.StructType.fromJson(json.loads(m["schema"]))
        new_schema = T.StructType([f for f in st.fields if f.name != phys])
        # the retired column can no longer be indexed or zone-mapped —
        # but stage the trimmed lists and apply them to the handle
        # ONLY after commit() wins: if the commit loses the OCC race,
        # the published manifest still records the column and this
        # handle must keep maintaining its bloom/zone-map
        new_bloom = [c for c in self.bloom_cols if c != phys]
        new_stats = [c for c in self.stats_cols if c != phys]
        staged = {
            "version": m["version"] + 1,
            "buckets": dict(m["buckets"]),
            "stats": dict(m.get("stats", {})),
            "schema": new_schema.json(),
            "mapping": {l: p for l, p in mapping.items() if l != p} or None,
            "dropped": list(m.get("dropped") or []) + [phys],
            # bloom_cols changes with the drop, so re-record the spec
            # instead of letting _swap_manifest copy a stale default
            "spec": {
                "num_buckets": self.num_buckets,
                "bucketing": self.bucketing,
                "range_width": self.range_width,
                "bloom_cols": new_bloom,
                "key_col": self.key_col,
            },
        }
        self.commit(staged)
        self.bloom_cols = new_bloom
        self.stats_cols = new_stats
        return staged

    def _physical_cols(self, manifest: dict) -> list[str]:
        sj = manifest.get("schema")
        if not sj:
            return []
        from pyspark.sql import types as T

        return [f.name for f in T.StructType.fromJson(json.loads(sj)).fields]

    def _bucket(self, key: Column) -> Column:
        if self.bucketing == "range":
            # exact integer division (Iceberg truncate transform)
            return F.expr(f"`{self.key_col}` div {int(self.range_width)}")
        return F.pmod(F.xxhash64(key), F.lit(self.num_buckets))

    def _json_scalar(self, v):
        import datetime
        import decimal

        if isinstance(v, (int, float, str)) or v is None:
            return v
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return str(v)

    def _bucket_stats(self, out: DataFrame) -> dict:
        """Per-bucket min/max zone maps for stats_cols plus a
        ``__rows`` count (the integrity-audit expectation —
        ``verify_integrity`` recounts storage against it); ≤ one row
        per bucket, so the collect is bounded by the bucket count."""
        # stats cols absent from this frame (e.g. dropped since the
        # table was opened) just record no zone map — conservative
        # must-scan, never an error
        cols = [c for c in self.stats_cols if c in out.columns]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = out.groupBy("__bucket").agg(*aggs).collect()
        return {
            str(r["__bucket"]): {
                "__rows": int(r["__rows"]),
                **{
                    c: [self._json_scalar(r[f"__mn_{c}"]), self._json_scalar(r[f"__mx_{c}"])]
                    for c in cols
                },
            }
            for r in rows
        }

    def _bloom_positions(self, col: Column) -> list[Column]:
        """The k salted bit positions of a value — one expression per
        probe, evaluated identically at build and lookup time (both go
        through this function, so hash/type semantics can never fork)."""
        return [
            F.pmod(F.xxhash64(F.lit(salt), col), F.lit(_BLOOM_BITS))
            for salt in range(_BLOOM_K)
        ]

    def _bucket_blooms(self, out: DataFrame) -> dict:
        """bucket → {col: hex bitset} for every bloom_col present in
        the written frame. ONE job for all columns (explode (col, pos)
        structs → one grouped collect_set); each set is ≤ _BLOOM_BITS
        positions, so the collect is bounded by buckets × cols × bits
        regardless of row count — the same bounded-collect contract as
        _bucket_stats. Configured bloom_cols absent from this frame
        (e.g. a merge staged before the column evolved in) are SKIPPED,
        not an error: their buckets simply carry no ``__bloom_*`` entry
        and ``bloom_candidates`` treats that as must-scan."""
        cols = [c for c in self.bloom_cols if c in out.columns]
        if not cols:
            return {}
        pairs = F.array(
            *[
                F.struct(F.lit(c).alias("__c"), p.alias("__p"))
                for c in cols
                for p in self._bloom_positions(F.col(c))
            ]
        )
        rows = (
            out.select("__bucket", F.explode(pairs).alias("__cp"))
            .where(F.col("__cp.__p").isNotNull())
            .groupBy("__bucket", F.col("__cp.__c").alias("__c"))
            .agg(F.collect_set(F.col("__cp.__p")).alias("__ps"))
            .collect()
        )
        blooms: dict[str, dict[str, str]] = {}
        for r in rows:
            bits = 0
            for p in r["__ps"]:
                bits |= 1 << int(p)
            blooms.setdefault(str(r["__bucket"]), {})[r["__c"]] = format(
                bits, f"0{_BLOOM_BITS // 4}x"
            )
        return blooms

    def _bloom_probe_positions(self, col: str, value) -> list[int]:
        """The k bit positions ``value`` maps to, evaluated through
        ``_bloom_positions`` on a 1-row frame with the literal cast to
        the table's stored column type — identical hash/type semantics
        to the build path (xxhash64 is type-sensitive, so an untyped
        probe literal could light different bits than the build did).
        ``col`` is PHYSICAL here (callers translate), so the type
        comes from the manifest's recorded (physical) schema."""
        m = self._read_manifest()
        if m.get("schema"):
            from pyspark.sql import types as T

            st = T.StructType.fromJson(json.loads(m["schema"]))
            dtype = next(
                (f.dataType.simpleString() for f in st.fields if f.name == col), None
            )
        else:  # pre-schema manifest: fall back to a footer read
            dtype = dict(self.read().dtypes).get(col)
        lit = F.lit(value).cast(dtype) if dtype else F.lit(value)
        row = (
            self.spark.range(1)
            .select(lit.alias(col))
            .select(F.array(*self._bloom_positions(F.col(col))).alias("__ps"))
            .first()
        )
        return [int(p) for p in row["__ps"]]

    def bloom_candidates(self, col: str, value, version: int | None = None) -> dict:
        """Manifest-only membership pruning for ``col == value``: a
        bucket whose stored bloom has ALL k probe bits set must be
        scanned; one clear bit proves the value is absent (blooms have
        false positives only, never false negatives). Buckets with no
        ``__bloom_{col}`` entry — written before the column was
        tracked/evolved, or col not in bloom_cols — are conservatively
        scanned. Returns {"scanned": [...], "skipped": [...]} like
        ``prune_report``."""
        m = self._manifest_for(version)
        col = self._phys(m, col)  # blooms are keyed by physical name
        positions = self._bloom_probe_positions(col, value)
        kept, pruned = [], []
        for b in m["buckets"]:
            hexbits = (m.get("stats") or {}).get(b, {}).get(f"__bloom_{col}")
            if isinstance(hexbits, str):
                bits = int(hexbits, 16)
                if not all((bits >> p) & 1 for p in positions):
                    pruned.append(b)
                    continue
            kept.append(b)
        return {"scanned": sorted(kept), "skipped": sorted(pruned)}

    def read_point(self, col: str, value, version: int | None = None) -> DataFrame:
        """Point read on a NON-key column via the manifest bloom
        index: scan only bloom-candidate buckets. The exact
        ``col == value`` predicate still applies below, so results
        never depend on the index (false positives just cost a bucket
        scan). For the key column itself, ``read_key`` prunes via the
        bucket transform instead — blooms exist for the columns the
        transform does not cover."""
        m = self._manifest_for(version)
        if not m["buckets"]:
            return self.spark.createDataFrame([], self._schema_of_empty(m))
        kept = self.bloom_candidates(col, value, version)["scanned"]
        # all-pruned: scan one bucket for the schema; the predicate
        # below returns zero rows from it
        paths = [os.path.join(self.path, m["buckets"][b]) for b in kept] or [
            os.path.join(self.path, next(iter(m["buckets"].values())))
        ]
        df = self._read_physical(m, paths)
        pcol = self._phys(m, col)  # filter on the stored physical column
        dtype = dict(df.dtypes).get(pcol)
        probe = F.lit(value).cast(dtype) if dtype else F.lit(value)
        return self._to_logical_df(df.filter(F.col(pcol) == probe), m)

    def _write_buckets(self, df: DataFrame, version: int) -> tuple[dict[str, str], dict]:
        """Write one dir per bucket under v{version}-{uuid}/; return
        (bucket → relative path for every bucket actually written,
        bucket → zone-map stats). The input is persisted for the two
        passes (write + stats agg).

        The staging dir is UNIQUE PER WRITER (uuid suffix): two
        writers staging against the same base version can never
        overwrite each other's files, so when OCC refuses the loser's
        commit, its staged files are true orphans — no path a
        committed manifest references is ever touched. Without the
        suffix, the loser's mode('overwrite') into the shared v{N}
        dir would delete files the winner's published manifest points
        at (readers of the current snapshot would see missing data)."""
        vdir = f"v{version}-{uuid.uuid4().hex[:8]}"
        out = df.withColumn("__bucket", self._bucket(F.col(self.key_col)))
        if self.align_writes:
            out = out.repartition("__bucket")
        out = out.persist()
        try:
            writer = out.write.mode("overwrite")
            if self.max_records_per_file:
                writer = writer.option("maxRecordsPerFile", self.max_records_per_file)
            writer.partitionBy("__bucket").parquet(os.path.join(self.path, vdir))
            stats = self._bucket_stats(out)
            if self.bloom_cols:
                for b, per_col in self._bucket_blooms(out).items():
                    for c, hexbits in per_col.items():
                        stats.setdefault(b, {})[f"__bloom_{c}"] = hexbits
        finally:
            out.unpersist()
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
        if not df.take(1):
            # empty initial snapshot (the streaming-MERGE bootstrap
            # path): no buckets to write — skip the partitioned write
            # + stats jobs and publish a bucketless manifest directly
            self._swap_manifest(
                {"version": 1, "buckets": {}, "stats": {}, "schema": df.schema.json()}
            )
            return
        entries, stats = self._write_buckets(df, 1)
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
        vfile = os.path.join(self.path, f"manifest-v{version}.json")
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
        paths = [os.path.join(self.path, p) for p in m["buckets"].values()]
        if not paths:
            return self.spark.createDataFrame([], self._schema_of_empty(m))
        # schema-pinned read: after column-adding merges, untouched
        # buckets null-fill; after widening they upcast; after drops
        # the retired column is never selected. _to_logical_df applies
        # this snapshot's column mapping
        return self._to_logical_df(self._read_physical(m, paths), m)

    def affected_buckets(self, keys: DataFrame, key_col: str | None = None) -> list[str]:
        """Distinct bucket ids the given key column lands in —
        evaluated with the table's own bucket expression, so it is
        exact for both hash and range bucketing. Bounded collect:
        ≤ the table's bucket count."""
        kc = key_col or self.key_col
        rows = (
            keys.select(self._bucket(F.col(kc)).alias("__b"))
            .distinct()
            .collect()
        )
        return sorted({str(r["__b"]) for r in rows})

    def read_buckets(self, bucket_ids: list[str], version: int | None = None) -> DataFrame:
        """Snapshot read restricted to the given bucket ids — the
        pruned-read primitive behind key-state lookups (streaming
        MERGE reads only the buckets a micro-batch's keys touch) and
        manifest-diff CDC. Buckets absent from the manifest (never
        written / emptied) are skipped. An empty selection reads back
        as an empty frame with the manifest schema."""
        m = self._manifest_for(version)
        want = {str(b) for b in bucket_ids}
        paths = [
            os.path.join(self.path, rel)
            for b, rel in m["buckets"].items()
            if b in want
        ]
        if not paths:
            return self.spark.createDataFrame([], self._schema_of_empty(m))
        return self._to_logical_df(self._read_physical(m, paths), m)

    # -- pruned reads (zone maps / bucket transform) -----------------------
    def prune_report(self, col: str, lo=None, hi=None, version: int | None = None) -> dict:
        """Manifest-only pruning decision for ``lo <= col <= hi``:
        which buckets must be scanned vs are skipped by their zone
        maps. Buckets without stats for ``col`` (e.g. written before
        the column was tracked) are conservatively scanned. Bounds
        are normalized through the manifest's own JSON encoding
        (dates/timestamps → ISO strings, decimals → floats) so a
        date/datetime bound compares against stored stats instead of
        raising; any residual incomparability (e.g. a numeric bound
        against string stats) degrades to a conservative scan, never
        an error — pruning is an optimization, not a correctness
        gate."""
        m = self._manifest_for(version)
        col = self._phys(m, col)  # stats are keyed by physical name
        lo = self._json_scalar(lo)
        hi = self._json_scalar(hi)
        kept, pruned = [], []
        for b in m["buckets"]:
            st = (m.get("stats") or {}).get(b, {}).get(col)
            if st is not None and st[0] is not None and st[1] is not None:
                try:
                    if (hi is not None and st[0] > hi) or (lo is not None and st[1] < lo):
                        pruned.append(b)
                        continue
                except TypeError:  # incomparable bound vs stored stat
                    pass
            kept.append(b)
        return {"scanned": sorted(kept), "skipped": sorted(pruned)}

    def read_where(self, col: str, lo=None, hi=None, version: int | None = None) -> DataFrame:
        """Range read with manifest zone-map pruning: only buckets
        whose [min, max] for ``col`` overlaps [lo, hi] are scanned
        (with range bucketing + col=key this is partition pruning; the
        predicate still applies exactly, so results never depend on
        stats). At 100 TB this is the difference between listing a few
        bucket dirs and scanning the table — the same file-skipping
        contract Delta/Iceberg readers get from their manifests."""
        m = self._manifest_for(version)
        if not m["buckets"]:
            return self.spark.createDataFrame([], self._schema_of_empty(m))
        kept = self.prune_report(col, lo, hi, version)["scanned"]
        # all-pruned: scan one bucket for the schema; the predicate
        # below returns zero rows from it
        paths = [os.path.join(self.path, m["buckets"][b]) for b in kept] or [
            os.path.join(self.path, next(iter(m["buckets"].values())))
        ]
        df = self._read_physical(m, paths)
        c = F.col(self._phys(m, col))  # predicate on the physical column
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(lo))
        if hi is not None:
            cond = cond & (c <= F.lit(hi))
        return self._to_logical_df(df.filter(cond), m)

    def read_where_in(self, col: str, values, version: int | None = None) -> DataFrame:
        """Set-membership read with manifest zone-map pruning: scan
        only buckets whose [min, max] for ``col`` contains AT LEAST
        ONE of ``values``, then apply the exact ``isin`` predicate.
        One manifest pass and ONE scan regardless of |values| — the
        shape a consumer wants when a micro-batch touches many blocks
        (a per-value ``read_where`` union degenerates to |values|
        manifest probes + |values| tiny plans). Stats-less buckets
        are conservatively scanned, and stats/bound incomparability
        degrades to a scan — pruning is an optimization, never a
        correctness gate."""
        m = self._manifest_for(version)
        # deterministic plan literals; type-tagged key so a heterogeneous
        # value set (int + str) sorts instead of raising TypeError
        vals = sorted(
            {v for v in values if v is not None},
            key=lambda v: (type(v).__name__, repr(v)),
        )
        if not m["buckets"] or not vals:
            return self.spark.createDataFrame([], self._schema_of_empty(m))
        kept = self.prune_report_in(col, vals, version)["scanned"]
        paths = [os.path.join(self.path, m["buckets"][b]) for b in kept] or [
            os.path.join(self.path, next(iter(m["buckets"].values())))
        ]
        df = self._read_physical(m, paths)
        return self._to_logical_df(
            df.filter(F.col(self._phys(m, col)).isin(*vals)), m
        )

    def prune_report_in(self, col: str, values, version: int | None = None) -> dict:
        """Manifest-only pruning decision for ``col IN (values)`` —
        the observable behind :meth:`read_where_in`, and the hook
        measurement harnesses use to record a touched-blocks ratio
        (scanned / total buckets) without scanning anything."""
        m = self._manifest_for(version)
        pcol = self._phys(m, col)
        jvals = [self._json_scalar(v) for v in values if v is not None]
        kept, pruned = [], []
        for b in m["buckets"]:
            st = (m.get("stats") or {}).get(b, {}).get(pcol)
            if st is not None and st[0] is not None and st[1] is not None:
                try:
                    if not any(st[0] <= v <= st[1] for v in jvals):
                        pruned.append(b)
                        continue
                except TypeError:  # incomparable bound vs stored stat
                    pass
            kept.append(b)
        return {"scanned": sorted(kept), "skipped": sorted(pruned)}

    def _bucket_of_value(self, key_value) -> int:
        """Bucket id for one key, evaluated with the engine's own
        expression (identical hash/div semantics to the write path)."""
        # cast to the stored key type: xxhash64 is type-sensitive
        # (hash of INT 57 != hash of LONG 57), so an untyped literal
        # would land in the wrong bucket
        ktype = dict(self.read().dtypes)[self.key_col]
        row = (
            self.spark.range(1)
            .select(F.lit(key_value).cast(ktype).alias(self.key_col))
            .select(self._bucket(F.col(self.key_col)).alias("b"))
            .first()
        )
        return int(row.b)

    def optimize(
        self,
        target_files_per_bucket: int = 1,
        zorder_by: list[str] | None = None,
        row_group_bytes: int | None = None,
    ) -> dict:
        """Compact small files (Delta OPTIMIZE): every current bucket
        dir holding more part files than the target is rewritten
        coalesced into a new version; buckets already compact are
        carried over copy-on-write, data and zone maps unchanged.
        Merges write each bucket from shuffle parallelism, so a
        long-lived table accretes small files — compaction restores
        scan efficiency (fewer file opens, fuller row groups) without
        touching logical content. Published like any other commit:
        old snapshots still time-travel, vacuum reclaims the
        fragmented dirs once unreferenced. One coalesce job per fat
        bucket, driver-looped — at production bucket counts schedule
        them in a thread pool; the commit is still one atomic swap.

        ``zorder_by``: Delta's ``OPTIMIZE ... ZORDER BY`` — rewrite
        EVERY bucket with rows ordered by the Morton interleave of
        two columns (scaled onto an 8-bit grid via the table-wide
        min/max). Parquet already stores per-row-group min/max for
        every column; clustering is what makes those statistics
        TIGHT, so a pushed-down predicate on EITHER column skips row
        groups at scan time (Spark's parquet filter pushdown does the
        skipping — no reader change needed; evidence in
        tests/test_zorder_optimize.py via footer metadata).
        ``row_group_bytes`` sets ``parquet.block.size`` for the
        rewrite so row-group granularity (the skipping unit) can be
        tuned to the scan pattern."""
        from htmlentityextraction_spark.operators.zorder import scale_to_bits, zvalue_n

        m = self._read_manifest()
        version = m["version"] + 1
        vdir = f"v{version}-{uuid.uuid4().hex[:8]}"  # unique: see _write_buckets
        entries = dict(m["buckets"])
        compacted: list[str] = []
        zbounds = None
        zbits = 8
        if zorder_by is not None:
            if len(zorder_by) < 2:
                raise ValueError("zorder_by takes at least two columns")
            zbits = min(8, 63 // len(zorder_by))
            aggs = []
            for i, c in enumerate(zorder_by):
                aggs.append(F.min(c).alias(f"lo{i}"))
                aggs.append(F.max(c).alias(f"hi{i}"))
            zbounds = self.read().agg(*aggs).collect()[0]
        for b, rel in sorted(m["buckets"].items()):
            full = os.path.join(self.path, rel)
            n_files = sum(1 for f in os.listdir(full) if f.startswith("part-"))
            if zorder_by is None and n_files <= target_files_per_bucket:
                continue
            out_rel = os.path.join(vdir, f"__bucket={b}")
            # schema-pinned: compaction materializes the CURRENT
            # schema — retired (dropped) columns leave the rewritten
            # files physically, widened columns land at the wide type
            df = self._read_physical(m, [full])
            if zorder_by is not None:
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
                df = (
                    df.withColumn("__z", z)
                    .coalesce(target_files_per_bucket)
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                df = df.coalesce(target_files_per_bucket)
            writer = df.write.mode("overwrite")
            if row_group_bytes:
                writer = writer.option("parquet.block.size", row_group_bytes)
            writer.parquet(os.path.join(self.path, out_rel))
            entries[b] = out_rel
            compacted.append(b)
        if not compacted:
            return {"version": m["version"], "compacted": []}
        # publish through commit() so a merge racing the compaction
        # cannot be silently clobbered
        self.commit(
            {
                "version": version,
                "buckets": entries,
                "stats": dict(m.get("stats", {})),
                "schema": m.get("schema"),
                "mapping": m.get("mapping"),
                "dropped": m.get("dropped"),
            }
        )
        return {"version": version, "compacted": compacted}

    def snapshots(self) -> DataFrame:
        """Metadata table (Iceberg's ``snapshots``, Delta's DESCRIBE
        HISTORY — distinct from the driver-side ``history()`` list):
        one row per retained snapshot — version, bucket count, total
        rows (from the manifest's ``__rows`` stats; null for
        pre-count manifests), and the bucket spec it was written
        under. Reads only manifests (kilobytes), never data files."""
        rows = []
        current = self._read_manifest()["version"]
        # list retained version files rather than scanning contiguously
        # from v1: after vacuum drops old versions the retained tail
        # must still be listed. Versions beyond the current pointer are
        # un-published crash residue and excluded (see _manifest_for).
        versions = sorted(
            int(mm.group(1))
            for name in os.listdir(self.path)
            if (mm := re.fullmatch(r"manifest-v(\d+)\.json", name))
            and int(mm.group(1)) <= current
        )
        for v in versions:
            vfile = os.path.join(self.path, f"manifest-v{v}.json")
            with open(vfile) as f:
                m = json.load(f)
            stats = m.get("stats") or {}
            counts = [stats.get(b, {}).get("__rows") for b in m["buckets"]]
            total = sum(c for c in counts if c is not None) if counts else 0
            spec = m.get("spec") or {}
            rows.append(
                (
                    v,
                    len(m["buckets"]),
                    None if any(c is None for c in counts) else total,
                    spec.get("bucketing"),
                    spec.get("num_buckets"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, n_buckets int, total_rows long, bucketing string, num_buckets int",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg's ``files``): one row per data
        file of a snapshot — bucket, path, size in bytes. Local
        listing of only the referenced dirs."""
        m = self._manifest_for(version)
        rows = []
        for b, rel in sorted(m["buckets"].items()):
            full = os.path.join(self.path, rel)
            for fname in sorted(os.listdir(full)):
                if fname.endswith(".parquet"):
                    p = os.path.join(full, fname)
                    rows.append((b, os.path.relpath(p, self.path), os.path.getsize(p)))
        return self.spark.createDataFrame(
            rows, "bucket string, rel_path string, size_bytes long"
        )

    def verify_integrity(self, version: int | None = None) -> dict:
        """Storage-vs-manifest audit of a snapshot: every referenced
        bucket dir must exist with data files, and its row count must
        equal the manifest's recorded ``__rows`` expectation. Returns
        ``{"ok", "missing", "mismatched", "unverified"}`` — missing =
        path gone (premature vacuum, partial copy), mismatched =
        count drift (corruption, manual edits), unverified = buckets
        from manifests written before counts were recorded. One
        bounded read per bucket (a count over one dir); at production
        bucket counts run the recount as one job over all paths.
        This is the routine a migration/replication pipeline runs
        before flipping readers to a copied table — the audit-side
        complement of ``tablediff.checksum_diff``."""
        m = self._manifest_for(version)
        missing: list[str] = []
        mismatched: list[dict] = []
        unverified: list[str] = []
        for b, rel in sorted(m["buckets"].items()):
            full = os.path.join(self.path, rel)
            if not os.path.isdir(full) or not any(
                f.endswith(".parquet") for f in os.listdir(full)
            ):
                missing.append(b)
                continue
            expect = (m.get("stats") or {}).get(b, {}).get("__rows")
            if expect is None:
                unverified.append(b)
                continue
            actual = self.spark.read.parquet(full).count()
            if actual != expect:
                mismatched.append({"bucket": b, "expected": expect, "actual": actual})
        return {
            "ok": not missing and not mismatched,
            "missing": missing,
            "mismatched": mismatched,
            "unverified": unverified,
        }

    def rebucket(
        self,
        num_buckets: int | None = None,
        bucketing: str | None = None,
        range_width: int | None = None,
    ) -> dict:
        """Partition-spec evolution (Iceberg's evolve-the-spec,
        materialized): rewrite the CURRENT snapshot under a new
        bucket transform — more buckets for a table that outgrew its
        layout, or hash→range to turn key-range predicates into
        bucket pruning — as ONE copy-on-write commit. Historical
        snapshots keep their old layout and stay time-travel-readable
        (``read()`` only follows manifest paths); the new spec is
        recorded in the manifest, so every later opener adopts it
        (``__init__``) and point/range pruning uses the right
        transform. One full-table rewrite — the same cost class as
        OPTIMIZE ZORDER; at production scale schedule it like any
        table-maintenance job."""
        m = self._read_manifest()
        # materialize BEFORE the spec flips; bucket files store
        # PHYSICAL names, so the rewrite round-trips through them
        cur = self._to_physical_df(self.read(), m).localCheckpoint()
        if bucketing is not None:
            if bucketing not in ("hash", "range"):
                raise ValueError(f"bucketing must be hash|range, got {bucketing!r}")
            self.bucketing = bucketing
        if num_buckets is not None:
            self.num_buckets = num_buckets
        if range_width is not None:
            self.range_width = range_width
        if self.bucketing == "range" and not self.range_width:
            raise ValueError("range bucketing requires range_width")
        version = m["version"] + 1
        entries, stats = self._write_buckets(cur, version)
        self.commit(
            {
                "version": version,
                "buckets": entries,
                "stats": stats,
                "schema": m.get("schema"),
                "mapping": m.get("mapping"),
                "dropped": m.get("dropped"),
                "spec": {
                    "num_buckets": self.num_buckets,
                    "bucketing": self.bucketing,
                    "range_width": self.range_width,
                    "bloom_cols": self.bloom_cols,
                    "key_col": self.key_col,
                },
            }
        )
        return {"version": version, "n_buckets": len(entries)}

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
        old = self._read_buckets_physical(m_old, [b for b in changed if b in ob])
        new = self._read_buckets_physical(m_new, [b for b in changed if b in nb])
        k = self.key_col
        # column union from the manifest schemas (authoritative at
        # each version): a changed-bucket subset may predate a
        # schema-evolving merge and lack its added columns
        old_types = self._manifest_types(m_old, old)
        new_types = self._manifest_types(m_new, new)
        # diff under the TO version's column set (Delta CDF
        # convention): a column DROPPED between the versions leaves
        # the feed entirely — the metadata-only drop commit itself has
        # identical bucket paths (zero change rows), and later
        # rewrites must not report every row as updated just because
        # a dropped column's values went away
        data_cols = [c for c in old_types if c != k and c in new_types] + [
            c for c in new_types if c != k and c not in old_types
        ]
        for c in data_cols:  # null-fill across schema evolution
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new_types.get(c) or old_types[c]))
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(old_types.get(c) or new_types[c]))
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

    def _read_buckets_physical(self, m: dict, bucket_ids: list[str]) -> DataFrame:
        """``read_buckets`` without the logical-name translation — the
        CDC diff path compares snapshots under their stable physical
        columns."""
        from pyspark.sql import types as T

        want = {str(b) for b in bucket_ids}
        paths = [
            os.path.join(self.path, rel)
            for b, rel in m["buckets"].items()
            if b in want
        ]
        if not paths:
            sj = m.get("schema")
            if sj is None:
                raise ValueError("cannot read an empty table with no recorded schema")
            return self.spark.createDataFrame([], T.StructType.fromJson(json.loads(sj)))
        return self._read_physical(m, paths)

    def read_key(self, key_value) -> DataFrame:
        """Point lookup: the bucket transform sends the key to exactly
        one bucket dir (hash or range), so a lookup scans 1/N of the
        table regardless of mode — the J7-style point-read path."""
        m = self._read_manifest()
        if not m["buckets"]:
            return self.spark.createDataFrame([], self._schema_of_empty(m))
        b = str(self._bucket_of_value(key_value))
        paths = [os.path.join(self.path, m["buckets"][b])] if b in m["buckets"] else [
            os.path.join(self.path, next(iter(m["buckets"].values())))
        ]
        return self._to_logical_df(
            self._read_physical(m, paths).filter(
                F.col(self.key_col) == F.lit(key_value)
            ),
            m,
        )

    def history(self) -> list[dict]:
        """Published versions, oldest first: [{version, n_buckets}].
        Versions beyond the current pointer (crash residue of a commit
        that never swapped the pointer) are not published and are
        excluded."""
        current = self._read_manifest()["version"]
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith("manifest-v") and name.endswith(".json"):
                with open(os.path.join(self.path, name)) as f:
                    m = json.load(f)
                if m["version"] <= current:
                    out.append(
                        {"version": m["version"], "n_buckets": len(m["buckets"])}
                    )
        return sorted(out, key=lambda r: r["version"])

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

        ``min_age_sec`` (default ``stale_lock_sec``): unreferenced
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
        import shutil
        import time as _time

        age_floor = self.stale_lock_sec if min_age_sec is None else min_age_sec
        now = _time.time()

        def _old_enough(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= age_floor
            except OSError:
                return False  # vanished mid-scan: someone owns it, skip

        lease = self._acquire_lock()
        try:
            current = self._read_manifest()["version"]
            hist = self.history()
            keep_versions = {h["version"] for h in hist[-max(keep_last, 1):]}
            keep_versions.add(current)
            referenced: set[str] = set()
            for v in keep_versions:
                vfile = os.path.join(self.path, f"manifest-v{v}.json")
                if os.path.exists(vfile):
                    with open(vfile) as f:
                        referenced.update(json.load(f)["buckets"].values())
            deleted = []
            for h in hist:
                if h["version"] not in keep_versions:
                    os.remove(
                        os.path.join(self.path, f"manifest-v{h['version']}.json")
                    )
            for name in os.listdir(self.path):  # orphan version files
                mm = re.fullmatch(r"manifest-v(\d+)\.json", name)
                if mm and int(mm.group(1)) > current:
                    os.remove(os.path.join(self.path, name))
            for vdir in sorted(os.listdir(self.path)):
                # v{N} (pre-unique-staging layout) or v{N}-{uuid}
                mv = re.fullmatch(r"v(\d+)(-[0-9a-f]+)?", vdir)
                if not mv:
                    continue
                if int(mv.group(1)) > current:
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

    def merge(
        self, updates: DataFrame, op_col: str = "op", combine: dict[str, str] | None = None
    ) -> dict:
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
        staged = self.staged_merge(updates, op_col, combine)
        self.commit(staged)
        return staged

    def staged_merge(
        self, updates: DataFrame, op_col: str = "op", combine: dict[str, str] | None = None
    ) -> dict:
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
        phys_cols = set(self._physical_cols(m)) | retired
        logical_cols = self._logical_cols(m)
        for c in updates.columns:
            if c in (op_col, self.key_col) or c in logical_cols:
                continue
            if c in phys_cols:
                minted = f"{c}__p{version}"
                while minted in phys_cols:
                    minted += "x"
                mapping[c] = minted
        m_view = {**m, "mapping": {l: p for l, p in mapping.items() if l != p}}
        updates = self._to_physical_df(updates, m_view)
        # lenient translation for combine: its columns may be ADDED by
        # this very batch (not yet in the snapshot), which strict
        # _phys would reject
        mp_view = self._mapping(m_view)
        combine = {mp_view.get(c, c): how for c, how in (combine or {}).items()} or None
        # the bucket transform hashes by TYPE (xxhash64(int 57) !=
        # xxhash64(long 57)): a batch carrying the key at a narrower
        # type than the table stores must be upcast BEFORE bucketing,
        # and a wider-than-table key is refused — widening the key
        # would relocate every existing row's bucket
        tbl_types = self._manifest_types(m, updates) if m.get("schema") else {}
        k_t = tbl_types.get(self.key_col)
        if k_t is not None:
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
                updates = updates.withColumn(
                    self.key_col, F.col(self.key_col).cast(k_t)
                )
        upd = updates.withColumn("__bucket", self._bucket(F.col(self.key_col))).cache()
        # one action yields the affected-bucket set AND the batch row
        # count (optimization r12, guide §1.3/§3.2): the count costs
        # nothing extra over the old distinct() and lets the merge
        # join pick its strategy from a KNOWN delta size below
        per_bucket = upd.groupBy("__bucket").count().collect()
        affected = sorted(r["__bucket"] for r in per_bucket)
        n_upd_rows = sum(r["count"] for r in per_bucket)
        if not affected:
            # no-op batch (empty stream trigger): carry the recorded
            # schema forward — dropping it left an empty table
            # unreadable after any empty micro-batch (empty-fuzz axis)
            return {
                "version": version,
                "buckets": dict(m["buckets"]),
                "stats": dict(m.get("stats", {})),
                "schema": m.get("schema"),
                "mapping": m.get("mapping"),
                "dropped": m.get("dropped"),
            }

        old_paths = [
            os.path.join(self.path, m["buckets"][str(b)])
            for b in affected
            if str(b) in m["buckets"]
        ]
        data_cols = [c for c in upd.columns if c not in (op_col, "__bucket")]
        if old_paths:
            # schema-pinned read: dropped physical columns are never
            # selected (this rewrite retires them physically for the
            # affected buckets), narrow files upcast if the table
            # already widened
            old = self._read_physical(m, old_paths)
        else:
            old = self.spark.createDataFrame([], updates.drop(op_col).schema)

        # schema evolution (Delta mergeSchema shape): an update batch
        # may ADD columns — existing rows take null for them, and the
        # manifest schema evolves so empty/pruned reads stay typed.
        # Updates are full-row upserts, so they must still carry every
        # existing column; silently dropping one would fork the schema
        # between rewritten and untouched buckets.
        missing_in_upd = [c for c in old.columns if c not in data_cols]
        if missing_in_upd:
            inv_view = {p: l for l, p in self._mapping(m_view).items()}
            raise ValueError(
                "update batch is missing existing columns "
                f"{[inv_view.get(c, c) for c in missing_in_upd]}; "
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
            if c == self.key_col or c not in old.columns or c in evolved:
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
                inv_view = {p: l for l, p in self._mapping(m_view).items()}
                raise ValueError(
                    f"column {inv_view.get(c, c)!r} is {pair[0]} in the "
                    f"table but {pair[1]} in the update batch; only "
                    f"lossless widenings are supported: {sorted(_WIDENINGS)}"
                )

        k = self.key_col
        upd_named = upd.select(
            F.col(k).alias("__uk"),
            F.col(op_col).alias("__op"),
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
            how = (combine or {}).get(c)
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

        entries = dict(m["buckets"])
        stats = dict(m.get("stats", {}))
        new_entries, new_stats = self._write_buckets(merged, version)
        for b in affected:
            b = str(b)
            if b in new_entries:
                entries[b] = new_entries[b]
                if b in new_stats:
                    stats[b] = new_stats[b]
            else:  # bucket emptied by deletes
                entries.pop(b, None)
                stats.pop(b, None)
        if widened:
            # bloom bits are xxhash64-of-TYPED-value: untouched
            # buckets' blooms for a widened column were built from the
            # narrow type, and future probes cast to the wide type —
            # a stale bloom could prune a bucket that HAS the value
            # (false negative). Invalidate them; absent entry =
            # conservative must-scan, and the next rewrite of each
            # bucket rebuilds its bloom at the wide type.
            rewritten = {str(b) for b in affected}
            for c in widened:
                if c in self.bloom_cols:
                    for b, st in stats.items():
                        if b not in rewritten and isinstance(st, dict):
                            st.pop(f"__bloom_{c}", None)
        upd.unpersist()
        schema_json = (
            merged.schema.json() if (evolved or widened) else m.get("schema")
        )
        return {
            "version": version,
            "buckets": entries,
            "stats": stats,
            "schema": schema_json,
            "mapping": m_view["mapping"] or None,
            "dropped": m.get("dropped"),
        }

    def _acquire_lock(self):
        """Take the table's commit lock (O_CREAT|O_EXCL — a
        conditional PUT on an object store). A writer that crashed
        while holding the lock (between manifest swap and unlock)
        would otherwise wedge the table forever; a lock older than
        ``stale_lock_sec`` is presumed abandoned and broken.

        Correctness of the break path (a double-granted lock would
        defeat the OCC version check and silently lose a writer's
        buckets):

        - the lock file carries an OWNER TOKEN (pid + uuid), and
          release verifies the token before unlinking — a holder that
          outlived ``stale_lock_sec`` and was broken can no longer
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
          ``stale_lock_sec/4`` while held, so a legitimately long
          operation under the lock (vacuum on a big table) never
          goes stale out from under itself.

        The retry loop is deadline-based (``lock_timeout_sec`` wall
        clock) and sleeps on EVERY branch, so a contended or flapping
        lock waits the intended duration rather than burning an
        iteration budget in microseconds. Returns a lease for
        ``_release_lock``."""
        import threading
        import time
        import uuid

        lock = os.path.join(self.path, "_commit.lock")
        token = f"{os.getpid()}-{uuid.uuid4().hex}"
        deadline = time.monotonic() + max(self.lock_timeout_sec, 0.0)
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    age = None  # holder released between open and stat
                if age is not None and age > self.stale_lock_sec:
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
                        if cap_age is not None and cap_age <= self.stale_lock_sec:
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
            interval = max(min(self.stale_lock_sec / 4.0, 60.0), 0.2)

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
        this holder outlived ``stale_lock_sec`` despite the heartbeat
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

    def _manifest_types(self, manifest: dict, df: DataFrame) -> dict:
        """col → DataType from the manifest's recorded schema
        (authoritative for its version), falling back to the given
        frame's schema for tables created before schemas were
        recorded."""
        from pyspark.sql import types as T

        sj = manifest.get("schema")
        if sj:
            st = T.StructType.fromJson(json.loads(sj))
            return {f.name: f.dataType for f in st.fields}
        return {f.name: f.dataType for f in df.schema.fields}

    def _schema_of_empty(self, manifest: dict):
        import json as _json

        from pyspark.sql import types as T

        sj = manifest.get("schema")
        if sj is None:  # table created before schemas were recorded
            raise ValueError("cannot read an empty table with no recorded schema")
        st = T.StructType.fromJson(_json.loads(sj))
        inv = {p: l for l, p in self._mapping(manifest).items()}
        dropped = set(manifest.get("dropped") or [])
        if inv or dropped:  # recorded schema is physical; empty reads are logical
            st = T.StructType(
                [
                    T.StructField(inv.get(f.name, f.name), f.dataType, f.nullable)
                    for f in st.fields
                    if f.name not in dropped
                ]
            )
        return st
