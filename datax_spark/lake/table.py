"""LakeTable — snapshot-versioned parquet table with atomic commits.

The sink side of the CDC engine. DataX's writers commit via sink-native
mechanisms (RDBMS transactions ``CommonRdbmsWriter.java:348-373``, HDFS
temp-dir + move ``hdfswriter/.../HdfsWriter.java:159-185``, StarRocks/Doris
label-fenced stream loads). This table format unifies those into one
Iceberg-style contract implemented on plain parquet + a JSON metadata log:

layout::

    <root>/metadata/v<N>.json        # full table metadata, atomic rename
    <root>/metadata/version-hint.text
    <root>/metadata/manifest-<snapshot>.json   # data-file list + stats
    <root>/data/w-<writeid>/_bucket=<k>/part-*.parquet

Guarantees:
- **atomic commit**: metadata written to temp then ``os.rename`` (atomic on
  POSIX); readers resolve the current version via version-hint with a
  fall-back directory scan.
- **bucket partitioning**: rows are hash-bucketed by the merge key with
  ``pmod(xxhash64(key), num_buckets)`` — deterministic across runs and
  sessions; MERGE rewrites only touched buckets (copy-on-write), so merge
  cost scales with the change batch, not table size. At 100 TB you size
  ``num_buckets`` so a bucket ≈ 1–4 GB (e.g. 65536); locally tests use 8.
- **exactly-once**: every commit may carry ``(stream_id, batch_id)``; the
  metadata keeps a per-stream high-water mark, and re-commits of an
  already-applied batch are skipped — the stream-load *label* pattern
  (``StarRocksStreamLoadVisitor.java:160-185``,
  ``doriswriter/.../DorisStreamLoadObserver.java:81-101``).
- **schema evolution**: metadata stores versioned schemas; old data files
  are read with their own schema and aligned (missing columns → NULL,
  widened columns → cast) at scan time.
- **tombstones**: deletes persist ``_deleted=true`` rows carrying their
  LWW ordering key so late-arriving stale updates cannot resurrect a
  deleted key across batches; ``expire_tombstones`` compacts them away.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from datax_spark.lake.schema import Field, TableSchema, can_widen

# engine-managed columns stored in every data file
LSN_COL = "_lsn"
DELETED_COL = "_deleted"
BUCKET_COL = "_bucket"
SYSTEM_COLS = [LSN_COL, DELETED_COL]

FORMAT_VERSION = 1


class CommitConflict(Exception):
    """Another writer committed since this table handle loaded metadata."""


def bucket_expr(key_col: str, num_buckets: int):
    """Deterministic bucket id for a key — stable across sessions/runs."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


def _atomic_write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


# columns of a manifest entry (schema pinned so empty manifests roundtrip)
_MANIFEST_SCHEMA_COLS = [
    ("path", "string"), ("bucket", "int64"), ("records", "int64"),
    ("deleted", "int64"), ("lsn_min", "int64"), ("lsn_max", "int64"),
    ("schema_id", "int64"), ("kind", "string"), ("bytes", "int64"),
    # per-delta-file key bloom for point-read file skipping (None on
    # base files and pre-bloom manifests — absent bloom means "read it")
    ("key_bloom", "binary"), ("bloom_bits", "int64"), ("bloom_hashes", "int64"),
    # zone map: per-file min/max of ONE secondary column (the table
    # property 'zone_col'), JSON-encoded through _zone_key so numerics,
    # strings, and timestamps all compare correctly at prune time. None
    # on files written before clustering — absent zone means "read it".
    ("zone_col", "string"), ("zone_min", "string"), ("zone_max", "string"),
]


# Delta writes at or below this many total rows build their per-bucket
# key blooms ON THE DRIVER (pyarrow read of the just-written local files
# + pure-python xxh64, ~13us/key) instead of launching a scan+shuffle
# Spark job — the dominant fixed cost of a trickle MoR batch. Bulk
# deltas keep the distributed build (driver cost stays O(threshold)).
DRIVER_BLOOM_MAX_ROWS = 8192


def _zone_key(v):
    """Normalize a value to an orderable JSON-able primitive so parquet
    footer statistics (write side) and query bounds (prune side) compare
    in one domain. Timestamps/dates → epoch integers; int/float/str pass
    through. Returns None for unsupported types (decimal, binary) — the
    conservative "cannot prune" signal, never a wrong prune."""
    import datetime

    if isinstance(v, bool):  # bool is an int subclass; zone-mapping it is noise
        return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        else:
            epoch = datetime.datetime(1970, 1, 1)
        # exact integer micros (timedelta keeps days/seconds/micros as
        # ints); the float64 total_seconds() path can truncate modern
        # epochs by 1us, which skews stored zone bounds off-by-one
        return (v - epoch) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (int, float, str)):
        return v
    return None


def _atomic_write_manifest(path: str, entries: list[dict]) -> None:
    """Manifests are PARQUET, not JSON: a commit rewrites the full file
    list, and at lakehouse file counts (MoR deltas × buckets × batches;
    100k+ files) JSON serialize/parse on every commit becomes the
    driver's bottleneck — columnar manifests keep commit cost O(files)
    with a tiny constant and open the door to predicate-pushdown manifest
    scans. Same atomic tmp+rename contract as the metadata log."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([(n, t) for n, t in _MANIFEST_SCHEMA_COLS])
    cols = {
        n: [e.get(n) for e in entries] for n, _ in _MANIFEST_SCHEMA_COLS
    }
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    pq.write_table(pa.table(cols, schema=schema), tmp)
    os.rename(tmp, path)


def _read_manifest(path: str) -> list[dict]:
    if path.endswith(".json"):  # round-1 tables keep working
        with open(path) as f:
            entries = json.load(f)
    else:
        import pyarrow.parquet as pq

        entries = pq.read_table(path).to_pylist()
    # legacy entries (round-1 JSON manifests, or JSON entries round-tripped
    # through the parquet manifest) may carry deleted=None / missing stats;
    # normalize so downstream arithmetic never sees None counts.
    for e in entries:
        if e.get("deleted") is None:
            e["deleted"] = 0
        if e.get("kind") is None:
            e["kind"] = "base"
    return entries


def _parquet_stats(path: str, zone_col: str | None = None) -> tuple:
    """(records, deleted, lsn_min, lsn_max, zone_min, zone_max) from ONE
    footer read; zone_min/zone_max are None unless ``zone_col`` is given
    and every row group carries mappable statistics for it.

    The tombstone count usually resolves from row-group boolean min/max
    statistics (all-false → 0, all-true → n) — the _deleted column is
    only materialized for row groups with mixed values. The _lsn range
    comes straight from column statistics; both feed per-file manifest
    stats and per-bucket lineage without any extra Spark job.
    """
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    rows = md.num_rows
    deleted = 0
    mixed_rgs: list[int] = []
    if DELETED_COL in names:
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(names[DELETED_COL]).statistics
            if st is not None and st.has_min_max:
                if st.max is False:
                    continue
                if st.min is True:
                    deleted += rgm.num_rows
                    continue
            mixed_rgs.append(rg)
        if mixed_rgs:
            import pyarrow.compute as pc

            for rg in mixed_rgs:
                col = pf.read_row_group(rg, columns=[DELETED_COL])[DELETED_COL]
                deleted += int(pc.sum(col.cast("int64")).as_py() or 0)
    lsn_min = lsn_max = None
    if LSN_COL in names and md.num_row_groups:
        mins: list[int] = []
        maxs: list[int] = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(names[LSN_COL]).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            lsn_min, lsn_max = int(min(mins)), int(max(maxs))
    zone_min = zone_max = None
    if zone_col is not None and zone_col in names and md.num_row_groups:
        zmins: list = []
        zmaxs: list = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(names[zone_col]).statistics
            k_lo = _zone_key(st.min) if st is not None and st.has_min_max else None
            k_hi = _zone_key(st.max) if st is not None and st.has_min_max else None
            if k_lo is None or k_hi is None:
                zmins = []  # any un-mappable row group poisons the file's zone
                break
            zmins.append(k_lo)
            zmaxs.append(k_hi)
        if zmins:
            zone_min, zone_max = min(zmins), max(zmaxs)
    return rows, deleted, lsn_min, lsn_max, zone_min, zone_max


class LakeTable:
    """Handle on a lake table. Cheap to construct; metadata loaded lazily."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta: dict | None = None
        self._loaded_version: int = -1

    # ---------------------------------------------------------------- paths
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _version_path(self, v: int) -> str:
        return os.path.join(self._meta_dir, f"v{v}.json")

    # ------------------------------------------------------------- lifecycle
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_col: str,
        num_buckets: int = 8,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is the *user* schema; system
        columns (_lsn, _deleted) are appended automatically."""
        os.makedirs(os.path.join(root, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        user = TableSchema.from_spark(schema, schema_id=0)
        nid = user.max_field_id() + 1
        user.fields.append(Field(nid, LSN_COL, "bigint", True))
        user.fields.append(Field(nid + 1, DELETED_COL, "boolean", False))
        meta = {
            "format_version": FORMAT_VERSION,
            "table_uuid": uuid.uuid4().hex,
            "key_col": key_col,
            "num_buckets": num_buckets,
            "current_schema_id": 0,
            "schemas": [user.to_json()],
            "current_snapshot_id": 0,
            "snapshots": [],
            "batch_fence": {},  # stream_id -> last applied batch_id
            "properties": properties or {},
        }
        _atomic_write_json(os.path.join(root, "metadata", "v1.json"), meta)
        _atomic_write_json(os.path.join(root, "metadata", "version-hint.text"), 1)
        t = LakeTable(spark, root)
        t.load()
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.isdir(os.path.join(root, "metadata"))

    def load(self) -> "LakeTable":
        hint = os.path.join(self._meta_dir, "version-hint.text")
        v = None
        if os.path.exists(hint):
            try:
                with open(hint) as f:
                    v = int(json.load(f))
            except (ValueError, json.JSONDecodeError):
                v = None
        if v is None or not os.path.exists(self._version_path(v)):
            versions = [
                int(os.path.basename(p)[1:-5])
                for p in glob.glob(os.path.join(self._meta_dir, "v*.json"))
            ]
            if not versions:
                raise FileNotFoundError(f"no table at {self.root}")
            v = max(versions)
        with open(self._version_path(v)) as f:
            self.meta = json.load(f)
        self._loaded_version = v
        return self

    def _require_meta(self) -> dict:
        if self.meta is None:
            self.load()
        return self.meta  # type: ignore[return-value]

    # ------------------------------------------------------------- accessors
    @property
    def key_col(self) -> str:
        return self._require_meta()["key_col"]

    @property
    def num_buckets(self) -> int:
        return self._require_meta()["num_buckets"]

    def schema(self, schema_id: int | None = None) -> TableSchema:
        m = self._require_meta()
        sid = m["current_schema_id"] if schema_id is None else schema_id
        for s in m["schemas"]:
            if s["schema_id"] == sid:
                return TableSchema.from_json(s)
        raise KeyError(f"schema {sid} not found")

    def user_schema(self) -> T.StructType:
        return T.StructType(
            [f.spark_field() for f in self.schema().fields if f.name not in SYSTEM_COLS]
        )

    def current_snapshot(self) -> dict | None:
        m = self._require_meta()
        sid = m["current_snapshot_id"]
        for s in m["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        return None

    def snapshots(self) -> list[dict]:
        return list(self._require_meta()["snapshots"])

    def manifest(self, snapshot: dict | None = None) -> list[dict]:
        snap = snapshot if snapshot is not None else self.current_snapshot()
        if snap is None:
            return []
        return _read_manifest(os.path.join(self.root, snap["manifest"]))

    def last_batch_id(self, stream_id: str, epoch: str | None = None) -> int:
        """Batch-id high-water mark for exactly-once fencing.

        ``epoch`` identifies the checkpoint generation (Spark restarts
        batch ids at 0 when a checkpoint is recreated): a fence recorded
        under a DIFFERENT epoch does not apply — the mark resets to -1
        (with a loud warning) so genuinely new data is never silently
        skipped; convergence is then the LWW stale guard's job.
        ``epoch=None`` matches any recorded epoch (legacy callers)."""
        rec = self._require_meta()["batch_fence"].get(stream_id, -1)
        if isinstance(rec, dict):
            if epoch is not None and rec.get("epoch") != epoch:
                import logging

                logging.getLogger(__name__).warning(
                    "stream %s: checkpoint epoch changed (%s -> %s); batch-id "
                    "fence RESET — all batches will re-apply (LWW-convergent)",
                    stream_id, rec.get("epoch"), epoch,
                )
                return -1
            return int(rec["batch_id"])
        if epoch is not None and rec != -1:
            # legacy int fence (pre-epoch table) queried with an epoch: the
            # recorded mark's checkpoint generation is unknowable, so
            # trusting it could silently skip new data if the checkpoint
            # was recreated. Reset once (convergent re-apply); the next
            # commit upgrades the fence to the epoch-tagged format.
            import logging

            logging.getLogger(__name__).warning(
                "stream %s: legacy (epoch-less) fence %s found; RESET under "
                "epoch %s — batches re-apply once, then the fence is "
                "epoch-tagged", stream_id, rec, epoch,
            )
            return -1
        return int(rec)

    # ---------------------------------------------------------------- read
    def read(
        self,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        include_system: bool = False,
        snapshot_id: int | None = None,
        collapse: bool = True,
        _entry_filter=None,
    ) -> DataFrame:
        """Scan the table (optionally a bucket subset / time-travel snapshot).

        Files are grouped by the schema they were written with, each group
        scanned with an explicit schema (full pushdown / pruning applies),
        aligned to the current schema (missing → NULL, widened → cast), and
        unioned. Bucket pruning is manifest-driven file skipping — the scan
        never opens untouched buckets.
        """
        m = self._require_meta()
        snap = None
        if snapshot_id is not None:
            snap = next((s for s in m["snapshots"] if s["snapshot_id"] == snapshot_id), None)
            if snap is None:
                raise KeyError(
                    f"snapshot {snapshot_id} not found (expired or never existed); "
                    f"retained: {[s['snapshot_id'] for s in m['snapshots']]}"
                )
        entries = self.manifest(snap)
        if buckets is not None:
            bset = set(buckets)
            entries = [e for e in entries if e["bucket"] in bset]
        if _entry_filter is not None:
            entries = [e for e in entries if _entry_filter(e)]
        cur = self.schema()
        cur_names = cur.field_names()
        if not entries:
            df = self.spark.createDataFrame([], cur.spark_schema())
        else:
            by_sid: dict[int, list[str]] = {}
            for e in entries:
                by_sid.setdefault(e["schema_id"], []).append(os.path.join(self.root, e["path"]))
            parts = []
            for sid, paths in sorted(by_sid.items()):
                old = self.schema(sid)
                raw = self.spark.read.schema(old.spark_schema()).parquet(*paths)
                old_names = set(old.field_names())
                cols = []
                for fdef in cur.fields:
                    if fdef.name in old_names:
                        cols.append(F.col(fdef.name).cast(fdef.type).alias(fdef.name))
                    else:
                        cols.append(F.lit(None).cast(fdef.type).alias(fdef.name))
                parts.append(raw.select(*cols))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        # merge-on-read: buckets holding delta files carry multiple
        # versions (+tombstones) per key — collapse to the LWW winner by
        # (lww_ts_col, _lsn) with the same hash-aggregate shape as
        # lww_dedup (map-side partial combine; shuffle ∝ unique keys).
        # Null ts sorts lowest in the struct ordering, so null-ts
        # versions lose to any real timestamp.
        # ``collapse=False`` exposes the raw version rows (every delta
        # version + base rows, one row per (key, write) rather than per
        # key) — the feed/incremental readers and bucket-local version
        # analytics consume this; ``include_deleted`` then applies to the
        # individual version rows.
        if collapse and entries and any(e.get("kind") == "delta" for e in entries):
            key = m["key_col"]
            ts_col = m["properties"].get("lww_ts_col")
            if ts_col is None:
                raise ValueError(
                    "table has merge-on-read delta files but no 'lww_ts_col' "
                    "property pinning the collapse ordering column — delta "
                    "entries must be committed via merge_into(merge_mode='mor') "
                    "(which pins it) or the property set explicitly"
                )
            ordered = [ts_col, LSN_COL] + [
                c for c in cur_names if c not in (key, ts_col, LSN_COL)
            ]
            packed = df.groupBy(key).agg(
                F.max(F.struct(*[F.col(c) for c in ordered])).alias("_w")
            )
            df = packed.select(
                *[
                    (F.col(key) if c == key else F.col(f"_w.{c}").alias(c))
                    for c in cur_names
                ]
            )
        if not include_deleted:
            df = df.filter(~F.col(DELETED_COL))
        if not include_system:
            df = df.select([c for c in cur_names if c not in SYSTEM_COLS])
        return df

    def key_bucket(self, key_value) -> int:
        """The bucket a key lives in, computed WITHOUT Spark: the pure-
        python xxh64 (bit-verified against the JVM in
        tests/test_oracle_pyref.py) applied exactly as ``bucket_expr``
        does to the key column's declared type (string and integral
        keys; TypeError otherwise)."""
        from datax_spark.oracle.xxh64 import spark_xxhash64

        return int(spark_xxhash64(self._key_arg(key_value)) % self.num_buckets)

    def _key_arg(self, key_value) -> tuple[str, object]:
        from datax_spark.oracle.xxh64 import xxh64_arg

        return xxh64_arg(key_value, self.user_schema()[self.key_col].dataType)

    def lookup(self, key_value, snapshot_id: int | None = None) -> DataFrame:
        """Point read of one key: manifest-prunes the scan to the key's
        single bucket before Spark ever lists a file, then skips delta
        files whose stored key bloom says the key cannot be there (pure
        python probe against the manifest — no Spark job in the planning
        step), then filters and (for MoR buckets) collapses. At 100 TB
        with 65,536 buckets and N delta batches a lookup touches the
        bucket's base file plus only the deltas that actually wrote the
        key — not 1/65,536 × N files."""
        from datax_spark.operators.bloom import might_contain_python

        b = self.key_bucket(key_value)
        key_arg = self._key_arg(key_value)
        m = self._require_meta()

        def keep(e: dict) -> bool:
            if e.get("kind") != "delta" or not e.get("key_bloom"):
                return True
            return might_contain_python(
                e["key_bloom"], e["bloom_bits"], e["bloom_hashes"], key_arg
            )

        return self.read(
            buckets=[b], snapshot_id=snapshot_id, _entry_filter=keep
        ).where(F.col(m["key_col"]) == F.lit(key_value))

    def row_count(self) -> int:
        """Live rows. Manifest math when every file is a base file; with
        merge-on-read deltas the same key may appear in several files, so
        the exact count requires a collapse scan."""
        snap = self.current_snapshot()
        if snap is None:
            return 0
        if any(e.get("kind") == "delta" for e in self.manifest(snap)):
            return self.read().count()
        return int(snap["summary"].get("live_rows", 0))

    # --------------------------------------------------------------- write
    def write_data_files(
        self, df: DataFrame, schema, kind: str = "base", prepartitioned: bool = False,
        num_buckets: int | None = None, max_records_per_file: int | None = None,
        zone_col: str | None = None,
    ) -> list[dict]:
        """Write a dataframe as bucket-partitioned data files; return manifest
        entries. ``schema`` is the TableSchema the files are written under
        (may be a not-yet-committed evolved schema); ``df`` must already
        carry all of its columns (system columns included).

        ``kind`` tags the manifest entries: ``base`` rows are unique per
        key; ``delta`` files (merge-on-read) may carry multiple versions
        of a key and tombstones, collapsed at read time by LWW.

        ``repartition(BUCKET_COL)`` before ``partitionBy`` keeps each bucket's
        rows in one task → one file per bucket per write (no small-file
        explosion); dynamic partition write splits multi-bucket tasks
        per-directory. At cluster scale the same pattern holds;
        ``max_records_per_file`` (argument, or the table property of the
        same name set at create/commit time) splits buckets that outgrow
        a single file — the manifest already supports many files per
        bucket, so readers/compaction are unaffected.

        ``prepartitioned=True``: the caller guarantees ``df`` already
        carries ``_bucket`` and is partitioned by it (e.g. the CoW
        union-collapse plan) — the writer adds NO shuffle of its own.
        """
        from datax_spark.session import ensure_engine_confs

        # manifest stats (zone maps, per-file lsn ranges) are read from
        # parquet footers; a caller session left on legacy INT96
        # timestamps writes NO footer statistics, silently disabling
        # them — pin the correctness confs on whatever session we got
        ensure_engine_confs(self.spark)
        ts = schema
        write_id = f"w-{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self._data_dir, write_id)
        if prepartitioned:
            if BUCKET_COL not in df.columns:
                raise ValueError(f"prepartitioned write requires a {BUCKET_COL} column")
            out = df.select(*(ts.field_names() + [BUCKET_COL]))
        else:
            out = (
                df.withColumn(
                    BUCKET_COL,
                    bucket_expr(self.key_col, num_buckets or self.num_buckets),
                )
                .repartition(F.col(BUCKET_COL))
                .select(*(ts.field_names() + [BUCKET_COL]))
            )
        writer = out.write
        if max_records_per_file is None:
            # table-level default for buckets that outgrow one file
            max_records_per_file = self._require_meta()["properties"].get(
                "max_records_per_file")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy(BUCKET_COL).parquet(out_dir)
        # zone-map capture: once the table is clustered (property set by
        # cluster_by), EVERY later write — merge output, deltas,
        # compaction — records its files' min/max of the zone column from
        # the same footer read that yields the row/lsn stats.
        zone_col = zone_col or self._require_meta()["properties"].get("zone_col")
        if zone_col is not None and zone_col not in ts.field_names():
            zone_col = None  # evolved-away column: stop capturing, keep reading
        entries: list[dict] = []
        for bdir in sorted(glob.glob(os.path.join(out_dir, f"{BUCKET_COL}=*"))):
            bucket = int(os.path.basename(bdir).split("=", 1)[1])
            for p in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
                records, deleted, lsn_min, lsn_max, zmin, zmax = _parquet_stats(
                    p, zone_col=zone_col)
                entries.append(
                    {
                        "path": os.path.relpath(p, self.root),
                        "bucket": bucket,
                        "records": records,
                        "deleted": deleted,
                        "lsn_min": lsn_min,
                        "lsn_max": lsn_max,
                        "schema_id": ts.schema_id,
                        "kind": kind,
                        "bytes": os.path.getsize(p),
                        "zone_col": zone_col if zmin is not None else None,
                        "zone_min": json.dumps(zmin) if zmin is not None else None,
                        "zone_max": json.dumps(zmax) if zmax is not None else None,
                    }
                )
        if kind == "delta":
            self._attach_delta_blooms(out_dir, entries)
        return entries

    def _attach_delta_blooms(self, out_dir: str, entries: list[dict]) -> None:
        """Per-bucket key blooms for the delta files just written — the
        manifest-level index `lookup()` uses to skip delta files that
        cannot contain the probed key (base files are always read: they
        ARE the bucket). Built in one distributed pass over the written
        files (executor-side; the driver only receives the filters,
        num_bits/8 bytes per bucket). When ``maxRecordsPerFile`` splits a
        bucket's delta into several files they share the bucket's bloom —
        a superset filter: less selective, never incorrect. Disable with
        table property ``delta_bloom_bits=0``; an over-full bloom
        saturates toward all-ones (pruning → 0, correctness unaffected)."""
        from datax_spark.operators.bloom import bucket_blooms, bucket_blooms_local

        props = self._require_meta()["properties"]
        num_bits = int(props.get("delta_bloom_bits", 1 << 16) or 0)
        if not num_bits or not entries:
            return
        num_hashes = int(props.get("delta_bloom_hashes", 5))
        blooms = None
        total_rows = sum(e["records"] for e in entries)
        if total_rows <= DRIVER_BLOOM_MAX_ROWS:
            # trickle-sized delta: build the filters on the driver from
            # the files' key columns (pure pyarrow + the bit-verified
            # python xxh64 — byte-identical to the distributed build,
            # pinned by test) instead of paying a whole scan+shuffle
            # Spark job to index a few hundred keys. Falls back below on
            # key types the python hash does not cover.
            try:
                blooms = bucket_blooms_local(
                    [(os.path.join(self.root, e["path"]), e["bucket"])
                     for e in entries],
                    self.key_col, num_bits, num_hashes)
            except TypeError:
                blooms = None
        if blooms is None:
            back = self.spark.read.parquet(out_dir).select(self.key_col, BUCKET_COL)
            blooms = bucket_blooms(back, self.key_col, BUCKET_COL, num_bits, num_hashes)
        for e in entries:
            bl = blooms.get(e["bucket"])
            if bl is not None:
                e["key_bloom"] = bl
                e["bloom_bits"] = num_bits
                e["bloom_hashes"] = num_hashes

    def commit(
        self,
        new_entries: list[dict],
        replaced_buckets: set[int] | None = None,
        operation: str = "merge",
        stream_id: str | None = None,
        batch_id: int | None = None,
        summary_extra: dict | None = None,
        new_schema: TableSchema | None = None,
        fence_epoch: str | None = None,
        properties_update: dict | None = None,
        properties_overwrite: bool = False,
        num_buckets_update: int | None = None,
    ) -> dict:
        """Atomically commit a snapshot.

        The new manifest = previous manifest minus files in
        ``replaced_buckets`` plus ``new_entries`` (copy-on-write). A commit
        may simultaneously install an evolved schema. Optimistic conflict
        check mirrors single-writer streaming semantics.
        """
        m = self._require_meta()
        # optimistic concurrency: reload hint and compare
        hint = os.path.join(self._meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                disk_v = int(json.load(f))
            if disk_v != self._loaded_version:
                raise CommitConflict(
                    f"table advanced to v{disk_v} (loaded v{self._loaded_version})"
                )
        prev = self.manifest()
        replaced = replaced_buckets or set()
        manifest = [e for e in prev if e["bucket"] not in replaced] + new_entries
        snap_id = m["current_snapshot_id"] + 1
        manifest_rel = os.path.join("metadata", f"manifest-{snap_id}.parquet")
        _atomic_write_manifest(os.path.join(self.root, manifest_rel), manifest)
        total = sum(e["records"] for e in manifest)
        # live excludes tombstones (files written before the "deleted"
        # stat existed count as all-live — a documented legacy upper bound)
        live = total - sum(e.get("deleted") or 0 for e in manifest)
        summary = {
            "operation": operation,
            "added_files": len(new_entries),
            "replaced_buckets": sorted(replaced),
            "total_files": len(manifest),
            "total_rows": total,
            "live_rows": live,
            # the bucket layout this snapshot's manifest bucket ids refer
            # to — time-travel bucket pruning across a rebucket boundary
            # must use THIS value, not the table's current one
            "num_buckets": num_buckets_update or m["num_buckets"],
        }
        if batch_id is not None:
            summary["batch_id"] = batch_id
            summary["stream_id"] = stream_id or "default"
        summary.update(summary_extra or {})
        snap = {
            "snapshot_id": snap_id,
            "parent_id": m["current_snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "schema_id": (new_schema.schema_id if new_schema else m["current_schema_id"]),
            "manifest": manifest_rel,
            "summary": summary,
        }
        new_meta = dict(m)
        new_meta["snapshots"] = m["snapshots"] + [snap]
        new_meta["current_snapshot_id"] = snap_id
        if num_buckets_update is not None:
            new_meta["num_buckets"] = int(num_buckets_update)
        if properties_update:
            props = dict(m["properties"])
            for k, v in properties_update.items():
                # changing a pinned property is refused unless the caller
                # explicitly owns the consequences (cluster_by does: it
                # rewrites every file, so the superseded pin has no
                # surviving reader)
                if k in props and props[k] != v and not properties_overwrite:
                    raise ValueError(
                        f"table property {k!r} already pinned to {props[k]!r}; "
                        f"cannot change to {v!r}"
                    )
                props[k] = v
            new_meta["properties"] = props
        if new_schema is not None:
            new_meta["schemas"] = m["schemas"] + [new_schema.to_json()]
            new_meta["current_schema_id"] = new_schema.schema_id
        if batch_id is not None:
            fence = dict(m["batch_fence"])
            sid = stream_id or "default"
            if fence_epoch is not None:
                fence[sid] = {"epoch": fence_epoch, "batch_id": int(batch_id)}
            else:
                fence[sid] = int(batch_id)
            new_meta["batch_fence"] = fence
        v = self._loaded_version + 1
        _atomic_write_json(self._version_path(v), new_meta)
        _atomic_write_json(hint, v)
        self.meta = new_meta
        self._loaded_version = v
        return snap

    def evolve_schema(self, incoming: T.StructType) -> tuple[TableSchema, list[str]]:
        """Compute (without committing) the union-evolved schema for a batch."""
        return self.schema().evolve_to_union(incoming)

    # ---------------------------------------------------------- maintenance
    def expire_tombstones(self) -> dict:
        """Compact: rewrite all buckets dropping tombstone rows.

        Safe once no change events older than the tombstones can still
        arrive (retention is the operator's call, as with Iceberg
        ``expire_snapshots`` + delete-file compaction).
        """
        df = self.read(include_deleted=False, include_system=True)
        entries = self.write_data_files(df, self.schema())
        return self.commit(
            entries,
            replaced_buckets=set(range(self.num_buckets)),
            operation="expire_tombstones",
        )

    def _entry_bytes(self, e: dict) -> int:
        """Manifest-recorded file size; legacy entries (written before the
        ``bytes`` column existed) fall back to one stat call."""
        b = e.get("bytes")
        if b is None:
            b = os.path.getsize(os.path.join(self.root, e["path"]))
        return int(b)

    def stats(self) -> dict:
        """Manifest-derived table health report — pure metadata math, no
        Spark job, O(files) on the driver (the ops dashboard every lake
        needs before deciding to compact/rebucket/vacuum):

        files/bytes/records split by base vs delta, per-bucket file-count
        min/mean/max (small-file pressure), worst delta-amplification
        ratio (read-amplification pressure), tombstone count from footer
        stats, snapshot count, and the live-row estimate."""
        m = self._require_meta()
        entries = self.manifest()
        by_kind = {"base": [0, 0, 0], "delta": [0, 0, 0]}  # files, bytes, records
        per_bucket: dict[int, int] = {}
        deleted = 0
        for e in entries:
            k = "delta" if e.get("kind") == "delta" else "base"
            by_kind[k][0] += 1
            by_kind[k][1] += self._entry_bytes(e)
            by_kind[k][2] += e["records"]
            per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
            deleted += e.get("deleted") or 0
        amp = self.delta_amplification()
        worst_amp = max(amp.values()) if amp else 0.0
        fc = list(per_bucket.values()) or [0]
        return {
            "snapshot_id": self.current_snapshot()["snapshot_id"],
            "snapshots": len(m["snapshots"]),
            "num_buckets": m["num_buckets"],
            "files": {k: v[0] for k, v in by_kind.items()},
            "bytes": {k: v[1] for k, v in by_kind.items()},
            "records": {k: v[2] for k, v in by_kind.items()},
            "tombstones": deleted,
            "files_per_bucket": {
                "min": min(fc), "max": max(fc),
                "mean": round(sum(fc) / len(fc), 2),
            },
            "worst_delta_amplification": (
                float("inf") if worst_amp == float("inf") else round(worst_amp, 3)
            ),
            "touched_buckets": len(per_bucket),
        }

    def delta_amplification(self) -> dict[int, float]:
        """Per-bucket MoR read amplification: delta bytes / base bytes.

        The size-aware compaction signal — a bucket whose deltas outweigh
        a fraction of its base pays that fraction again on every read
        (the read-time collapse scans base + all deltas). A bucket with
        deltas but no base reports ``inf``."""
        base: dict[int, int] = {}
        delta: dict[int, int] = {}
        for e in self.manifest():
            side = delta if e.get("kind") == "delta" else base
            side[e["bucket"]] = side.get(e["bucket"], 0) + self._entry_bytes(e)
        out = {}
        for b, dbytes in delta.items():
            bbytes = base.get(b, 0)
            out[b] = (dbytes / bbytes) if bbytes else float("inf")
        return out

    def compact_buckets(
        self,
        min_files_per_bucket: int | None = 2,
        max_delta_ratio: float | None = None,
    ) -> dict | None:
        """Rewrite victim buckets into one file each — small-file + read-
        amplification maintenance for long streams. Victims are the union
        of two triggers (either may be disabled with None):

        - ``min_files_per_bucket``: file-count bound (each merge writes
          ≥1 file per touched bucket; a day of minute-batches leaves 1440
          files/bucket without this);
        - ``max_delta_ratio``: size bound — buckets whose MoR delta bytes
          exceed ``ratio × base bytes`` (see :meth:`delta_amplification`);
          sized from manifest stats, no file scans. This keeps read
          amplification bounded by data VOLUME, not batch count: 1000
          tiny trickle deltas on a 1 GB base won't churn the bucket, one
          bulk delta half its size will.

        Runs as a normal CoW commit, so readers never see partial state."""
        victims: set[int] = set()
        if min_files_per_bucket is not None:
            counts: dict[int, int] = {}
            for e in self.manifest():
                counts[e["bucket"]] = counts.get(e["bucket"], 0) + 1
            victims |= {b for b, n in counts.items() if n >= min_files_per_bucket}
        if max_delta_ratio is not None:
            victims |= {
                b for b, r in self.delta_amplification().items() if r > max_delta_ratio
            }
        if not victims:
            return None
        df = self.read(buckets=sorted(victims), include_deleted=True, include_system=True)
        entries = self.write_data_files(df, self.schema())
        return self.commit(entries, replaced_buckets=victims, operation="compact")

    def cluster_by(
        self, zone_col: str, max_records_per_file: int | None = None,
    ) -> dict | None:
        """Sort every bucket by ``zone_col`` and rewrite (one CoW commit),
        recording per-file min/max zone statistics in the manifest and
        pinning ``zone_col`` as a table property so every LATER write
        (merge output, MoR deltas, compaction) keeps capturing them.

        The lake's bucket layout answers key lookups and makes MERGE cost
        ∝ batch; it does nothing for the other dominant read at 100 TB —
        range scans on a secondary column (time windows on an events/CDC
        table). Clustering gives each file a narrow zone, so
        :meth:`scan_zone` skips non-overlapping files from the MANIFEST —
        zero Spark jobs, zero footer opens for skipped files, before
        parquet row-group pruning even starts. The Iceberg/Delta
        sort-order + data-skipping analog (reference's closest relative is
        the split+filter pushdown contract, ``RdbmsRangeSplitWrap.java``,
        which prunes at task-plan time the same way).

        Sorting is ``sortWithinPartitions(_bucket, zone_col)`` after the
        bucket repartition — one exchange total, same shape as a compact;
        combine with ``max_records_per_file`` so buckets split into
        several files, each covering a narrow zone slice.
        """
        cur = self.schema()
        if zone_col not in cur.field_names():
            raise KeyError(f"zone column {zone_col!r} not in table schema")
        if zone_col in (LSN_COL, DELETED_COL):
            raise ValueError("zone column must be a user column")
        entries = self.manifest()
        if not entries:
            # empty table: just pin the property so future writes capture
            return self.commit([], operation="cluster",
                               properties_update={"zone_col": zone_col})
        all_buckets = {e["bucket"] for e in entries}
        df = self.read(include_deleted=True, include_system=True)
        out = (
            df.withColumn(BUCKET_COL, bucket_expr(self.key_col, self.num_buckets))
            .repartition(F.col(BUCKET_COL))
            .sortWithinPartitions(BUCKET_COL, zone_col)
        )
        new_entries = self.write_data_files(
            out, cur, prepartitioned=True,
            max_records_per_file=max_records_per_file, zone_col=zone_col,
        )
        return self.commit(
            new_entries, replaced_buckets=all_buckets, operation="cluster",
            properties_update={"zone_col": zone_col}, properties_overwrite=True,
        )

    def _zone_bounds_in_utc(self, lo, hi):
        """Manifest zone keys for timestamp columns are UTC-epoch micros
        (parquet stores timestamps UTC-adjusted), while a NAIVE datetime
        bound mirrors ``F.lit(dt)`` — which PySpark converts to internal
        micros via the PYTHON PROCESS timezone (``TimestampType.
        toInternal`` → ``time.mktime``), NOT ``spark.sql.session.
        timeZone`` (measured: under an Asia/Tokyo session on a UTC host,
        ``lit(12:00)`` still matches rows stored at 12:00 UTC; the
        session tz only affects rendering and string casts). On a
        non-UTC HOST the two domains diverge and an unconverted bound
        could wrongly prune files whose rows the exact filter keeps —
        convert naive bounds host-local → UTC so pruning always agrees
        with the filter. Aware and non-datetime bounds pass through."""
        import datetime

        def conv(v):
            if isinstance(v, datetime.datetime) and v.tzinfo is None:
                # naive → aware in the process-local tz → UTC; identity
                # on UTC hosts, so stored zone keys stay comparable
                return v.astimezone(datetime.timezone.utc)
            return v

        return conv(lo), conv(hi)

    def zone_prune_plan(self, lo=None, hi=None, zone_col: str | None = None):
        """(kept_entries, pruned_entries) for a zone range — pure manifest
        math, no Spark job. A file is pruned only when its recorded zone
        for ``zone_col`` provably misses [lo, hi]. Two conservative
        guards: entries without a matching zone (pre-clustering files,
        un-mappable stats, other zone column) are always kept, and any
        bucket holding MoR delta files is kept WHOLE — the LWW collapse
        needs every version row of a key, and a pruned older version
        would resurrect stale data.
        """
        m = self._require_meta()
        zcol = zone_col or m["properties"].get("zone_col")
        if zcol is None:
            raise ValueError(
                "no zone column: pass zone_col= or run cluster_by() first")
        lo, hi = self._zone_bounds_in_utc(lo, hi)
        klo = _zone_key(lo) if lo is not None else None
        khi = _zone_key(hi) if hi is not None else None
        if (lo is not None and klo is None) or (hi is not None and khi is None):
            raise TypeError(f"unsupported zone bound type: {type(lo or hi)}")
        entries = self.manifest()
        delta_buckets = {e["bucket"] for e in entries if e.get("kind") == "delta"}
        kept, pruned = [], []
        for e in entries:
            if (
                e["bucket"] not in delta_buckets
                and e.get("zone_col") == zcol
                and e.get("zone_min") is not None
                and e.get("zone_max") is not None
            ):
                zmin, zmax = json.loads(e["zone_min"]), json.loads(e["zone_max"])
                if (khi is not None and zmin > khi) or (
                    klo is not None and zmax < klo
                ):
                    pruned.append(e)
                    continue
            kept.append(e)
        return kept, pruned

    def scan_zone(self, lo=None, hi=None, zone_col: str | None = None) -> DataFrame:
        """Range scan on the zone column: manifest-prunes files whose
        zone misses [lo, hi] (inclusive; either bound may be None for a
        half-open range), then applies the exact row filter — identical
        results to ``read().filter(col.between(lo, hi))``, reading only
        overlapping files. NULL zone values never match a range filter,
        so pruning cannot drop them incorrectly."""
        m = self._require_meta()
        zcol = zone_col or m["properties"].get("zone_col")
        kept, _ = self.zone_prune_plan(lo, hi, zone_col=zcol)
        kept_paths = {e["path"] for e in kept}
        df = self.read(_entry_filter=lambda e: e["path"] in kept_paths)
        c = F.col(zcol)
        if lo is not None:
            df = df.filter(c >= F.lit(lo))
        if hi is not None:
            df = df.filter(c <= F.lit(hi))
        return df

    def delete_where(
        self, condition, ts_col: str, lsn_col: str = "lsn",
        batch_id: int | None = None, stream_id: str = "maintenance",
        merge_mode: str = "mor",
    ) -> dict | None:
        """Targeted LOGICAL delete: rows of the effective state matching
        ``condition`` receive tombstone changes through the normal fenced
        MERGE (default as MoR deltas — no bucket rewrite). The tombstone
        reuses each victim's winning ``ts_col`` value and a fresh LSN
        above the table's manifest maximum, so it wins LWW by the lsn
        tie-break without fabricating timestamps. Old versions remain
        until compaction (``compact_buckets``) or :meth:`purge_where`.

        Cost: one pushdown-filtered scan to find victims + a merge ∝
        victims. Returns the commit snapshot, or None if nothing matched.
        """
        key = self.key_col
        lsns = [e["lsn_max"] for e in self.manifest() if e.get("lsn_max") is not None]
        next_lsn = (max(lsns) + 1) if lsns else 1
        victims = self.read().where(condition)
        changes = victims.select(
            F.col(key),
            F.col(ts_col),
            F.lit(next_lsn).cast("bigint").alias(lsn_col),
            F.lit("D").alias("op"),
        )
        from datax_spark.lake.merge import merge_into

        if changes.limit(1).count() == 0:
            return None
        return merge_into(
            self, changes, ts_col=ts_col, lsn_col=lsn_col,
            stream_id=stream_id, batch_id=batch_id, merge_mode=merge_mode,
        )

    def purge_where(self, condition) -> dict | None:
        """Targeted PHYSICAL purge (the GDPR/right-to-be-forgotten op):
        every version, tombstone, and delta row of every key with ANY
        version matching ``condition`` is rewritten away. Affected
        buckets only are rewritten (one CoW commit; untouched buckets'
        files are untouched); the purged keys' history is gone from the
        current snapshot. Older snapshots still reference the old files —
        complete erasure = ``purge_where`` + ``expire_snapshots`` +
        ``vacuum`` (the same contract as Delta/Iceberg).

        Cost: one pushdown-filtered scan over all versions to find
        matched keys, then a rewrite ∝ affected buckets. Returns the
        commit snapshot, or None if nothing matched."""
        key = self.key_col
        matched = (
            self.read(include_deleted=True, collapse=False)
            .where(condition)
            .select(key)
            .distinct()
        )
        bks = sorted(
            int(r["_b"])
            for r in matched.select(
                bucket_expr(key, self.num_buckets).alias("_b")).distinct().collect()
        )
        if not bks:
            return None
        keep = (
            self.read(buckets=bks, include_deleted=True, include_system=True)
            .join(F.broadcast(matched), key, "left_anti")
        )
        entries = self.write_data_files(keep, self.schema())
        return self.commit(entries, replaced_buckets=set(bks), operation="purge")

    def rebucket(self, new_num_buckets: int) -> dict | None:
        """Change the table's bucket count — the partition-evolution
        operation a growing table needs (a layout sized for 1 TB is 100
        tiny buckets at 100 TB; Iceberg's analog is rewriting data under
        a new partition spec).

        One full-table rewrite: read current live state (MoR deltas and
        tombstone files fold in — a rebucket is also a full compaction),
        hash every row into the new layout, commit atomically with the
        new ``num_buckets`` installed in the same snapshot. Readers see
        either the old layout or the new one, never a mix; concurrent
        writers hit the optimistic-concurrency check and retry against
        the new layout.

        Time travel: manifest ``bucket`` ids are only meaningful under
        the layout in force when their snapshot committed — each snapshot
        summary records its ``num_buckets``; use it when bucket-pruning a
        time-travel read across a rebucket boundary.

        Scale note: this is a deliberate full shuffle + rewrite of the
        table (the same cost Iceberg/Delta pay to change a partition
        spec) — schedule it like any table-maintenance window. Incremental
        variants (split one bucket at a time, 2× doublings reusing
        ``pmod`` nesting) compose from this primitive when a single
        window can't absorb the rewrite."""
        if new_num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_num_buckets}")
        if new_num_buckets == self.num_buckets:
            return None
        old_nb = self.num_buckets
        df = self.read(include_deleted=True, include_system=True)
        entries = self.write_data_files(df, self.schema(), num_buckets=new_num_buckets)
        old_buckets = {e["bucket"] for e in self.manifest()}
        return self.commit(
            entries,
            replaced_buckets=old_buckets,
            operation="rebucket",
            summary_extra={"previous_num_buckets": old_nb},
            num_buckets_update=new_num_buckets,
        )

    def read_incremental(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None,
        include_system: bool = False, assume_monotone_lsn: bool = True,
    ) -> DataFrame:
        """The table as a CDC SOURCE: the net change feed between two
        snapshots (``from`` exclusive → ``to`` inclusive, default
        current) — one row per key whose effective state changed, with an
        ``_op`` column (``U`` upsert / ``D`` delete). Chains pipelines:
        a downstream consumer replays exactly these rows to converge on
        the upstream table (Iceberg's incremental-scan analog).

        Mechanics: scan only the files ADDED after ``from`` (manifest
        set-diff), then drop rows whose ``_lsn`` is ≤ the max LSN covered
        by ``from`` — copy-on-write rewrites, compactions, and rebuckets
        copy old rows into new files, and the LSN filter is what makes
        the feed exact rather than over-approximate. A key touched by
        several batches collapses to its LWW winner. Cost ∝ data written
        since ``from``, never table size.

        Exactness contract (``assume_monotone_lsn=True``, default): LSNs
        must be GLOBALLY monotone in delivery order (single-WAL/binlog
        position semantics — a late event carries a higher LSN even when
        its payload timestamp is older). Then a key whose effective
        state changed after ``from`` always carries a winner LSN above
        the base watermark, and a key rewritten with its old winning row
        (stale update lost LWW) is correctly absent from the feed.
        Requires per-file LSN stats; raises if a base file predates them
        (feed would be silently wrong).

        Multi-shard streams with PER-SHARD LSN spaces (e.g. the
        ``shard_tail`` source with independent shard counters) violate
        global monotonicity — a shard lagging behind another's higher
        LSNs would have its changes silently filtered. Pass
        ``assume_monotone_lsn=False`` there: the LSN watermark is
        skipped, so the feed is a SUPERSET (rows copied by CoW rewrites
        of touched buckets reappear) — still convergent for any LWW
        consumer (re-applied old rows lose to what the consumer already
        holds), just more rows per tick.
        """
        m = self._require_meta()

        def _snap(sid: int) -> dict:
            s = next((x for x in m["snapshots"] if x["snapshot_id"] == sid), None)
            if s is None:
                raise KeyError(f"snapshot {sid} not found; retained: "
                               f"{[x['snapshot_id'] for x in m['snapshots']]}")
            return s

        base = _snap(from_snapshot_id)
        to = _snap(to_snapshot_id) if to_snapshot_id is not None else self.current_snapshot()
        base_entries = self.manifest(base)
        base_paths = {e["path"] for e in base_entries}
        base_max_lsn = None
        if assume_monotone_lsn:
            base_lsns = [e["lsn_max"] for e in base_entries]
            if any(v is None for v in base_lsns):
                raise ValueError("base snapshot has files without LSN stats — "
                                 "incremental feed cannot be made exact")
            base_max_lsn = max(base_lsns) if base_lsns else None
        new_entries = [e for e in self.manifest(to) if e["path"] not in base_paths]
        cur = self.schema()
        cur_names = cur.field_names()
        keep = [c for c in cur_names if include_system or c not in SYSTEM_COLS]
        if not new_entries:
            empty = self.spark.createDataFrame([], cur.spark_schema())
            return empty.withColumn("_op", F.lit("U")).select(*keep, "_op")

        by_sid: dict[int, list[str]] = {}
        for e in new_entries:
            by_sid.setdefault(e["schema_id"], []).append(os.path.join(self.root, e["path"]))
        parts = []
        for sid, paths in sorted(by_sid.items()):
            old = self.schema(sid)
            raw = self.spark.read.schema(old.spark_schema()).parquet(*paths)
            old_names = set(old.field_names())
            cols = [
                (F.col(f.name).cast(f.type) if f.name in old_names
                 else F.lit(None).cast(f.type)).alias(f.name)
                for f in cur.fields
            ]
            parts.append(raw.select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if base_max_lsn is not None:
            df = df.filter(F.col(LSN_COL) > base_max_lsn)

        # collapse multi-batch touches to the final state per key (same
        # LWW hash-aggregate shape as read()'s MoR collapse)
        key = m["key_col"]
        ts_col = m["properties"].get("lww_ts_col")
        order_cols = ([ts_col] if ts_col else []) + [LSN_COL]
        rest = [c for c in cur_names if c != key and c not in order_cols]
        packed = df.groupBy(key).agg(
            F.max(F.struct(*[F.col(c) for c in order_cols + rest])).alias("_w"))
        out = packed.select(
            F.col(key),
            *[F.col(f"_w.{c}").alias(c) for c in order_cols + rest],
        )
        out = out.withColumn(
            "_op", F.when(F.col(DELETED_COL), F.lit("D")).otherwise(F.lit("U")))
        return out.select(*keep, "_op")

    def read_changes(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None,
        assume_monotone_lsn: bool = True,
    ) -> DataFrame:
        """Change data feed WITH pre/post images (the Delta-CDF shape):
        one row per visible change between two snapshots, tagged
        ``_change_type`` ∈ {``insert``, ``update_preimage``,
        ``update_postimage``, ``delete``}. Updates emit BOTH images;
        deletes carry the old values — what audit trails and
        old-value-aware downstream syncs need beyond the net U/D feed
        (``read_incremental``, which this builds on; a key inserted and
        deleted inside the window nets to no row, matching snapshot
        semantics).

        Cost: the net feed (∝ data written since ``from``) plus ONE
        pre-image scan of the ``from`` snapshot pruned — via the manifest
        diff, no Spark job in planning — to the buckets touched since
        ``from`` (exact across ``rebucket`` boundaries: pruning is
        skipped when the layout changed). Changed keys broadcast to the
        pre scan (a feed tick's key set is small by construction; for a
        backfill-sized tick, consume ``read_incremental`` instead). The
        four change-type branches share the net-feed subplan; Spark's
        exchange reuse amortizes it within the one consuming action.
        """
        m = self._require_meta()
        key = m["key_col"]
        net = self.read_incremental(
            from_snapshot_id, to_snapshot_id,
            assume_monotone_lsn=assume_monotone_lsn,
        )
        from_snap = next(
            (s for s in m["snapshots"] if s["snapshot_id"] == from_snapshot_id), None)
        if from_snap is None:
            raise KeyError(f"snapshot {from_snapshot_id} not found")
        from_nb = int(from_snap.get("num_buckets") or m["num_buckets"])

        changed_keys = net.select(key).distinct()
        # Pre-image scan pruning straight from the MANIFEST diff (no
        # Spark job in the planning step): files added after `from` name
        # the touched buckets; valid whenever the layout didn't change in
        # between (bucket ids of post-`from` files are in the same
        # bucket space). Across a rebucket, fall back to the full
        # `from`-snapshot scan — the semi-join still bounds rows read.
        to_snap = (
            next((s for s in m["snapshots"] if s["snapshot_id"] == to_snapshot_id), None)
            if to_snapshot_id is not None else self.current_snapshot()
        )
        to_nb = int((to_snap or {}).get("num_buckets") or m["num_buckets"])
        bks = None
        if to_nb == from_nb:
            base_paths = {e["path"] for e in self.manifest(from_snap)}
            bks = sorted({
                int(e["bucket"])
                for e in self.manifest(to_snap)
                if e["path"] not in base_paths
            })
        pre = (
            self.read(buckets=bks, snapshot_id=from_snapshot_id)
            .join(F.broadcast(changed_keys), key, "left_semi")
        )
        user_cols = [c for c in net.columns if c != "_op"]
        pre = pre.select(*user_cols)

        net_u = net.where(F.col("_op") == "U").select(*user_cols)
        net_d_keys = net.where(F.col("_op") == "D").select(key)
        pre_keys = pre.select(key)

        inserts = net_u.join(pre_keys, key, "left_anti").withColumn(
            "_change_type", F.lit("insert"))
        upd_post = net_u.join(pre_keys, key, "left_semi").withColumn(
            "_change_type", F.lit("update_postimage"))
        upd_pre = pre.join(net_u.select(key), key, "left_semi").withColumn(
            "_change_type", F.lit("update_preimage"))
        deletes = pre.join(net_d_keys, key, "left_semi").withColumn(
            "_change_type", F.lit("delete"))
        return inserts.unionByName(upd_post).unionByName(upd_pre).unionByName(deletes)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop all but the newest ``keep_last`` snapshots from metadata
        (and their manifest files). Time travel to an expired snapshot
        fails at metadata resolution — never with missing data files —
        because ``vacuum`` only deletes files unreferenced by every
        RETAINED snapshot (the Iceberg expire_snapshots contract)."""
        m = self._require_meta()
        # same optimistic-concurrency check as commit(): without it a
        # concurrent writer's commit could be silently clobbered/forked by
        # the v+1 metadata write below.
        hint = os.path.join(self._meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                disk_v = int(json.load(f))
            if disk_v != self._loaded_version:
                raise CommitConflict(
                    f"table advanced to v{disk_v} (loaded v{self._loaded_version})"
                )
        keep_last = max(1, keep_last)
        snaps = m["snapshots"]
        if len(snaps) <= keep_last:
            return 0
        expired, kept = snaps[:-keep_last], snaps[-keep_last:]
        new_meta = dict(m)
        new_meta["snapshots"] = kept
        v = self._loaded_version + 1
        _atomic_write_json(self._version_path(v), new_meta)
        _atomic_write_json(os.path.join(self._meta_dir, "version-hint.text"), v)
        self.meta = new_meta
        self._loaded_version = v
        for s in expired:
            mf = os.path.join(self.root, s["manifest"])
            if os.path.exists(mf) and not any(k["manifest"] == s["manifest"] for k in kept):
                os.remove(mf)
        return len(expired)

    def vacuum(self, expire_keep_last: int | None = 1) -> int:
        """Delete data files not referenced by ANY retained snapshot.

        By default expires history down to the current snapshot first
        (``expire_keep_last=1``); pass a larger value to retain time
        travel, or ``None`` to only remove files no snapshot references.
        """
        if expire_keep_last is not None:
            self.expire_snapshots(expire_keep_last)
        live: set[str] = set()
        for snap in self._require_meta()["snapshots"]:
            live.update(e["path"] for e in self.manifest(snap))
        removed = 0
        for p in glob.glob(os.path.join(self._data_dir, "w-*", "*", "*.parquet")):
            rel = os.path.relpath(p, self.root)
            if rel not in live:
                os.remove(p)
                removed += 1
        return removed
