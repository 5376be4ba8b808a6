"""Icebox — a minimal Iceberg-semantics table format over Parquet.

Re-expresses the reference's storage/commit model (SURVEY.md §1.3) as lake
table metadata:

* reference ``ChunksIndex`` per-file stats (ChunkDescriptor.java:5-22,
  BlockGZIPFileWriter.java:242-250)      → per-data-file manifest entries with
  ``(num_records, num_bytes, min/max doc_id, min/max offset)`` used for
  data skipping on read (its ``chunkContaining(offset)`` point lookup,
  ChunksIndex.java:34-37, becomes range-overlap pruning here).
* reference cursor object ``last_chunk_index.{topic}-{ppppp}.txt``
  (system_test/run.py:214-218)           → ``version-hint.text`` snapshot
  pointer, updated by atomic POSIX rename.
* reference upload-data-then-index-then-cursor ordering (run.py:202-218)
  → write data files, write immutable ``v{N}.metadata.json``, then rename
  the pointer; the pointer is the single source of truth, orphans ignored.
* reference idempotent file naming by first-record offset
  (BlockGZIPFileWriter.java:99-101,161-167) → deterministic per-batch data
  dirs ``data/batch={batch_id}`` + ``committed_batch_ids`` replay guard, so
  re-delivery of a micro-batch is a no-op (exactly-once commits).

Schema evolution is additive and name-based (new nullable columns, safe
integer/float widenings); old data files are never rewritten — reads
reconcile per-file schemas against the current table schema with casts and
null-fill.

Everything here is driver-side metadata code; the data path stays in Spark
(``spark.read.parquet`` over the pruned file list).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_gcs_spark.session import local_frame

# ---------------------------------------------------------------------------
# schema model (name-based, additive evolution with safe widening)
# ---------------------------------------------------------------------------

_TYPE_TO_SPARK = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "array<int>": T.ArrayType(T.IntegerType()),
    "array<long>": T.ArrayType(T.LongType()),
    "array<float>": T.ArrayType(T.FloatType()),
    "array<double>": T.ArrayType(T.DoubleType()),
    "array<string>": T.ArrayType(T.StringType()),
}

#: legal additive widenings (file type -> set of wider read types)
_WIDENINGS = {
    "int": {"long", "double"},
    "long": {"double"},
    "float": {"double"},
    "array<int>": {"array<long>", "array<double>"},
    "array<float>": {"array<double>"},
}


def type_to_spark(name: str) -> T.DataType:
    try:
        return _TYPE_TO_SPARK[name]
    except KeyError:
        raise ValueError(f"unsupported icebox type: {name!r}") from None


def spark_to_type(dt: T.DataType) -> str:
    for name, spark_dt in _TYPE_TO_SPARK.items():
        if dt == spark_dt:
            return name
    raise ValueError(f"unsupported spark type for icebox: {dt}")


@dataclass(frozen=True)
class Field:
    name: str
    type: str

    def spark_type(self) -> T.DataType:
        return type_to_spark(self.type)


@dataclass(frozen=True)
class Schema:
    schema_id: int
    fields: tuple[Field, ...]

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, f.spark_type(), True) for f in self.fields]
        )

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]

    @staticmethod
    def from_json(d: dict) -> "Schema":
        return Schema(
            schema_id=d["schema_id"],
            fields=tuple(Field(f["name"], f["type"]) for f in d["fields"]),
        )

    def to_json(self) -> dict:
        return {
            "schema_id": self.schema_id,
            "fields": [{"name": f.name, "type": f.type} for f in self.fields],
        }


def check_additive_evolution(old: Schema, new_fields: Sequence[Field]) -> None:
    """Raise unless ``new_fields`` is an additive evolution of ``old``:
    existing columns keep name and type (or widen safely), new columns append.
    Mirrors the north_rule requirement: new columns / widened types only,
    no drops, no renames, no narrowing — so no table rewrite is ever needed.
    """
    old_by_name = {f.name: f for f in old.fields}
    new_names = [f.name for f in new_fields]
    for old_f in old.fields:
        if old_f.name not in new_names:
            raise ValueError(f"schema evolution dropped column {old_f.name!r}")
    for f in new_fields:
        prev = old_by_name.get(f.name)
        if prev is None:
            continue  # new column — fine
        if prev.type == f.type:
            continue
        if f.type not in _WIDENINGS.get(prev.type, set()):
            raise ValueError(
                f"illegal type change for {f.name!r}: {prev.type} -> {f.type}"
            )


# ---------------------------------------------------------------------------
# manifests
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ManifestEntry:
    """Per-data-file stats — the reference's ChunkDescriptor
    (first_record_offset/num_records/byte_*; ChunkDescriptor.java:5-22)
    generalized to min/max key + offset ranges for data skipping."""

    path: str  # relative to table root
    num_records: int
    num_bytes: int
    schema_id: int
    min_doc_id: str | None = None
    max_doc_id: str | None = None
    min_offset: int | None = None
    max_offset: int | None = None
    #: rows with deleted=false (CDC tombstone accounting); None if unknown
    num_live: int | None = None

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "num_records": self.num_records,
            "num_bytes": self.num_bytes,
            "schema_id": self.schema_id,
            "min_doc_id": self.min_doc_id,
            "max_doc_id": self.max_doc_id,
            "min_offset": self.min_offset,
            "max_offset": self.max_offset,
            "num_live": self.num_live,
        }

    @staticmethod
    def from_json(d: dict) -> "ManifestEntry":
        return ManifestEntry(**d)

    def overlaps_keys(self, lo: str, hi: str) -> bool:
        """True if this file's doc_id range may intersect [lo, hi]."""
        if self.min_doc_id is None or self.max_doc_id is None:
            return True  # no stats — cannot prune
        return not (self.max_doc_id < lo or self.min_doc_id > hi)


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    batch_id: str | None
    operation: str  # "append" | "merge" | "create" | "evolve-schema"
    schema_id: int
    manifests: tuple[ManifestEntry, ...]
    lineage: dict = field(default_factory=dict)
    #: merge-on-read DELETE VECTORS: parquet files of (doc_id, offset)
    #: where ``offset`` is the superseding watermark — any stored row for
    #: that doc_id with ``last_offset < offset`` is dead. Reads reconcile
    #: (IceboxTable.apply_deletes); compaction folds them into data files.
    deletes: tuple[ManifestEntry, ...] = ()

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "batch_id": self.batch_id,
            "operation": self.operation,
            "schema_id": self.schema_id,
            "manifests": [m.to_json() for m in self.manifests],
            "lineage": self.lineage,
            "deletes": [m.to_json() for m in self.deletes],
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            timestamp_ms=d["timestamp_ms"],
            batch_id=d["batch_id"],
            operation=d["operation"],
            schema_id=d["schema_id"],
            manifests=tuple(ManifestEntry.from_json(m) for m in d["manifests"]),
            lineage=d.get("lineage", {}),
            deletes=tuple(
                ManifestEntry.from_json(m) for m in d.get("deletes", [])
            ),
        )


# ---------------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------------


class CommitConflict(Exception):
    pass


class IceboxTable:
    """A single-writer, multi-reader snapshot table.

    Layout::

        {root}/data/batch={batch_id}/part-*.parquet     immutable data files
        {root}/metadata/v{N:08d}.metadata.json          immutable snapshots
        {root}/metadata/version-hint.text               atomic pointer (truth)
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.meta_dir = os.path.join(self.root, "metadata")
        self.data_dir = os.path.join(self.root, "data")

    # -- creation / loading -------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession, root: str, fields: Sequence[Field]
    ) -> "IceboxTable":
        t = IceboxTable(spark, root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        if os.path.exists(t._hint_path()):
            raise ValueError(f"table already exists at {root}")
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "current_snapshot_id": 0,
            "schemas": [Schema(0, tuple(fields)).to_json()],
            "current_schema_id": 0,
            "committed_batch_ids": [],
            "snapshot": Snapshot(
                snapshot_id=0,
                parent_id=None,
                timestamp_ms=int(time.time() * 1000),
                batch_id=None,
                operation="create",
                schema_id=0,
                manifests=(),
            ).to_json(),
        }
        t._write_metadata(0, meta)
        t._advance_hint(0)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str) -> "IceboxTable":
        t = IceboxTable(spark, root)
        if not os.path.exists(t._hint_path()):
            raise FileNotFoundError(f"no icebox table at {root}")
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(
            os.path.join(os.path.abspath(root), "metadata", "version-hint.text")
        )

    # -- metadata plumbing ----------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:08d}.metadata.json")

    def current_version(self) -> int:
        with open(self._hint_path()) as f:
            return int(f.read().strip())

    def _read_metadata(self, version: int) -> dict:
        with open(self._meta_path(version)) as f:
            return json.load(f)

    def metadata(self, version: int | None = None) -> dict:
        return self._read_metadata(
            self.current_version() if version is None else version
        )

    def _write_metadata(self, version: int, meta: dict) -> None:
        path = self._meta_path(version)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)  # atomic on POSIX

    def _advance_hint(self, version: int) -> None:
        tmp = self._hint_path() + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._hint_path())  # the commit point

    # -- introspection ----------------------------------------------------------

    def snapshot(self, version: int | None = None) -> Snapshot:
        return Snapshot.from_json(self.metadata(version)["snapshot"])

    def schema(self, version: int | None = None) -> Schema:
        meta = self.metadata(version)
        sid = meta["current_schema_id"]
        return self._schema_by_id(meta, sid)

    @staticmethod
    def _schema_by_id(meta: dict, schema_id: int) -> Schema:
        for s in meta["schemas"]:
            if s["schema_id"] == schema_id:
                return Schema.from_json(s)
        raise KeyError(f"schema id {schema_id} not found")

    def committed_batch_ids(self) -> set[str]:
        return set(self.metadata()["committed_batch_ids"])

    def history(self) -> list[dict]:
        """All snapshots, oldest first (time-travel index)."""
        out = []
        for v in range(self.current_version() + 1):
            p = self._meta_path(v)
            if os.path.exists(p):
                m = self._read_metadata(v)
                out.append(
                    {
                        "version": v,
                        "snapshot_id": m["snapshot"]["snapshot_id"],
                        "operation": m["snapshot"]["operation"],
                        "batch_id": m["snapshot"]["batch_id"],
                        "timestamp_ms": m["snapshot"]["timestamp_ms"],
                        "num_files": len(m["snapshot"]["manifests"]),
                        "num_records": sum(
                            e["num_records"] for e in m["snapshot"]["manifests"]
                        ),
                    }
                )
        return out

    # -- read path ------------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        key_range: tuple[str, str] | None = None,
        manifest_filter=None,
    ) -> DataFrame:
        """Manifest-pruned read reconciled to the snapshot's current schema.

        ``key_range=(lo, hi)`` prunes data files by their (min,max) doc_id
        stats before any I/O — the Spark-side analog of the reference's
        chunk-index point lookup + ranged GET (GCSFilesReader.java:234,278-297).
        Old-schema files are aligned by name with null-fill + safe casts, so
        additive evolution never rewrites data.
        """
        meta = self.metadata(version)
        snap = Snapshot.from_json(meta["snapshot"])
        target = self._schema_by_id(meta, snap.schema_id)
        entries = list(snap.manifests)
        if key_range is not None:
            lo, hi = key_range
            entries = [e for e in entries if e.overlaps_keys(lo, hi)]
        if manifest_filter is not None:
            entries = [e for e in entries if manifest_filter(e)]
        return self.apply_deletes(
            self._read_entries(meta, entries, target), snap.deletes
        )

    def apply_deletes(
        self, df: DataFrame, deletes: Sequence[ManifestEntry]
    ) -> DataFrame:
        """Merge-on-read reconciliation: drop every row superseded by a
        delete vector (``last_offset < max watermark for its doc_id``).

        The DV side is aggregated to one (doc_id, max watermark) row per key
        before the join — correct for any number of DVs per key because
        watermarks only grow — and is broadcast when its on-disk size is
        clearly under the broadcast threshold; otherwise Spark/AQE picks the
        strategy. Rows appended BY the superseding batch carry
        ``last_offset == watermark`` and survive (strict <)."""
        deletes = list(deletes)
        if not deletes:
            return df
        paths = [os.path.join(self.root, e.path) for e in deletes]
        dv = (
            self.spark.read.parquet(*paths)
            .groupBy("doc_id")
            .agg(F.max("offset").alias("_dv_watermark"))
        )
        if sum(e.num_bytes for e in deletes) < 8 * 1024 * 1024:
            dv = F.broadcast(dv)
        return (
            df.join(dv, "doc_id", "left")
            .where(
                F.col("_dv_watermark").isNull()
                | (F.col("last_offset") >= F.col("_dv_watermark"))
            )
            .drop("_dv_watermark")
        )

    def mor_dead_rows(self, version: int | None = None) -> int:
        """Cumulative live rows physically present but superseded by delete
        vectors — maintained by commits so ``live row count`` stays a pure
        metadata computation (sum of footer num_live − this)."""
        return int(self.metadata(version).get("mor_dead_rows", 0))

    def _read_entries(
        self, meta: dict, entries: Iterable[ManifestEntry], target: Schema
    ) -> DataFrame:
        target_st = target.spark_schema()
        by_schema: dict[int, list[str]] = {}
        for e in entries:
            by_schema.setdefault(e.schema_id, []).append(
                os.path.join(self.root, e.path)
            )
        if not by_schema:
            return local_frame(self.spark, [], target_st)
        parts: list[DataFrame] = []
        for sid, files in by_schema.items():
            file_schema = self._schema_by_id(meta, sid)
            df = self.spark.read.schema(file_schema.spark_schema()).parquet(*files)
            cols = []
            present = set(file_schema.field_names())
            for f in target.fields:
                if f.name in present:
                    cols.append(F.col(f.name).cast(f.spark_type()).alias(f.name))
                else:
                    cols.append(F.lit(None).cast(f.spark_type()).alias(f.name))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write path -----------------------------------------------------------

    def write_data_files(
        self,
        df: DataFrame,
        batch_id: str,
        sort_within: Sequence[str] = ("doc_id",),
        range_partition_col: str | None = "doc_id",
        num_partitions: int | None = None,
        bloom_ndv: int | None = None,
    ) -> list[ManifestEntry]:
        """Write ``df`` as immutable Parquet under ``data/batch={batch_id}``
        and return manifest entries with footer-derived stats.

        Deterministic dir naming by batch_id makes replays overwrite rather
        than duplicate (reference BlockGZIPFileWriter.java:161-167 idempotent
        ``{topic}-{part}-{offset:012d}.gz`` naming). Range-partitioning by
        doc_id gives each file a tight (min,max) key range so manifest
        pruning is effective — the analog of lexicographic-key file pruning
        (GCSFilesReader.java:173-181).

        Stats come from Parquet footers via pyarrow on the driver (footer-only
        reads, no data pass) — the reference computes the same per-chunk stats
        with a CountingOutputStream (BlockGZIPFileWriter.java:63-91,252-270).
        """
        rel_dir = f"data/batch={batch_id}"
        out_dir = os.path.join(self.root, rel_dir)
        meta = self.metadata()
        if batch_id in meta["committed_batch_ids"]:
            # overwriting would delete files the committed snapshot points to;
            # a replayed batch must be detected BEFORE writing (the pipeline
            # does) — refuse here as the last line of defense.
            raise ValueError(f"batch {batch_id!r} already committed; write refused")
        schema_id = meta["current_schema_id"]
        # align to the stamped schema: every data file must physically match
        # its schema_id (cast widened types, null-fill newly added columns) —
        # otherwise a post-evolution read would hit parquet type mismatches.
        target_schema = self._schema_by_id(meta, schema_id)
        present = set(df.columns)
        aligned_cols = []
        for fld in target_schema.fields:
            if fld.name in present:
                aligned_cols.append(
                    F.col(fld.name).cast(fld.spark_type()).alias(fld.name)
                )
            else:
                aligned_cols.append(
                    F.lit(None).cast(fld.spark_type()).alias(fld.name)
                )
        extra = [c for c in df.columns if c not in target_schema.field_names()]
        if extra:
            raise ValueError(
                f"columns {extra} not in table schema; evolve_schema first"
            )
        writer_df = df.select(*aligned_cols)
        if range_partition_col is not None and range_partition_col in df.columns:
            n = num_partitions or self.spark.sparkContext.defaultParallelism
            writer_df = writer_df.repartitionByRange(n, F.col(range_partition_col))
        if sort_within:
            sort_cols = [c for c in sort_within if c in df.columns]
            if sort_cols:
                writer_df = writer_df.sortWithinPartitions(*sort_cols)
        writer = writer_df.write.mode("overwrite").option(
            "maxRecordsPerFile", 2_000_000
        )
        if bloom_ndv:
            # parquet-native bloom filter on the key: point lookups prune at
            # ROW-GROUP granularity below the manifest's file-level (min,max)
            # pruning — free at read time (pushed predicates consult it).
            # Sized by the CALLER's row estimate: parquet allocates ~10 bits
            # per expected key (capped at 1 MiB), so a fixed large ndv would
            # put a ~1 MiB floor under every tiny MoR append and defeat the
            # sparse-write story.
            writer = writer.option(
                "parquet.bloom.filter.enabled#doc_id", "true"
            ).option(
                "parquet.bloom.filter.expected.ndv#doc_id",
                str(int(bloom_ndv)),
            )
        writer.parquet(out_dir)
        return self._collect_manifests(out_dir, rel_dir, schema_id)

    def point_lookup(self, doc_id: str, version: int | None = None):
        """A6, end-to-end: manifest key-range pruning picks candidate FILES
        on the driver; the pushed equality predicate then prunes ROW GROUPS
        inside them via parquet stats + the doc_id bloom filter; DV
        reconciliation applies as usual. Scan cost at 100 TB: the handful of
        files whose (min,max) covers the key, minus bloom misses."""
        return self.read(version=version, key_range=(doc_id, doc_id)).where(
            F.col("doc_id") == doc_id
        )

    def write_delete_files(
        self, dv: DataFrame, batch_id: str
    ) -> list[ManifestEntry]:
        """Write a batch's delete vector as Parquet of (doc_id, offset)
        under ``deletes/batch={batch_id}`` and return its manifest entries.
        Reusing the (doc_id, offset) column names means the same footer-stats
        collector yields min/max key + watermark ranges for DV pruning.
        Deterministic naming gives the same replay-overwrite idempotence as
        data files."""
        rel_dir = f"deletes/batch={batch_id}"
        out_dir = os.path.join(self.root, rel_dir)
        meta = self.metadata()
        if batch_id in meta["committed_batch_ids"]:
            raise ValueError(f"batch {batch_id!r} already committed; write refused")
        (
            dv.select(
                F.col("doc_id").cast("string").alias("doc_id"),
                F.col("offset").cast("long").alias("offset"),
            )
            # repartition, not coalesce: coalesce(1) would collapse the
            # upstream (shuffled) winner computation to one task
            .repartition(1)
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        return self._collect_manifests(out_dir, rel_dir, meta["current_schema_id"])

    def _collect_manifests(
        self, out_dir: str, rel_dir: str, schema_id: int
    ) -> list[ManifestEntry]:
        import pyarrow.parquet as pq

        entries: list[ManifestEntry] = []
        for name in sorted(os.listdir(out_dir)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(out_dir, name)
            md = pq.ParquetFile(full).metadata
            if md.num_rows == 0:
                continue
            stats = {"doc_id": [None, None], "offset": [None, None]}
            schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
            # `deleted` uses null-as-live encoding (merge.py) → the footer's
            # null_count IS the live-row count, no counting job needed
            num_live = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    cname = schema_names[ci]
                    s = md.row_group(rg).column(ci).statistics
                    if cname == "deleted" and s is not None:
                        num_live = (num_live or 0) + s.null_count
                    if cname not in stats:
                        continue
                    if s is None or not s.has_min_max:
                        continue
                    lo, hi = stats[cname]
                    smin, smax = s.min, s.max
                    if isinstance(smin, bytes):
                        smin = smin.decode("utf-8", "replace")
                        smax = smax.decode("utf-8", "replace")
                    stats[cname] = [
                        smin if lo is None or smin < lo else lo,
                        smax if hi is None or smax > hi else hi,
                    ]
            entries.append(
                ManifestEntry(
                    path=os.path.join(rel_dir, name),
                    num_records=md.num_rows,
                    num_bytes=os.path.getsize(full),
                    schema_id=schema_id,
                    min_doc_id=stats["doc_id"][0],
                    max_doc_id=stats["doc_id"][1],
                    min_offset=stats["offset"][0],
                    max_offset=stats["offset"][1],
                    num_live=num_live,
                )
            )
        return entries

    # -- commit ------------------------------------------------------------------

    def commit(
        self,
        batch_id: str | None,
        operation: str,
        keep_manifests: Sequence[ManifestEntry],
        new_manifests: Sequence[ManifestEntry],
        lineage: dict | None = None,
        expected_version: int | None = None,
        new_schema: Sequence[Field] | None = None,
        keep_deletes: Sequence[ManifestEntry] | None = None,
        new_deletes: Sequence[ManifestEntry] = (),
        mor_dead_rows: int | None = None,
    ) -> int:
        """Commit a new snapshot; returns the new version.

        Exactly-once: if ``batch_id`` was already committed this is a no-op
        (returns current version) — the replay guard the reference gets from
        offset-named files + Connect offset commits (run.py:223-257
        restart-without-duplicates golden test).

        Ordering mirrors run.py:202-218: data files are already on disk
        (uploaded), the immutable metadata json is the index, and the pointer
        rename is the cursor update / commit point. A crash before the rename
        leaves only ignored orphans.
        """
        cur = self.current_version()
        if expected_version is not None and cur != expected_version:
            raise CommitConflict(f"expected v{expected_version}, found v{cur}")
        meta = self._read_metadata(cur)
        if batch_id is not None and batch_id in meta["committed_batch_ids"]:
            return cur  # replayed micro-batch → no-op
        prev_snap = Snapshot.from_json(meta["snapshot"])
        if keep_deletes is None:
            keep_deletes = prev_snap.deletes  # default: carry DVs forward
        schemas = list(meta["schemas"])
        schema_id = meta["current_schema_id"]
        if new_schema is not None:
            old = self._schema_by_id(meta, schema_id)
            check_additive_evolution(old, new_schema)
            schema_id = max(s["schema_id"] for s in schemas) + 1
            schemas.append(Schema(schema_id, tuple(new_schema)).to_json())
        new_version = cur + 1
        snap = Snapshot(
            snapshot_id=new_version,
            parent_id=meta["current_snapshot_id"],
            timestamp_ms=int(time.time() * 1000),
            batch_id=batch_id,
            operation=operation,
            schema_id=schema_id,
            manifests=tuple(list(keep_manifests) + list(new_manifests)),
            lineage=lineage or {},
            deletes=tuple(list(keep_deletes) + list(new_deletes)),
        )
        new_meta = {
            **meta,
            "current_snapshot_id": new_version,
            "current_schema_id": schema_id,
            "schemas": schemas,
            "committed_batch_ids": meta["committed_batch_ids"]
            + ([batch_id] if batch_id is not None else []),
            "snapshot": snap.to_json(),
            "mor_dead_rows": (
                int(mor_dead_rows)
                if mor_dead_rows is not None
                else int(meta.get("mor_dead_rows", 0))
            ),
        }
        self._write_metadata(new_version, new_meta)
        self._advance_hint(new_version)
        return new_version

    def evolve_schema(self, new_fields: Sequence[Field]) -> int:
        """Additive schema evolution without touching any data file."""
        snap = self.snapshot()
        return self.commit(
            batch_id=None,
            operation="evolve-schema",
            keep_manifests=snap.manifests,
            new_manifests=(),
            new_schema=new_fields,
        )
