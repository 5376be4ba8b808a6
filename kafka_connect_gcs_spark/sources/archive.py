"""Block-gzip archive source & sink — the reference's ACTUAL storage layout.

A user of the reference connector family has buckets full of::

    {prefix}/{yyyy-MM-dd}/{topic}-{ppppp}-{oooooooooooo}.gz
    {prefix}/{yyyy-MM-dd}/{topic}-{ppppp}-{oooooooooooo}.index.json
    {prefix}/last_chunk_index.{topic}-{ppppp}.txt

where the ``.gz`` is a concatenation of independently-decompressible GZIP
members ("chunks", each ≤ compressed_block_size uncompressed —
BlockGZIPFileWriter.java:34-35,95-105), the index carries per-chunk stats
``first_record_offset/num_records/byte_offset/byte_length/
byte_length_uncompressed`` (ChunkDescriptor.java:5-22, written at
BlockGZIPFileWriter.java:242-250), and the cursor names the most recent
index key (system_test/run.py:214-218). This module reads and writes that
layout with Spark, so existing archives keep working.

Scale design (NOT the reference's sequential iterator):

* READ planning is driver-side metadata only — list + regex-parse names
  (A1/A2), suffix filter (A3), topic/partition predicates (A4), checkpoint
  file skip by lexicographic key (A5), index point-lookup for mid-file
  resume (A6, ChunksIndex.java:34-37). The tiny index JSONs are the only
  thing the driver opens.
* The work unit is a CHUNK, not a file: every gzip member is independently
  decompressible, so the plan explodes each file into (byte_offset,
  byte_length) ranges and ``mapInPandas`` decodes ranges in parallel with
  bounded (≤ block-size) memory per task — ranged reads the reference only
  uses for resume (GCSFilesReader.java:278-297) become the universal scan
  path. A 100 TB archive reads with chunk-count parallelism.
* WRITE groups by (topic, partition) via ``applyInPandas`` — one writer per
  topic-partition exactly like one Connect task owns a partition; data +
  index upload from executors, then cursors from the driver, preserving the
  reference's data→index→cursor commit order (run.py:202-218). File names
  come from the first record's offset so a replayed flush overwrites
  instead of duplicating (A21, BlockGZIPFileWriter.java:161-167).
* TRANSPORT is pluggable: every ``root`` argument accepts a POSIX path
  (default, unchanged layout) or any :class:`~.store.ObjectStore` — the
  reference's injected storage client (GCS.java:18-48). Executors carry
  the picklable client; ranged chunk reads become HTTP Range requests
  against a real bucket endpoint (see store.py / test_object_store.py,
  the FakeGCS.java:22-47 pattern).
* DECODE ONCE PER POLL: the scan plan is a JVM ``LocalRelation`` (no
  Python job to read it back), and :meth:`ArchiveTailer.poll` persists the
  decoded records, so the batch's narrow metadata pass and its heavy merge
  pass both read the same decode instead of decoding the chunks twice. A
  tailer holds at most one cached poll: the next ``poll()`` releases it,
  including the one that reports caught-up, and so does dropping the
  tailer.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
import weakref
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_gcs_spark.session import local_frame
from kafka_connect_gcs_spark.sources.formats import ByteLengthFormat, CorruptRecord
from kafka_connect_gcs_spark.sources.store import as_store

#: {topic}-{ppppp}-{oooooooooooo}.gz — GCSFilesReader.java:58-63
KEY_RE = re.compile(r"(?:.*/)?(?P<topic>.+)-(?P<part>\d{5})-(?P<offset>\d{12})\.gz$")


class ArchiveFilter:
    """Pluggable per-chunk codec between frame bytes and the object store —
    the reference's InputFilter hook (GCSFilesReader.java:413-420), which
    lets users inject e.g. decryption between the GET and the frame parse.

    ``encode`` runs in the writer after framing (its output is the stored
    chunk blob; ``ChunkDescriptor.byte_length`` measures it), ``decode``
    runs in the reader before frame parsing. Implementations MUST be
    picklable: both sides execute inside Arrow-batched executor tasks.
    The default (:class:`GzipFilter`) keeps the reference's block-gzip
    layout byte-compatible."""

    def encode(self, raw: bytes) -> bytes:
        raise NotImplementedError

    def decode(self, blob: bytes) -> bytes:
        raise NotImplementedError


class GzipFilter(ArchiveFilter):
    """InputFilter.GUNZIP analog — the layout's default block codec."""

    def encode(self, raw: bytes) -> bytes:
        return gzip.compress(raw, mtime=0)

    def decode(self, blob: bytes) -> bytes:
        return gzip.decompress(blob)  # multi-member safe

RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.BinaryType()),
                    ]
                )
            ),
        ),
    ]
)


@dataclass(frozen=True)
class ChunkDescriptor:
    """ChunkDescriptor.java:5-22."""

    first_record_offset: int
    num_records: int
    byte_offset: int
    byte_length: int
    byte_length_uncompressed: int

    def to_json(self) -> dict:
        return {
            "first_record_offset": self.first_record_offset,
            "num_records": self.num_records,
            "byte_offset": self.byte_offset,
            "byte_length": self.byte_length,
            "byte_length_uncompressed": self.byte_length_uncompressed,
        }


@dataclass(frozen=True)
class ChunksIndex:
    """ChunksIndex.java — with the chunkContaining point lookup (:34-37)."""

    chunks: tuple

    @staticmethod
    def from_json(d: dict) -> "ChunksIndex":
        return ChunksIndex(
            tuple(ChunkDescriptor(**c) for c in d.get("chunks", []))
        )

    def to_json(self) -> dict:
        return {"chunks": [c.to_json() for c in self.chunks]}

    def chunk_containing(self, offset: int) -> "ChunkDescriptor | None":
        for c in self.chunks:
            if c.num_records and c.first_record_offset + c.num_records > offset:
                return c
        return None

    def total_size(self) -> int:
        return sum(c.byte_length for c in self.chunks)

    def last_offset(self) -> int:
        data = [c for c in self.chunks if c.num_records]
        if not data:
            return -1
        last = data[-1]
        return last.first_record_offset + last.num_records - 1


def data_file_name(topic: str, partition: int, first_offset: int) -> str:
    """BlockGZIPFileWriter.java:161-167 — replay-idempotent naming."""
    return f"{topic}-{partition:05d}-{first_offset:012d}.gz"


def index_key_for(data_key: str) -> str:
    return data_key[: -len(".gz")] + ".index.json"


def cursor_key(topic: str, partition: int) -> str:
    """Cursor object key at the bucket root (system_test/run.py:214-218)."""
    return f"last_chunk_index.{topic}-{partition:05d}.txt"


# ---------------------------------------------------------------------------
# writer (sink): A18 chunked write, A19 index write, A20 commit order, A21
# idempotent naming, A30 header chunk
# ---------------------------------------------------------------------------


def _write_block_gzip(
    store,
    key: str,
    frames: "list[bytes]",
    first_offset: int,
    chunk_threshold: int,
    header_bytes: "bytes | None" = None,
    io_filter: "ArchiveFilter | None" = None,
) -> ChunksIndex:
    """One block-gzip object at ``key``: rotate to a new gzip member when
    the incoming record would push the chunk past the uncompressed
    threshold (BlockGZIPFileWriter.java:191-200). An optional file header
    becomes its OWN zero-record chunk so readers can skip it by index
    alone (A30, BlockGZIPFileWriter.java:142-150). ``io_filter`` swaps
    the per-chunk codec (A9; default block-gzip); the upload goes through
    the injected ``store`` (atomic last-write-wins put)."""
    io_filter = io_filter or GzipFilter()
    chunks: list[ChunkDescriptor] = []
    out = io.BytesIO()

    def flush_chunk(raw: bytes, first: int, count: int) -> None:
        at = out.tell()
        blob = io_filter.encode(raw)
        out.write(blob)
        chunks.append(
            ChunkDescriptor(
                first_record_offset=first,
                num_records=count,
                byte_offset=at,
                byte_length=len(blob),
                byte_length_uncompressed=len(raw),
            )
        )

    if header_bytes:
        flush_chunk(header_bytes, first_offset, 0)
    buf = bytearray()
    buf_first = first_offset
    buf_count = 0
    for frame in frames:
        # rotate on RECORD presence, not byte count: zero-length frames
        # (e.g. values-only empty records) must still land in a chunk
        if buf_count and len(buf) + len(frame) > chunk_threshold:
            flush_chunk(bytes(buf), buf_first, buf_count)
            buf_first += buf_count
            buf, buf_count = bytearray(), 0
        buf += frame
        buf_count += 1
    if buf_count:
        flush_chunk(bytes(buf), buf_first, buf_count)
    store.put(key, out.getvalue())  # atomic: replay overwrites, never dups
    return ChunksIndex(tuple(chunks))


def write_archive(
    records: DataFrame,
    root: str,
    date_prefix: str,
    fmt=None,
    chunk_threshold: int = 64 * 1024 * 1024,
    header_bytes: "bytes | None" = None,
    io_filter: "ArchiveFilter | None" = None,
) -> list[dict]:
    """Flush a batch of (topic, partition, offset, key, value[, headers])
    rows into the reference layout under ``{root}/{date_prefix}/``. One
    file per (topic, partition) named by its first offset. Returns the
    per-file manifest (and writes cursors LAST, from the driver, after all
    data+index uploads succeeded — the reference's commit order).
    ``root`` is a POSIX path or an :class:`~.store.ObjectStore`; the
    executor-side flush carries the picklable store client."""
    store = as_store(root)
    fmt = fmt or ByteLengthFormat(include_keys=True)
    out_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("data_key", T.StringType()),
            T.StructField("index_key", T.StringType()),
            T.StructField("first_offset", T.LongType()),
            T.StructField("num_records", T.LongType()),
            T.StructField("num_chunks", T.IntegerType()),
        ]
    )
    def flush_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values("offset")
        topic = str(pdf["topic"].iloc[0])
        part = int(pdf["partition"].iloc[0])
        first = int(pdf["offset"].iloc[0])
        # the layout derives record offsets from POSITION (chunk
        # first_record_offset + index, like the reference's readers), so a
        # flush must be offset-dense per partition — gaps or duplicates
        # would silently renumber records on read. Fail loudly instead.
        import numpy as np

        offs = pdf["offset"].to_numpy(dtype="int64")
        if not (offs == first + np.arange(len(offs))).all():
            raise ValueError(
                f"archive flush for {topic}-{part} requires dense "
                f"contiguous offsets starting at {first}; got gaps or "
                "duplicates (the layout reconstructs offsets by position)"
            )
        has_headers = "headers" in pdf.columns
        frames = []
        for i in range(len(pdf)):
            k = pdf["key"].iloc[i]
            v = pdf["value"].iloc[i]
            h = pdf["headers"].iloc[i] if has_headers else None
            hl = None
            if h is not None and len(h):
                hl = [
                    (x["key"], None if x["value"] is None else bytes(x["value"]))
                    for x in h
                ]
            frames.append(
                fmt.encode(
                    None if k is None else bytes(k),
                    None if v is None else bytes(v),
                    hl,
                )
            )
        name = data_file_name(topic, part, first)
        data_key = f"{date_prefix}/{name}"
        index = _write_block_gzip(
            store, data_key, frames, first, chunk_threshold, header_bytes,
            io_filter,
        )
        # index AFTER data (the reference uploads the chunks index once the
        # data object is complete — a reader never sees an index without
        # its data)
        store.put_json(index_key_for(data_key), index.to_json())
        return pd.DataFrame(
            [
                {
                    "topic": topic,
                    "partition": part,
                    "data_key": data_key,
                    "index_key": index_key_for(data_key),
                    "first_offset": first,
                    "num_records": len(pdf),
                    "num_chunks": len(index.chunks),
                }
            ]
        )

    manifest = [
        r.asDict()
        for r in records.groupBy("topic", "partition")
        .applyInPandas(flush_group, schema=out_schema)
        .collect()
    ]
    # cursor update AFTER every data+index pair landed (run.py:202-218)
    for m in manifest:
        store.put_text(cursor_key(m["topic"], m["partition"]), m["index_key"])
    return manifest


def read_cursor(root, topic: str, partition: int) -> "str | None":
    store = as_store(root)
    k = cursor_key(topic, partition)
    if not store.exists(k):
        return None
    return store.get_text(k).strip()


# ---------------------------------------------------------------------------
# reader (source): A1-A13 as a chunk-parallel DataFrame scan
# ---------------------------------------------------------------------------


def _list_data_keys(store) -> list[str]:
    # lexicographic key order IS offset order (zero-padded names,
    # GCSFilesReader.java:44-47); ObjectStore.list is sorted by contract
    return [k for k in store.list() if k.endswith(".gz")]


def _load_index(store, data_key: str) -> "ChunksIndex | None":
    k = index_key_for(data_key)
    if not store.exists(k):
        return None
    return ChunksIndex.from_json(store.get_json(k))


def plan_archive_scan(
    root,
    topics: "set[str] | None" = None,
    topics_ignore: "set[str] | None" = None,
    partitions: "set[int] | None" = None,
    offsets: "dict[tuple[str, int], tuple[str, int]] | None" = None,
    start_marker: "str | None" = None,
) -> list[dict]:
    """Driver-side scan plan: one row per gzip chunk to decode.

    ``offsets`` maps (topic, partition) → (data_key, last_committed_offset),
    the reference's Map<GCSPartition, GCSOffset> (GCSSourceTask.java:110-124):
    files with key < committed key are skipped whole (A5), the committed
    file itself resumes from chunkContaining(offset+1) (A6) with a residual
    record skip (A8), and later files read fully."""
    store = as_store(root)
    offsets = offsets or {}
    plan: list[dict] = []
    for key in _list_data_keys(store):
        m = KEY_RE.match(key)
        if not m:  # suffix/shape filter (A3)
            continue
        topic, part = m.group("topic"), int(m.group("part"))
        name_offset = int(m.group("offset"))
        if topics is not None and topic not in topics:
            continue
        if topics_ignore is not None and topic in topics_ignore:
            continue
        if partitions is not None and part not in partitions:
            continue
        committed = offsets.get((topic, part))
        # gcs.start.marker (GCSFilesReader.java:148-158) — PER PARTITION:
        # a stored offset wins for ITS partition only; partitions without
        # one still honor the marker (Connect offsets work per partition)
        if committed is None and start_marker is not None and key < start_marker:
            continue
        resume_after = -1
        if committed is not None:
            ckey, coff = committed
            if key < ckey:
                continue  # whole-file skip (GCSFilesReader.java:173-181)
            if key == ckey:
                resume_after = coff
        index = _load_index(store, key)
        if index is None:
            # no index: decode the whole file as one range (the name still
            # gives the first offset; last offset unknown until decoded)
            plan.append(
                {
                    "data_key": key,
                    "topic": topic,
                    "partition": part,
                    "byte_offset": 0,
                    "byte_length": -1,
                    "first_record_offset": name_offset,
                    "resume_after": resume_after,
                    "last_offset": -1,
                }
            )
            continue
        if resume_after >= 0 and index.chunk_containing(resume_after + 1) is None:
            continue  # resumed at EOF → skip file (GCSFilesReader.java:237-248)
        for c in index.chunks:
            if c.num_records == 0:
                continue  # header chunk (A30) — index lets readers skip it
            if resume_after >= 0 and (
                c.first_record_offset + c.num_records - 1 <= resume_after
            ):
                continue  # chunk entirely below the checkpoint
            plan.append(
                {
                    "data_key": key,
                    "topic": topic,
                    "partition": part,
                    "byte_offset": c.byte_offset,
                    "byte_length": c.byte_length,
                    "first_record_offset": c.first_record_offset,
                    "resume_after": resume_after,
                    "last_offset": c.first_record_offset + c.num_records - 1,
                }
            )
    return plan


#: change-event JSON carried in archived record values (the bridge's wire
#: schema): the reference moves opaque bytes; a CDC user archives their
#: change events as JSON values, and this is how they flow into the table.
CHANGE_EVENT_JSON_SCHEMA = (
    "doc_id string, offset long, op string, tokens array<int>, "
    "n_tok int, source string"
)


def decode_change_events(records: DataFrame) -> DataFrame:
    """Archived kafka records → typed CDC change events: parse the JSON
    value (from_json — JVM-side, no Python) and map the record coordinates
    onto the feed's columns (kafka partition → part; the JSON's own offset
    is the CDC ordering key, the kafka offset is delivery order)."""
    c = F.from_json(F.col("value").cast("string"), CHANGE_EVENT_JSON_SCHEMA)
    return records.select(
        c.alias("c"),
        F.col("partition").alias("part"),
        F.col("offset").alias("delivery_seq"),
    ).select("c.*", "part", "delivery_seq")


def ingest_archive(pipe, tailer: "ArchiveTailer", max_polls: int = 1000) -> list:
    """Drain a reference archive into the icebox table through the CDC
    pipeline: poll → decode change events → the SAME fused batch path the
    segment loop runs (validate, LWW dedup, MERGE, metrics, auto-fold).
    batch_id derives from the poll's offset frontier, so a crashed-and-
    replayed poll is absorbed by the table's idempotent commit."""
    out = []
    for _ in range(max_polls):
        before = dict(tailer.offsets)
        df = tailer.poll()
        if df is None:
            break
        frontier = ",".join(
            f"{t}-{p}:{k}@{o}" for (t, p), (k, o) in sorted(tailer.offsets.items())
        )
        batch_id = "arch-" + hashlib.md5(
            (str(sorted(before.items())) + "→" + frontier).encode()
        ).hexdigest()[:16]
        lineage = pipe.run_batch_df(decode_change_events(df), batch_id)
        if lineage is not None:
            out.append(lineage)
    return out


def tail_archive_forever(
    pipe,
    tailer: "ArchiveTailer",
    poll_interval_s: float = 30.0,
    stop_after_batches: "int | None" = None,
    stop_after_idle_polls: "int | None" = None,
    sleep_fn=None,
) -> list:
    """The reference's poll loop (A28) over a live archive: drain whatever
    is visible, then sleep ``poll_interval_s`` and re-list — new flushes
    appear as new lexicographic keys and are picked up exactly-once (the
    frontier-derived batch_id absorbs replays). The stop_* knobs exist for
    tests; production passes None and runs until killed."""
    import time as _time

    sleep = sleep_fn or _time.sleep
    out: list = []
    idle = 0
    while True:
        got = ingest_archive(
            pipe,
            tailer,
            max_polls=(
                1000
                if stop_after_batches is None
                else max(stop_after_batches - len(out), 0)
            ),
        )
        out.extend(got)
        if stop_after_batches is not None and len(out) >= stop_after_batches:
            return out
        if not got:
            idle += 1
            if stop_after_idle_polls is not None and idle >= stop_after_idle_polls:
                return out
            sleep(poll_interval_s)
        else:
            idle = 0


def export_state_to_archive(
    table,
    root: str,
    date_prefix: str,
    fmt=None,
    topic: str = "snapshot",
    num_partitions: int = 4,
    chunk_threshold: int = 64 * 1024 * 1024,
) -> list[dict]:
    """The sink direction of the bridge: materialize the table's current
    LWW state back into the reference's archive layout, one partition per
    hash bucket of doc_id, values = the same change-event JSON the ingest
    side decodes. A reference-stack consumer can replay the archive with
    the original connector; :func:`ingest_archive` round-trips it into an
    identical table (offsets are preserved as the CDC ordering key)."""
    from kafka_connect_gcs_spark.operators.merge import read_state
    from pyspark.sql import Window

    state = read_state(table)
    part = F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions)).cast("int")
    payload = F.to_json(
        F.struct(
            "doc_id",
            F.col("last_offset").alias("offset"),
            F.lit("I").alias("op"),
            "tokens",
            "n_tok",
            "source",
        )
    )
    w = Window.partitionBy("partition").orderBy("doc_id")
    recs = (
        state.withColumn("partition", part)
        .select(
            F.lit(topic).alias("topic"),
            "partition",
            payload.cast("binary").alias("value"),
            F.col("doc_id").cast("binary").alias("key"),
            "doc_id",
        )
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .select("topic", "partition", "offset", "key", "value")
    )
    return write_archive(
        recs, root, date_prefix, fmt or ByteLengthFormat(include_keys=True),
        chunk_threshold=chunk_threshold,
    )


class ArchiveTailer:
    """The reference's live source loop over an archive: poll for records
    past the stored offsets, emit them, max-merge the offsets forward
    (GCSSourceTask.readFromStoredOffsets :65-142 + poll :200-259).

    Offset advancement is METADATA-ONLY: the new position per (topic,
    partition) is the lexicographically-last planned file key plus its
    index's last offset — no aggregation over the returned records, so a
    poll costs one listing plus the tiny index JSONs (the reference walks
    record-by-record to learn the same thing). ``max_chunks_per_poll`` is
    the batch limit (A25, max.poll.records at chunk granularity).

    Each poll is decoded exactly once: the returned DataFrame is persisted
    (``MEMORY_AND_DISK``), so every pass the caller makes over the batch
    reads the cached records, and an indexless file's last offset comes
    from the same cache. The tailer holds at most one cached poll. It
    lives until the next ``poll()`` — which releases it first, also when
    that poll returns None — or until the tailer is garbage-collected, so
    a tailer that has reported caught-up holds no cache."""

    def __init__(
        self,
        spark: SparkSession,
        root,
        fmt=None,
        topics: "set[str] | None" = None,
        topics_ignore: "set[str] | None" = None,
        partitions: "set[int] | None" = None,
        offsets: "dict[tuple[str, int], tuple[str, int]] | None" = None,
        start_marker: "str | None" = None,
        max_chunks_per_poll: "int | None" = None,
        io_filter: "ArchiveFilter | None" = None,
    ):
        self.spark = spark
        self.root = root
        self.store = as_store(root)
        self.fmt = fmt or ByteLengthFormat(include_keys=True)
        self.io_filter = io_filter
        self.topics = topics
        self.topics_ignore = topics_ignore
        self.partitions = partitions
        #: Map<GCSPartition, GCSOffset> analog; monotone max-merged (A26)
        self.offsets: dict = dict(offsets or {})
        #: applied per partition by plan_archive_scan: a stored offset wins
        #: for its own partition, others still honor the marker
        self.start_marker = start_marker
        self.max_chunks_per_poll = max_chunks_per_poll
        #: unpersists the cached poll; calling it again is a no-op
        self._release_cached = lambda: None

    def poll(self) -> "DataFrame | None":
        """Records past the current offsets (None when caught up), with
        ``self.offsets`` advanced to cover everything returned. Releases
        the previous poll's cached records first."""
        self._release_cached()
        plan = plan_archive_scan(
            self.store,
            topics=self.topics,
            topics_ignore=self.topics_ignore,
            partitions=self.partitions,
            offsets=self.offsets,
            start_marker=self.start_marker,
        )
        if self.max_chunks_per_poll is not None:
            plan = plan[: self.max_chunks_per_poll]
        if not plan:
            return None
        df = _decode_plan(
            self.spark, self.store, self.fmt, plan, self.io_filter
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self._release_cached = weakref.finalize(self, df.unpersist)
        self._release_cached.atexit = False  # the JVM may be gone by then
        indexless = [p for p in plan if p["last_offset"] < 0]
        if indexless:
            # learn indexless files' max offsets from the data in ONE pass
            # over the cached decode (a per-file agg would re-decode every
            # planned chunk once per file)
            maxima = {
                (r.topic, r.partition): r.mx
                for r in df.groupBy("topic", "partition")
                .agg(F.max("offset").alias("mx"))
                .collect()
            }
            for p in indexless:
                p["last_offset"] = maxima.get((p["topic"], p["partition"]), -1)
        # advance offsets from the PLANNED chunks only (a truncated poll must
        # not skip unread chunks); GCSOffset order = (key, offset) lexicographic
        advanced = False
        for p in plan:
            tp = (p["topic"], p["partition"])
            last = p["last_offset"]
            if last < 0:
                continue  # indexless file with nothing new in it
            prev = self.offsets.get(tp)
            cand = (p["data_key"], last)
            if prev is None or cand > prev:
                self.offsets[tp] = cand
                advanced = True
        if not advanced and indexless:
            # every planned chunk was already consumed (e.g. a fully-read
            # indexless file that can't be pruned by metadata): report
            # caught-up instead of handing the caller an empty batch forever
            self._release_cached()
            return None
        return df


def read_archive(
    spark: SparkSession,
    root,
    fmt=None,
    topics: "set[str] | None" = None,
    topics_ignore: "set[str] | None" = None,
    partitions: "set[int] | None" = None,
    offsets: "dict[tuple[str, int], tuple[str, int]] | None" = None,
    start_marker: "str | None" = None,
    io_filter: "ArchiveFilter | None" = None,
) -> DataFrame:
    """Archive → DataFrame(topic, partition, offset, key, value, headers).

    The plan (tiny metadata) is built on the driver; chunk decode fans out
    as an Arrow-batched ``mapInPandas`` with one ranged read per chunk —
    ≤ one uncompressed block of memory per task, chunk-count parallelism.
    ``io_filter`` must match the writer's (A9; default block-gzip).
    ``root``: POSIX path or :class:`~.store.ObjectStore`."""
    store = as_store(root)
    fmt = fmt or ByteLengthFormat(include_keys=True)
    plan = plan_archive_scan(
        store,
        topics=topics,
        topics_ignore=topics_ignore,
        partitions=partitions,
        offsets=offsets,
        start_marker=start_marker,
    )
    return _decode_plan(spark, store, fmt, plan, io_filter)


def _decode_plan(
    spark: SparkSession,
    root,
    fmt,
    plan: list[dict],
    io_filter: "ArchiveFilter | None" = None,
) -> DataFrame:
    store = as_store(root)
    io_filter = io_filter or GzipFilter()
    if not plan:
        return local_frame(spark, [], RECORDS_SCHEMA)
    plan_schema = (
        "data_key string, topic string, partition int, byte_offset long, "
        "byte_length long, first_record_offset long, resume_after long, "
        "last_offset long"
    )
    # a LocalRelation: its scan already splits the chunk rows into
    # min(chunks, defaultParallelism) partitions, so no exchange is needed
    # to fan the decode out
    plan_df = local_frame(
        spark,
        [
            (
                p["data_key"], p["topic"], p["partition"], p["byte_offset"],
                p["byte_length"], p["first_record_offset"], p["resume_after"],
                p["last_offset"],
            )
            for p in plan
        ],
        plan_schema,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in (
                "topic", "partition", "offset", "key", "value", "headers")}
            for i in range(len(pdf)):
                boff = int(pdf["byte_offset"].iloc[i])
                blen = int(pdf["byte_length"].iloc[i])
                # ranged read through the injected store client
                # (GCSFilesReader.java:278-297; HTTP stores map this to a
                # Range request — never a whole-object GET per chunk)
                blob = store.get(str(pdf["data_key"].iloc[i]), boff, blen)
                try:
                    raw = io_filter.decode(blob)
                    recs = fmt.decode(raw)
                except CorruptRecord:
                    raise
                except Exception as e:
                    # the reference's DataException("Corrupt record at …"),
                    # BytesRecordReader.java:197-199 — with chunk coordinates
                    raise CorruptRecord(
                        f"Corrupt chunk at {pdf['data_key'].iloc[i]}"
                        f"[{boff}:{boff + max(blen, 0)}]: {e}"
                    ) from e
                first = int(pdf["first_record_offset"].iloc[i])
                resume = int(pdf["resume_after"].iloc[i])
                for j, (k, v, h) in enumerate(recs):
                    off = first + j
                    if off <= resume:  # record skip-scan (A8)
                        continue
                    rows["topic"].append(str(pdf["topic"].iloc[i]))
                    rows["partition"].append(int(pdf["partition"].iloc[i]))
                    rows["offset"].append(off)
                    rows["key"].append(k)
                    rows["value"].append(v)
                    rows["headers"].append(
                        [{"key": hk, "value": hv} for hk, hv in h]
                    )
            if rows["offset"]:
                # an all-empty frame infers float64 columns, which Arrow
                # cannot convert to the headers type (e.g. a resumed
                # indexless file with nothing new in it)
                yield pd.DataFrame(rows, columns=list(rows))

    return plan_df.mapInPandas(decode, schema=RECORDS_SCHEMA)
