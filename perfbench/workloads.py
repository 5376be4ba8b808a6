"""The benchmark's workloads, driven through the engine's public API.

A workload generates its inputs from the seed at set-up and warms the
engine's code paths once on a scratch table, then runs *rounds*. A round
starts from the same state (a copy of the base table made at set-up, or
an empty table, untimed) and replays the whole generated input, so
every round does identical work: the same batches, merge modes and
maintenance calls. The harness runs whole rounds until the measured time
is used up. Per round the workload reports counts that must repeat
exactly; the last round's output is checked against an oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import duckdb
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.config import EngineConfig
from kafka_connect_gcs_spark.icebox import maintenance
from kafka_connect_gcs_spark.icebox.table import IceboxTable
from kafka_connect_gcs_spark.metrics import RecordingMetrics
from kafka_connect_gcs_spark.operators.merge import read_state
from kafka_connect_gcs_spark.sources.archive import (
    ArchiveTailer,
    decode_change_events,
    write_archive,
)
from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes
from kafka_connect_gcs_spark.sources.formats import ByteLengthFormat
from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def table_file_bytes(root: str) -> int:
    """Bytes of data and delete files under a table root (metadata JSON is
    not counted: its size grows with history, not with the work)."""
    return sum(dir_bytes(os.path.join(root, d)) for d in ("data", "deletes"))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def digest(rows) -> tuple[int, str]:
    """Row count and an order-independent digest of ``(doc_id, tokens)``
    pairs."""
    keys = sorted(f"{d}:{','.join(map(str, t))}" for d, t in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


def lww_oracle(parquet_glob: str) -> tuple[int, str]:
    """DuckDB last-writer-wins replay of change events: the newest event
    per doc_id by ``offset`` (then delivery order) wins; a delete removes."""
    rows = duckdb.sql(f"""
        SELECT doc_id, tokens FROM (
          SELECT doc_id, op, tokens, row_number() OVER (
            PARTITION BY doc_id ORDER BY "offset" DESC, delivery_seq DESC) rn
          FROM read_parquet('{parquet_glob}'))
        WHERE rn = 1 AND op <> 'D'
    """).fetchall()
    return digest(rows)


def table_layout(table: IceboxTable) -> dict:
    """Live data files and the share of stored rows that delete vectors
    hide, at the current snapshot (metadata only)."""
    manifests = table.snapshot().manifests
    stored = sum(m.num_records for m in manifests)
    return {"files_live": len(manifests),
            "dead_row_ratio": table.mor_dead_rows() / stored if stored else 0.0}


def read_scan(table: IceboxTable):
    """A reader's scan of the latest snapshot, forcing the token arrays."""
    return read_state(table).agg(
        F.count(F.lit(1)), F.sum(F.size("tokens"))
    ).collect()


class CdcRound:
    """One pass of a change feed through ``CdcPipeline`` into a table."""

    def __init__(self, pipe: CdcPipeline, metrics: RecordingMetrics, bytes0: int):
        self.pipe = pipe
        self.metrics = metrics
        self.bytes0 = bytes0
        self.lineages: list[dict] = []

    def read(self) -> None:
        read_scan(self.pipe.table)

    def bytes_written(self) -> int:
        return table_file_bytes(self.pipe.cfg.table_path) - self.bytes0

    def counts(self) -> dict:
        # the pipeline times each maintenance call under its batch's id
        hists = self.metrics.snapshot()["hists"]

        def ran(op: str, ln: dict) -> bool:
            return f"maintenance.{op}.time[batch_id={ln['batch_id']}]" in hists

        return {
            "batches": len(self.lineages),
            "modes": "".join(ln.get("mode", "-")[0] for ln in self.lineages),
            "folds": "".join("f" if ran("fold_deletes", ln) else "."
                             for ln in self.lineages),
            "compactions": "".join("c" if ran("compact", ln) else "."
                                   for ln in self.lineages),
            "events": sum(ln["events_in"] for ln in self.lineages),
            "files_written": [ln["files_written"] for ln in self.lineages],
            "bytes_written": self.bytes_written(),
        }

    def layout(self) -> dict:
        return table_layout(self.pipe.table)


def write_segments(ev, feed_dir: str, events_per_segment: int) -> None:
    """Write change events as ordered parquet segments
    ``seg=%08d`` by delivery order, ``events_per_segment`` apiece."""
    ev = ev.withColumn(
        "seg", (F.col("delivery_seq") / F.lit(events_per_segment)).cast("int")
    )
    ev.write.mode("overwrite").partitionBy("seg").parquet(feed_dir)
    segs = sorted(d for d in os.listdir(feed_dir) if d.startswith("seg="))
    for d in segs:
        os.rename(os.path.join(feed_dir, d),
                  os.path.join(feed_dir, f"seg={int(d.split('=')[1]):08d}"))


class CdcTailMor:
    """Small, frequent binlog batches into a pre-loaded table."""

    name = "cdc_tail_mor"
    unit = "change events"
    #: a reader scans each committed snapshot inside the timed loop
    read_each_step = True
    #: base table rows; tail events per batch and batches per round. A
    #: round starts a fresh pipeline, so it always samples range bounds
    #: once. Auto-compaction fires on the small-file count, which every
    #: seed reaches at the same batches; the delete-vector fold runs on a
    #: schedule, after batch FOLD_AFTER, because an auto-fold fires on the
    #: dead-row count, which the seed moves across its threshold. Most of
    #: the eight batches do no maintenance, so the median batch is one of
    #: those.
    BASE_DOCS = 12_000
    EVENTS_PER_BATCH = 1_000
    BATCHES = 8
    FOLD_AFTER = 4

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed

    def config(self, root: str, feed: str, ckpt: str) -> EngineConfig:
        return EngineConfig(
            table_path=root, feed_path=feed, checkpoint_path=ckpt,
            max_files_per_batch=1, shuffle_partitions=8,
            target_file_bytes=4 << 20,
            merge_mode="auto", auto_fold_dead_ratio=None,
            auto_compact_min_small_files=10,
        )

    def inputs(self) -> dict:
        return {"base_docs": self.BASE_DOCS,
                "events_per_batch": self.EVENTS_PER_BATCH,
                "batches_per_round": self.BATCHES,
                "fold_after_batch": self.FOLD_AFTER}

    def setup(self, d: str) -> str:
        spark, s = self.spark, self.seed
        base = generate_changes(spark, BinlogSpec(
            num_events=self.BASE_DOCS, num_docs=self.BASE_DOCS,
            seed=s + 1, duplicate_fraction=0.0, delete_fraction=0.0,
        )).select(
            F.format_string("doc%09d", F.col("offset")).alias("doc_id"),
            "offset", F.lit("I").alias("op"), "tokens", "n_tok", "source",
            "part", F.col("offset").alias("delivery_seq"),
        )
        base.write.mode("overwrite").parquet(f"{d}/base_feed/seg=base")
        n = self.EVENTS_PER_BATCH * self.BATCHES
        tail = generate_changes(spark, BinlogSpec(
            num_events=n, num_docs=self.BASE_DOCS, seed=s,
            hot_fraction=0.3, hot_keys=1, duplicate_fraction=0.1,
            delete_fraction=0.15, shuffle_window=self.EVENTS_PER_BATCH // 4,
        )).select(
            "doc_id", (F.col("offset") + self.BASE_DOCS).alias("offset"), "op",
            "tokens", "n_tok", "source", "part",
            # duplicates and jitter can push delivery past the last slice;
            # clamp so the feed has exactly BATCHES segments
            F.least(F.col("delivery_seq"), F.lit(n - 1)).alias("delivery_seq"),
        )
        write_segments(tail, f"{d}/tail_feed", self.EVENTS_PER_BATCH)
        CdcPipeline(spark, self.config(
            f"{d}/base_table", f"{d}/base_feed", f"{d}/base_ckpt")
        ).run_available()
        self.dir = d
        self.work = f"{d}/rounds"
        return repr(duckdb.sql(
            f"SELECT count(*), sum(hash(doc_id, op, \"offset\", delivery_seq, "
            f"tokens)) FROM read_parquet('{d}/*_feed/*/*.parquet')"
        ).fetchone())

    def warm_up(self) -> None:
        """Run each code path a round uses once before the timed rounds, on
        a scratch copy: a merge-on-read batch, a read, a delete-vector
        fold and a compaction (the first of each runs 2-3x slower)."""
        rnd = self.new_round(-1)
        rnd.step()
        rnd.read()
        maintenance.fold_deletes(rnd.pipe.table)
        maintenance.compact(rnd.pipe.table, target_bytes=rnd.pipe.cfg.target_file_bytes)

    def new_round(self, i: int) -> CdcRound:
        root = fresh_dir(f"{self.work}/table")
        shutil.copytree(f"{self.dir}/base_table", root)
        ckpt = fresh_dir(f"{self.work}/ckpt")
        metrics = RecordingMetrics()
        pipe = CdcPipeline(self.spark, self.config(
            root, f"{self.dir}/tail_feed", ckpt), metrics=metrics)
        return CdcTailRound(pipe, metrics, table_file_bytes(root), self.FOLD_AFTER)

    def check(self, rnd: CdcRound) -> tuple[bool, str]:
        want = lww_oracle(f"{self.dir}/*_feed/*/*.parquet")
        got = digest(read_state(rnd.pipe.table).select("doc_id", "tokens").collect())
        return got == want, f"table rows {got[0]}, oracle rows {want[0]}"


class CdcTailRound(CdcRound):
    def __init__(self, pipe, metrics, bytes0, fold_after: int):
        super().__init__(pipe, metrics, bytes0)
        self.fold_after = fold_after

    def step(self) -> "int | None":
        out = self.pipe.run_available(max_batches=1)
        if not out:
            return None
        self.lineages.extend(out)
        if len(self.lineages) == self.fold_after:
            # timed under the batch's id, as the pipeline times an auto-fold
            with self.metrics.time("maintenance.fold_deletes",
                                   {"batch_id": out[0]["batch_id"]}):
                maintenance.fold_deletes(self.pipe.table)
        return out[0]["events_in"]


class ArchiveRound(CdcRound):
    def __init__(self, pipe, metrics, bytes0, tailer: ArchiveTailer, i: int):
        super().__init__(pipe, metrics, bytes0)
        self.tailer = tailer
        self.i = i

    def step(self) -> "int | None":
        df = self.tailer.poll()
        if df is None:
            return None
        ln = self.pipe.run_batch_df(
            decode_change_events(df), f"arch-{self.i}-{len(self.lineages)}")
        self.lineages.append(ln)
        return ln["events_in"]


class ArchiveReplay:
    """The reference's block-gzip archive drained into an empty table."""

    name = "archive_replay"
    unit = "change events"
    #: the replay is poll, decode, run_batch_df only, with no reader
    read_each_step = False
    EVENTS = 32_000
    DOCS = 8_000
    #: archive partitions hold consecutive slices of the delivery order:
    #: polls follow partition order, so each sees the same key mix (with
    #: key-hashed partitions the seed decides which poll holds the hot key,
    #: and the write volume moved with it)
    PARTITIONS = 4
    #: uncompressed bytes per gzip chunk; polls per round (each poll takes
    #: an equal share of the archive's chunks)
    CHUNK_BYTES = 256 << 10
    POLLS = 4

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.fmt = ByteLengthFormat(include_keys=True)

    def inputs(self) -> dict:
        return {"events": self.EVENTS, "docs": self.DOCS,
                "partitions": self.PARTITIONS,
                "chunk_bytes": self.CHUNK_BYTES,
                "polls_per_round": self.POLLS}

    def changes(self):
        return generate_changes(self.spark, BinlogSpec(
            num_events=self.EVENTS, num_docs=self.DOCS, seed=self.seed,
            hot_fraction=0.3, hot_keys=1, duplicate_fraction=0.1,
            delete_fraction=0.15, shuffle_window=2_000,
        ))

    def setup(self, d: str) -> str:
        sliced = self.changes().withColumn("slice", F.least(
            F.lit(self.PARTITIONS - 1),
            (F.col("delivery_seq") * self.PARTITIONS / self.EVENTS).cast("int")))
        w = Window.partitionBy("slice").orderBy("delivery_seq", "offset")
        recs = sliced.select(
            F.lit("changes").alias("topic"),
            F.col("slice").alias("partition"),
            (F.row_number().over(w) - 1).cast("long").alias("offset"),
            F.lit(None).cast("binary").alias("key"),
            F.to_json(F.struct("doc_id", "offset", "op", "tokens", "n_tok",
                               "source")).cast("binary").alias("value"),
        ).cache()
        digest = recs.agg(F.count(F.lit(1)), F.expr(
            "bit_xor(xxhash64(partition, offset, value))")).collect()[0]
        manifest = write_archive(recs, f"{d}/archive", "2026-01-01", self.fmt,
                                 chunk_threshold=self.CHUNK_BYTES)
        chunks = sum(m["num_chunks"] for m in manifest)
        self.chunks_per_poll = -(-chunks // self.POLLS)
        recs.unpersist()
        self.dir = d
        self.work = f"{d}/rounds"
        return repr(tuple(digest))

    def warm_up(self) -> None:
        """Warm the decode and merge paths the way a service would before
        replaying: one full poll into a scratch table (a cold first poll
        measured 2-3x a warm one)."""
        self.new_round(-1).step()

    def new_round(self, i: int, chunks_per_poll: "int | None" = None) -> ArchiveRound:
        root = fresh_dir(f"{self.work}/table")
        metrics = RecordingMetrics()
        pipe = CdcPipeline(self.spark, EngineConfig(
            table_path=root, feed_path=f"{self.work}/nofeed",
            checkpoint_path=fresh_dir(f"{self.work}/ckpt"),
            shuffle_partitions=8, target_file_bytes=8 << 20,
        ), metrics=metrics)
        tailer = ArchiveTailer(
            self.spark, f"{self.dir}/archive", self.fmt,
            max_chunks_per_poll=chunks_per_poll or self.chunks_per_poll)
        return ArchiveRound(pipe, metrics, 0, tailer, i)

    def check(self, rnd: ArchiveRound) -> tuple[bool, str]:
        self.changes().write.mode("overwrite").parquet(f"{self.dir}/truth")
        want = lww_oracle(f"{self.dir}/truth/*.parquet")
        got = digest(read_state(rnd.pipe.table).select("doc_id", "tokens").collect())
        return got == want, f"table rows {got[0]}, oracle rows {want[0]}"


WORKLOADS = {w.name: w for w in (CdcTailMor, ArchiveReplay)}
