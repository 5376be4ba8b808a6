"""The CDC ingest loop: feed segments → validate → dedup → MERGE → commit.

This is the Spark-native re-expression of the reference's whole lifecycle
(SURVEY §3): the Connect poll loop (GCSSourceTask.java:200-225) becomes a
micro-batch driver loop; lexicographic-key file listing + checkpoint skip
(GCSFilesReader.java:44-47,173-181) becomes ordered segment listing + a
checkpoint JSON; Connect's offset flush becomes the icebox snapshot commit,
and both feed position and table state advance atomically-enough that a kill
at ANY point resumes exactly-once:

    batch_id is derived from the segment range ⇒ deterministic;
    table.commit(batch_id) is idempotent ⇒ re-running a segment is a no-op;
    the checkpoint is advanced only after the table commit ⇒ a crash between
    the two replays the batch, which the batch_id guard absorbs.

Per micro-batch a lineage/metrics JSON line (A19 index-write + A29 metrics
analogs) is appended to ``{checkpoint}/lineage.jsonl``: per-partition offset
ranges, row counters, seconds, events/sec.

A Structured Streaming variant (``readStream`` + ``foreachBatch``) is
provided by :func:`run_structured_streaming`; the explicit loop remains the
reference implementation because its checkpoint contents are inspectable and
its kill/resume behavior is unit-testable deterministically.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.config import EngineConfig
from kafka_connect_gcs_spark.icebox.table import IceboxTable
from kafka_connect_gcs_spark.metrics import Metrics, create_metrics
from kafka_connect_gcs_spark.operators.merge import CDC_TABLE_FIELDS, merge_into
from kafka_connect_gcs_spark.operators.validate import valid_expr
from kafka_connect_gcs_spark.session import adaptive_disabled, local_frame


def _list_segments(feed_dir: str) -> list[str]:
    """Ordered segment listing — global order from lexicographic names, the
    reference's core ordering trick (GCSFilesReader.java:44-47)."""
    if not os.path.isdir(feed_dir):
        return []
    return sorted(d for d in os.listdir(feed_dir) if d.startswith("seg="))


class Checkpoint:
    """Feed-position checkpoint: the analog of Connect's stored
    Map<GCSPartition, GCSOffset> (GCSSourceTask.java:110-124), plus the
    lineage log. Atomic via write-tmp + rename."""

    def __init__(self, path: str):
        self.dir = os.path.abspath(path)
        os.makedirs(self.dir, exist_ok=True)
        self.state_path = os.path.join(self.dir, "state.json")
        self.lineage_path = os.path.join(self.dir, "lineage.jsonl")

    def load(self) -> dict:
        if not os.path.exists(self.state_path):
            return {"next_segment_idx": 0, "partition_offsets": {}}
        with open(self.state_path) as f:
            return json.load(f)

    def save(self, state: dict) -> None:
        tmp = self.state_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.state_path)

    def append_lineage(self, record: dict) -> None:
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def lineage(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        metrics: Metrics | None = None,
    ):
        self.spark = spark
        self.cfg = config
        #: A29 metrics surface: reporter chosen by config
        #: (``properties["metrics.reporter"] = "jsonl"|"recording"|module:Class``),
        #: or injected directly. Values come from counters the batch already
        #: produces (Observations + lineage aggregates) — no extra Spark jobs.
        self.metrics = metrics if metrics is not None else create_metrics(
            config.properties
        )
        self.ckpt = Checkpoint(config.checkpoint_path)
        if IceboxTable.exists(config.table_path):
            self.table = IceboxTable.load(spark, config.table_path)
        else:
            self.table = IceboxTable.create(
                spark, config.table_path, CDC_TABLE_FIELDS
            )
        #: range bounds reused across batches (recomputed every REFRESH_EVERY
        #: batches; the keyspace drifts slowly, clustering degrades gracefully)
        self._bounds: list[str] | None = None
        self._bounds_age = 0
        self.BOUNDS_REFRESH_EVERY = 8

    # -- one micro-batch -------------------------------------------------------

    def run_batch(self, segments: list[str]) -> dict | None:
        """Consume a list of segment dir names as ONE micro-batch."""
        if not segments:
            return None
        batch_id = f"{segments[0]}..{segments[-1]}"
        paths = [os.path.join(self.cfg.feed_path, s) for s in segments]
        raw = self.spark.read.parquet(*paths)
        return self.run_batch_df(raw, batch_id, segments=segments)

    def run_batch_df(
        self, raw, batch_id: str, segments: list[str] | None = None
    ) -> dict | None:
        """Consume one already-loaded DataFrame as a micro-batch (the
        Structured Streaming foreachBatch entry point): same plan, metrics,
        and auto-maintenance as the segment loop."""
        with self.metrics.time("batch", {"batch_id": batch_id}):
            lineage = self.apply_batch_df(raw, batch_id, segments=segments)
        if lineage is not None:
            tags = {"batch_id": batch_id}
            self.metrics.meter(lineage.get("events_in", 0), "events.in", tags)
            self.metrics.meter(lineage.get("quarantined", 0), "events.quarantined", tags)
            for k in ("inserted", "updated", "deleted", "stale_ignored"):
                if k in lineage:
                    self.metrics.meter(lineage[k], f"merge.{k}", tags)
            if "seconds" in lineage:
                self.metrics.hist(
                    int(lineage["seconds"] * 1e9), "merge.seconds_ns", tags
                )
            if "table_live_rows" in lineage:
                live = lineage["table_live_rows"]
                self.metrics.gauge("table.live_rows", None, lambda: live)
            self._maybe_fold_deletes(batch_id)
            self._maybe_compact(batch_id)
        return lineage

    def _maybe_compact(self, batch_id: str) -> dict | None:
        """Auto-schedule small-file compaction when the manifest shows too
        many sub-half-target files (micro-batch COW shreds a table into
        per-batch files; scan task count then grows without bound). Trigger
        is metadata-only; the compaction commit is idempotent."""
        bound = self.cfg.auto_compact_min_small_files
        if bound is None:
            return None
        half = self.cfg.target_file_bytes // 2
        small = sum(
            1 for m in self.table.snapshot().manifests if m.num_bytes < half
        )
        if small <= bound:
            return None
        from kafka_connect_gcs_spark.icebox.maintenance import compact

        with self.metrics.time("maintenance.compact", {"batch_id": batch_id}):
            res = compact(self.table, target_bytes=self.cfg.target_file_bytes)
        if not res.get("skipped"):
            res["op"] = "compact"
            res["ts"] = time.time()
            self.ckpt.append_lineage(res)
            self.metrics.meter(
                res.get("compacted_files", 0), "maintenance.files_compacted"
            )
        return res

    def _maybe_fold_deletes(self, batch_id: str) -> dict | None:
        """Auto-schedule DV folding when read amplification crosses the
        configured bound. The trigger is metadata-only (mor_dead_rows
        counter vs manifest record sums); the fold itself commits its own
        idempotent snapshot, so a crash mid-fold replays harmlessly."""
        ratio = self.cfg.auto_fold_dead_ratio
        if ratio is None:
            return None
        dead = self.table.mor_dead_rows()
        if dead < self.cfg.auto_fold_min_dead:
            return None
        stored = sum(m.num_records for m in self.table.snapshot().manifests)
        if stored == 0 or dead / stored < ratio:
            return None
        from kafka_connect_gcs_spark.icebox.maintenance import fold_deletes

        with self.metrics.time("maintenance.fold_deletes", {"batch_id": batch_id}):
            res = fold_deletes(self.table)
        if not res.get("skipped"):
            res["op"] = "fold-deletes"
            res["ts"] = time.time()
            self.ckpt.append_lineage(res)
            self.metrics.meter(res.get("dv_rows", 0), "maintenance.dv_rows_folded")
        return res

    def apply_batch_df(
        self, raw, batch_id: str, segments: list[str] | None = None
    ) -> dict | None:
        """Apply one micro-batch DataFrame: route → validate → fused metadata
        job → MERGE → lineage. Shared by the explicit loop (which reads
        segment parquet itself) and the Structured Streaming variant (which
        gets the DataFrame from foreachBatch) so both run the same plan —
        including the single tagged-union metadata collect."""
        # A4: static partition filters (Catalyst predicates, pushed to scan)
        if self.cfg.parts_allow is not None and "part" in raw.columns:
            raw = raw.where(F.col("part").isin(list(self.cfg.parts_allow)))
        # deny-list composes after the allow-list, like the reference chains
        # topics / topics.ignore predicates (GCSSourceTask.java:88-93)
        if self.cfg.parts_ignore is not None and "part" in raw.columns:
            raw = raw.where(~F.col("part").isin(list(self.cfg.parts_ignore)))
        # source-label allow/deny (the reference's topics / topics.ignore —
        # topics are labels, so they filter `source`, never the int part)
        if self.cfg.source_allow is not None and "source" in raw.columns:
            raw = raw.where(F.col("source").isin(list(self.cfg.source_allow)))
        if self.cfg.source_ignore is not None and "source" in raw.columns:
            raw = raw.where(~F.col("source").isin(list(self.cfg.source_ignore)))
        # A24: source-label remap (the reference's targetTopic.* routing)
        if self.cfg.source_remap:
            mapping = F.create_map(
                *[F.lit(x) for kv in self.cfg.source_remap.items() for x in kv]
            )
            raw = raw.withColumn(
                "source", F.coalesce(mapping[F.col("source")], F.col("source"))
            )
        # fuse validation flagging + per-partition lineage into ONE scan:
        # (part, min/max offset, events) over valid rows + quarantine count
        ok = F.when(F.col("op") == "D", F.lit(True)).otherwise(
            valid_expr(self.cfg.vocab_size)
        )
        flagged = raw.withColumn("_ok", ok)
        part_col = "part" if "part" in raw.columns else None
        # ONE narrow scan of the feed serves validation counting, lineage,
        # and the merge's skinny dedup/pruning/counters — persisted so the
        # wide token arrays are only read again by the single heavy pass.
        from pyspark import StorageLevel

        narrow_cols = ["doc_id", "op", "offset", "_ok"]
        if part_col:
            narrow_cols.append("part")
        if "delivery_seq" in raw.columns:
            narrow_cols.append("delivery_seq")
        narrow = flagged.select(*narrow_cols).persist(StorageLevel.MEMORY_AND_DISK)

        # --- ONE metadata job per batch: a tagged union of every small
        # metadata query the batch needs — per-partition lineage stats,
        # affected-file pruning, the range-bound key sample, and the
        # changed-key count for merge-mode choice. Driver job dispatch is
        # the serial fixed cost in micro-batch mode (~3-4 jobs/batch in
        # round 1); this folds them into a single collect over the cached
        # narrow projection.
        okn = narrow.where(F.col("_ok"))
        out_cols = ["tag", "s", "n1", "n2", "n3", "n4"]

        def shaped(df):
            return df.select(*out_cols)

        b_stat = shaped(
            narrow.groupBy(F.col(part_col) if part_col else F.lit(0).alias("part"))
            .agg(
                F.min(F.when(F.col("_ok"), F.col("offset"))).alias("n1"),
                F.max(F.when(F.col("_ok"), F.col("offset"))).alias("n2"),
                F.sum(F.col("_ok").cast("long")).alias("n3"),
                F.sum((~F.col("_ok")).cast("long")).alias("n4"),
            )
            .select(
                F.lit("stat").alias("tag"),
                F.col(part_col if part_col else "part").cast("string").alias("s"),
                "n1", "n2", "n3", "n4",
            )
        )
        branches = [b_stat]
        nulls = [F.lit(None).cast("long").alias(c) for c in ("n1", "n2", "n3", "n4")]
        snap = self.table.snapshot()
        ranged = [
            (m.path, m.min_doc_id, m.max_doc_id)
            for m in snap.manifests
            if m.min_doc_id is not None
        ]
        no_stats_paths = [m.path for m in snap.manifests if m.min_doc_id is None]
        if ranged:
            ranges_df = local_frame(
                self.spark, ranged, "path string, lo string, hi string"
            )
            # no doc_id-level distinct before the range join: the join is a
            # broadcast nested-loop against a handful of file ranges, so
            # probing every raw row costs less than the extra exchange the
            # distinct would add (one fewer shuffle wave per micro-batch);
            # the path-level distinct is a partial aggregate down to ≤ the
            # manifest count either way
            branches.append(
                shaped(
                    okn.select("doc_id")
                    .join(
                        F.broadcast(ranges_df),
                        (F.col("doc_id") >= F.col("lo"))
                        & (F.col("doc_id") <= F.col("hi")),
                    )
                    .select("path")
                    .distinct()
                    .select(F.lit("path").alias("tag"), F.col("path").alias("s"), *nulls)
                )
            )
        hint = None
        if self._bounds is not None and self._bounds_age < self.BOUNDS_REFRESH_EVERY:
            hint = self._bounds
        if hint is None:
            n_sample = self.cfg.shuffle_partitions * 64
            branches.append(
                shaped(
                    okn.select("doc_id")
                    .orderBy(F.xxhash64(F.col("doc_id")))
                    .limit(n_sample)
                    .select(
                        F.lit("bound").alias("tag"), F.col("doc_id").alias("s"), *nulls
                    )
                )
            )
        if self.cfg.merge_mode == "auto" and snap.manifests:
            branches.append(
                shaped(
                    okn.agg(F.count_distinct(F.col("doc_id")).alias("n1")).select(
                        F.lit("cnt").alias("tag"),
                        F.lit(None).cast("string").alias("s"),
                        F.col("n1"),
                        *nulls[1:],
                    )
                )
            )
        meta_df = branches[0]
        for b in branches[1:]:
            meta_df = meta_df.unionByName(b)
        # AQE off for this one collect: the union's subqueries are tiny,
        # fixed-shape aggregates, but AQE materializes every exchange as
        # its own job — measured ~7 sequential dispatch waves (~2 s) per
        # micro-batch vs one job without it. Micro-batch latency is driver
        # dispatch-bound (guide §2.2/§7); runtime re-optimization has
        # nothing to improve on metadata-scale relations.
        with adaptive_disabled(self.spark):
            rows = meta_df.collect()

        from collections import namedtuple

        StatsRow = namedtuple("StatsRow", "part min_offset max_offset events bad")
        stats = [
            StatsRow(r.s, r.n1, r.n2, r.n3, r.n4) for r in rows if r.tag == "stat"
        ]
        affected_paths = no_stats_paths + [r.s for r in rows if r.tag == "path"]
        key_sample = [r.s for r in rows if r.tag == "bound"] or None
        changed_keys = next((r.n1 for r in rows if r.tag == "cnt"), None)
        n_bad = int(sum(r.bad for r in stats))
        n_valid = int(sum(r.events for r in stats))
        if n_valid == 0:
            # every row quarantined (or the segment was empty): no merge, no
            # table commit — the feed position still advances (reference: an
            # empty poll returns no records and commits nothing,
            # GCSSourceTask.java:227-259)
            narrow.unpersist()
            lineage = {
                "batch_id": batch_id,
                "events_in": 0,
                "partitions": {},
                "segments": segments or [],
                "quarantined": n_bad,
                "ts": time.time(),
            }
            self.ckpt.append_lineage(lineage)
            return lineage
        valid = flagged.where(F.col("_ok")).drop("_ok")
        lineage = merge_into(
            self.table, valid, batch_id, self.cfg,
            lineage_rows=stats, bounds_hint=hint,
            narrow_changes=narrow.where(F.col("_ok")).drop("_ok"),
            affected_paths=affected_paths,
            key_sample=key_sample,
            changed_keys=changed_keys,
        )
        narrow.unpersist()
        self._bounds = lineage.pop("_bounds", self._bounds)
        self._bounds_age = 0 if hint is None else self._bounds_age + 1
        lineage["segments"] = segments or []
        lineage["quarantined"] = n_bad
        lineage["ts"] = time.time()
        self.ckpt.append_lineage(lineage)
        return lineage

    # -- the loop -----------------------------------------------------------------

    def run_available(self, max_batches: int | None = None) -> list[dict]:
        """Process EVERY feed segment visible at entry, checkpointing after
        each micro-batch. The listing is consumed page-by-page
        (``cfg.listing_page_size``, the gcs.page.size analog) but a single
        call drains all pages of its entry snapshot — callers that ran
        "process what's there now" get exactly that, regardless of how the
        snapshot is paged. Bounding to the snapshot (never re-listing
        mid-call) keeps the call terminating even when a producer appends
        faster than we drain; ``run_forever`` re-lists between calls to
        pick up what arrived meanwhile. Safe to kill at any point and
        re-run."""
        out = []
        state = self.ckpt.load()
        segs = _list_segments(self.cfg.feed_path)
        i = state["next_segment_idx"]
        # A cold start (no checkpoint yet) honors start_marker: skip every
        # segment lexicographically below it, mirroring gcs.start.marker
        # (GCSFilesReader.java:148-158). A checkpoint always wins, like
        # stored Connect offsets win over the marker.
        if (
            i == 0
            and not state["partition_offsets"]
            and self.cfg.start_marker is not None
        ):
            while i < len(segs) and segs[i] < self.cfg.start_marker:
                i += 1
        batches = 0
        # gcs.page.size (GCSSourceTask.java:164): the page bounds how much
        # of the listing one POLL ITERATION consumes — the micro-batch
        # carve below never crosses a page boundary, mirroring the
        # reference's page-at-a-time listing — but the loop walks page
        # after page until the entry snapshot is drained. Independent of
        # max_files_per_batch (the records-per-poll analog, which bounds
        # each batch WITHIN a page).
        page = self.cfg.listing_page_size
        while i < len(segs):
            if max_batches is not None and batches >= max_batches:
                break
            page_end = min(len(segs), i + page) if page is not None else len(segs)
            batch = segs[i : i + min(self.cfg.max_files_per_batch, page_end - i)]
            lineage = self.run_batch(batch)
            i += len(batch)
            batches += 1
            if lineage is not None:
                out.append(lineage)
                for p, pm in lineage.get("partitions", {}).items():
                    # a partition whose rows were ALL quarantined yields
                    # max_offset=None — skip it (the feed position still
                    # advances via next_segment_idx; offsets only track
                    # events that were applied)
                    if pm["max_offset"] is None:
                        continue
                    prev = state["partition_offsets"].get(p, -1)
                    state["partition_offsets"][p] = max(prev, pm["max_offset"])
            state["next_segment_idx"] = i
            self.ckpt.save(state)  # AFTER commit: crash ⇒ replay ⇒ no-op
        return out

    def run_forever(
        self,
        stop_after_batches: int | None = None,
        stop_after_idle_polls: int | None = None,
        sleep_fn=time.sleep,
    ) -> list[dict]:
        """The reference's poll loop (A28, GCSSourceTask.java:200-234): drain
        available segments; when idle, sleep ``poll_interval_s`` and re-list;
        on a failed batch, back off ``error_backoff_s`` and retry up to
        ``max_retries`` (the batch_id guard makes retries safe). The stop_*
        knobs exist for tests; production passes None and runs until killed."""
        out: list[dict] = []
        idle = 0
        failures = 0
        while True:
            try:
                got = self.run_available(
                    max_batches=None
                    if stop_after_batches is None
                    else max(stop_after_batches - len(out), 0)
                )
                failures = 0
            except Exception:
                failures += 1
                if failures > self.cfg.max_retries:
                    raise
                sleep_fn(self.cfg.error_backoff_s)
                continue
            out.extend(got)
            if stop_after_batches is not None and len(out) >= stop_after_batches:
                return out
            if not got:
                idle += 1
                if (
                    stop_after_idle_polls is not None
                    and idle >= stop_after_idle_polls
                ):
                    return out
                sleep_fn(self.cfg.poll_interval_s)
            else:
                idle = 0


def run_structured_streaming(
    spark: SparkSession, config: EngineConfig, timeout_sec: float = 120.0
) -> list[dict]:
    """Structured Streaming variant: file-source tail of the feed dir with
    ``foreachBatch`` merging into the same icebox table. Spark's own
    checkpoint handles feed position; the icebox batch_id guard makes the
    sink side idempotent, giving end-to-end exactly-once (the standard
    foreachBatch recipe). Used by tests to show parity with the loop.

    The sink delegates to :meth:`CdcPipeline.apply_batch_df`, so streaming
    batches run the SAME plan as the loop — routing filters, fused
    single-job metadata collect, merge-mode choice, metrics, auto DV
    folding — instead of a separate (slower, 3-4 jobs/batch) code path."""
    pipe = CdcPipeline(spark, config)
    sample = spark.read.parquet(config.feed_path)
    lineages: list[dict] = []

    def sink(batch_df, batch_id: int):
        lineage = pipe.run_batch_df(batch_df, f"ss-{batch_id}")
        if lineage is not None:
            lineages.append(lineage)

    stream = (
        spark.readStream.schema(sample.schema)
        .option("maxFilesPerTrigger", config.max_files_per_batch)
        .parquet(config.feed_path + "/seg=*")
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", config.checkpoint_path + "/ss")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return lineages
