"""Block-gzip archive layout: round-trip, chunk index, resume, routing —
mirrors the reference's GCSFilesReaderTest + system_test/run.py goldens.

Reference invariants ported:
* in-order read across files/partitions (GCSFilesReaderTest.java:62-83)
* resume mid-file from offsets → skipped5..skipped9 (:86-107)
* resume at EOF skips the file (:110-125)
* keyless/values-only mode (:151-168)
* restart produces ...-000000000100.gz, no duplicates (run.py:250-257)
* cursor names the latest index key (run.py:214-218)
* chunk rotation bounded by uncompressed threshold + exact index stats
  (BlockGZIPFileWriter.java:191-200,242-270)
"""

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.sources.archive import (
    ChunksIndex,
    cursor_key,
    plan_archive_scan,
    read_archive,
    read_cursor,
    write_archive,
)
from kafka_connect_gcs_spark.sources.formats import ByteLengthFormat

FMT = ByteLengthFormat(include_keys=True)


def _records_df(spark, topic, partition, first, n, with_headers=True):
    rows = []
    for i in range(n):
        off = first + i
        hdrs = (
            [{"key": "h1", "value": bytes([off % 256, 1])},
             {"key": "h2", "value": None}]
            if with_headers
            else []
        )
        rows.append(
            (topic, partition, off, f"k{off}".encode(), f"v{off}-{topic}".encode(), hdrs)
        )
    return spark.createDataFrame(
        rows,
        "topic string, partition int, offset long, key binary, value binary, "
        "headers array<struct<key:string, value:binary>>",
    )


def _collect(df):
    return sorted(
        (
            r.topic,
            r.partition,
            r.offset,
            bytes(r.key) if r.key is not None else None,
            bytes(r.value) if r.value is not None else None,
            tuple(
                (h["key"], None if h["value"] is None else bytes(h["value"]))
                for h in (r.headers or [])
            ),
        )
        for r in df.collect()
    )


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "bucket" / "prefix")


def test_roundtrip_multi_topic_partition(spark, root):
    src = (
        _records_df(spark, "alpha", 0, 0, 25)
        .unionByName(_records_df(spark, "alpha", 1, 0, 10))
        .unionByName(_records_df(spark, "beta", 0, 5, 7))
    )
    manifest = write_archive(src, root, "2026-08-16", FMT, chunk_threshold=256)
    assert {(m["topic"], m["partition"]) for m in manifest} == {
        ("alpha", 0), ("alpha", 1), ("beta", 0)
    }
    got = read_archive(spark, root, FMT)
    assert _collect(got) == _collect(src)
    # layout goldens: zero-padded names under the date prefix
    alpha0 = [m for m in manifest if m["topic"] == "alpha" and m["partition"] == 0][0]
    assert alpha0["data_key"] == "2026-08-16/alpha-00000-000000000000.gz"
    beta0 = [m for m in manifest if m["topic"] == "beta"][0]
    assert beta0["data_key"] == "2026-08-16/beta-00000-000000000005.gz"


def test_chunk_rotation_and_index_stats(spark, root):
    write_archive(
        _records_df(spark, "t", 0, 0, 50, with_headers=False),
        root, "2026-08-16", FMT, chunk_threshold=200,
    )
    ipath = os.path.join(root, "2026-08-16/t-00000-000000000000.index.json")
    index = ChunksIndex.from_json(json.load(open(ipath)))
    assert len(index.chunks) > 1  # rotation happened
    assert sum(c.num_records for c in index.chunks) == 50
    assert index.last_offset() == 49
    # byte ranges tile the file exactly and each chunk gunzips alone
    data = open(os.path.join(root, "2026-08-16/t-00000-000000000000.gz"), "rb").read()
    at = 0
    for c in index.chunks:
        assert c.byte_offset == at
        member = data[c.byte_offset : c.byte_offset + c.byte_length]
        assert len(gzip.decompress(member)) == c.byte_length_uncompressed
        assert c.byte_length_uncompressed <= 200 + 50  # ≤ threshold + one frame
        at += c.byte_length
    assert at == len(data) == index.total_size()
    # the whole concatenation is still one valid gzip stream
    assert len(gzip.decompress(data)) == sum(
        c.byte_length_uncompressed for c in index.chunks
    )
    # point lookup (ChunksIndex.java:34-37)
    c = index.chunk_containing(37)
    assert c.first_record_offset <= 37 < c.first_record_offset + c.num_records


def test_resume_mid_file_reads_tail_only(spark, root):
    write_archive(
        _records_df(spark, "t", 0, 0, 10),
        root, "2026-08-16", FMT, chunk_threshold=128,
    )
    key = "2026-08-16/t-00000-000000000000.gz"
    got = read_archive(spark, root, FMT, offsets={("t", 0): (key, 4)})
    offs = sorted(r.offset for r in got.collect())
    assert offs == [5, 6, 7, 8, 9]  # the reference's skipped5..skipped9


def test_resume_at_eof_skips_file(spark, root):
    write_archive(_records_df(spark, "t", 0, 0, 10), root, "2026-08-16", FMT)
    key = "2026-08-16/t-00000-000000000000.gz"
    got = read_archive(spark, root, FMT, offsets={("t", 0): (key, 9)})
    assert got.count() == 0
    # and a later file still reads fully
    write_archive(_records_df(spark, "t", 0, 10, 5), root, "2026-08-16", FMT)
    got = read_archive(spark, root, FMT, offsets={("t", 0): (key, 9)})
    assert sorted(r.offset for r in got.collect()) == [10, 11, 12, 13, 14]


def test_restart_next_file_no_duplicates(spark, root):
    """run.py:250-257: after a restart the next flush lands in
    ...-000000000100.gz and a full re-read yields no duplicate offsets."""
    write_archive(_records_df(spark, "t", 0, 0, 100), root, "2026-08-16", FMT)
    m2 = write_archive(_records_df(spark, "t", 0, 100, 20), root, "2026-08-16", FMT)
    assert m2[0]["data_key"] == "2026-08-16/t-00000-000000000100.gz"
    got = read_archive(spark, root, FMT)
    offs = [r.offset for r in got.collect()]
    assert sorted(offs) == list(range(120))
    # replaying the same flush overwrites the same key — still no dupes (A21)
    write_archive(_records_df(spark, "t", 0, 100, 20), root, "2026-08-16", FMT)
    assert sorted(r.offset for r in read_archive(spark, root, FMT).collect()) == list(
        range(120)
    )


def test_cursor_points_at_latest_index(spark, root):
    write_archive(_records_df(spark, "t", 0, 0, 10), root, "2026-08-16", FMT)
    assert read_cursor(root, "t", 0) == "2026-08-16/t-00000-000000000000.index.json"
    write_archive(_records_df(spark, "t", 0, 10, 10), root, "2026-08-17", FMT)
    assert read_cursor(root, "t", 0) == "2026-08-17/t-00000-000000000010.index.json"
    assert os.path.exists(os.path.join(root, cursor_key("t", 0)))


def test_values_only_mode(spark, root):
    fmt = ByteLengthFormat(include_keys=False)
    src = _records_df(spark, "t", 0, 0, 8, with_headers=False)
    write_archive(src, root, "2026-08-16", fmt)
    got = read_archive(spark, root, fmt)
    rows = sorted((r.offset, bytes(r.value), r.key) for r in got.collect())
    assert [o for o, _, _ in rows] == list(range(8))
    assert all(k is None for _, _, k in rows)  # keyless like the reference
    assert rows[3][1] == b"v3-t"


def test_topic_partition_filters_and_marker(spark, root):
    src = (
        _records_df(spark, "keep", 0, 0, 5)
        .unionByName(_records_df(spark, "keep", 1, 0, 5))
        .unionByName(_records_df(spark, "drop", 0, 0, 5))
    )
    write_archive(src, root, "2026-08-16", FMT)
    got = read_archive(spark, root, FMT, topics={"keep"}, partitions={1})
    assert {(r.topic, r.partition) for r in got.collect()} == {("keep", 1)}
    got = read_archive(spark, root, FMT, topics_ignore={"drop"})
    assert {r.topic for r in got.collect()} == {"keep"}
    # start marker: lexicographic skip of everything below (A1 startOffset)
    plan = plan_archive_scan(root, start_marker="2026-08-16/keep-00001")
    assert {p["topic"] for p in plan} == {"keep"}
    assert {p["partition"] for p in plan} == {1}


def test_chunk_parallel_plan(spark, root):
    """Every chunk is its own plan row — the scan parallelism unit (the
    100 TB story: chunk-count tasks, bounded memory each)."""
    write_archive(
        _records_df(spark, "t", 0, 0, 60, with_headers=False),
        root, "2026-08-16", FMT, chunk_threshold=128,
    )
    plan = plan_archive_scan(root)
    assert len(plan) > 4
    assert len({(p["byte_offset"], p["byte_length"]) for p in plan}) == len(plan)


def test_tailer_polls_incrementally_with_metadata_offsets(spark, root):
    """ArchiveTailer = the reference's poll loop: each poll returns only
    new records; offsets advance from index metadata; a bounded poll
    (max_chunks_per_poll) never skips unread chunks; a fresh tailer resumes
    from a stored offsets map exactly."""
    from kafka_connect_gcs_spark.sources.archive import ArchiveTailer

    write_archive(
        _records_df(spark, "t", 0, 0, 30, with_headers=False),
        root, "2026-08-16", FMT, chunk_threshold=128,
    )
    tail = ArchiveTailer(spark, root, FMT, max_chunks_per_poll=2)
    seen = []
    while True:
        df = tail.poll()
        if df is None:
            break
        batch = sorted(r.offset for r in df.collect())
        assert not (set(batch) & set(seen)), "no duplicates across polls"
        seen += batch
    assert seen == list(range(30))
    assert len(seen) == 30
    # new flush appears → next poll picks up exactly the new records
    write_archive(
        _records_df(spark, "t", 0, 30, 5, with_headers=False),
        root, "2026-08-16", FMT,
    )
    df = tail.poll()
    assert sorted(r.offset for r in df.collect()) == [30, 31, 32, 33, 34]
    assert tail.poll() is None  # caught up
    # resume a brand-new tailer from the stored offsets map (A27)
    tail2 = ArchiveTailer(spark, root, FMT, offsets=dict(tail.offsets))
    assert tail2.poll() is None


def test_delimited_format_archive_roundtrip(spark, root):
    """The reference's default text format works through the same archive
    layer: trailing-delimiter frames inside block-gzip chunks."""
    from kafka_connect_gcs_spark.sources.formats import (
        DelimitedConfig,
        TrailingDelimiterFormat,
    )

    fmt = TrailingDelimiterFormat(DelimitedConfig(key_delimiter="\t"))
    src = _records_df(spark, "txt", 0, 0, 12, with_headers=False)
    write_archive(src, root, "2026-08-16", fmt, chunk_threshold=96)
    got = read_archive(spark, root, fmt)
    rows = sorted((r.offset, bytes(r.key), bytes(r.value)) for r in got.collect())
    assert [(o, k, v) for o, k, v in rows] == [
        (i, f"k{i}".encode(), f"v{i}-txt".encode()) for i in range(12)
    ]


def test_block_writer_invariants_property():
    """No-Spark property test of _write_block_gzip: for random frame sizes
    and thresholds, chunks tile the file, every chunk stays within
    threshold + one frame, record counts sum, and per-chunk gunzip equals
    the frame concatenation."""
    import gzip as gz
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_connect_gcs_spark.sources.archive import _write_block_gzip

    @settings(max_examples=40, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=40),
        threshold=st.integers(min_value=1, max_value=256),
        first=st.integers(min_value=0, max_value=10**9),
    )
    def check(sizes, threshold, first):
        from kafka_connect_gcs_spark.sources.store import PosixStore

        frames = [bytes([i % 256]) * s for i, s in enumerate(sizes)]
        with tempfile.TemporaryDirectory() as d:
            key = "t-00000-000000000000.gz"
            index = _write_block_gzip(PosixStore(d), key, frames, first, threshold)
            data = open(os.path.join(d, key), "rb").read()
        at, rec_at = 0, 0
        for c in index.chunks:
            assert c.byte_offset == at
            member = data[at : at + c.byte_length]
            raw = gz.decompress(member)
            assert len(raw) == c.byte_length_uncompressed
            assert c.first_record_offset == first + rec_at
            want = b"".join(frames[rec_at : rec_at + c.num_records])
            assert raw == want
            # rotation bound: a chunk exceeds the threshold only when a
            # single frame does
            if c.num_records > 1:
                assert (
                    len(raw) - len(frames[rec_at + c.num_records - 1]) <= threshold
                )
            at += c.byte_length
            rec_at += c.num_records
        assert at == len(data)
        assert rec_at == len(frames)
        assert index.last_offset() == first + len(frames) - 1

    check()


def test_archive_to_cdc_bridge_end_to_end(spark, root, tmp_path):
    """The switch-over story: change events archived as JSON values by the
    reference connector flow through ArchiveTailer → decode_change_events →
    the SAME CDC batch path, landing in the icebox table exactly-once.
    Final state matches the DuckDB LWW replay; re-ingesting from the same
    offsets is a committed no-op."""
    import duckdb
    from pyspark.sql import Window

    from kafka_connect_gcs_spark.config import EngineConfig
    from kafka_connect_gcs_spark.operators.merge import read_state
    from kafka_connect_gcs_spark.sources.archive import (
        ArchiveTailer,
        ingest_archive,
    )
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

    ch = generate_changes(
        spark,
        BinlogSpec(num_events=4000, num_docs=600, num_partitions=3, seed=77,
                   duplicate_fraction=0.1, delete_fraction=0.15,
                   shuffle_window=150),
    ).cache()
    ch.write.parquet(str(tmp_path / "truth"))
    payload = F.to_json(
        F.struct("doc_id", "offset", "op", "tokens", "n_tok", "source")
    )
    w = Window.partitionBy("part").orderBy("delivery_seq")
    recs = ch.select(
        F.lit("changes").alias("topic"),
        F.col("part").cast("int").alias("partition"),
        (F.row_number().over(w) - 1).cast("long").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
    )
    # two flushes per partition, like two Connect offset commits
    half = recs.where(F.col("offset") < 500)
    rest = recs.where(F.col("offset") >= 500)
    write_archive(half, root, "2026-08-16", FMT, chunk_threshold=64 * 1024)
    write_archive(rest, root, "2026-08-16", FMT, chunk_threshold=64 * 1024)

    cfg = EngineConfig(
        table_path=str(tmp_path / "table"),
        feed_path=str(tmp_path / "nofeed"),
        checkpoint_path=str(tmp_path / "ckpt"),
        shuffle_partitions=8,
    )
    pipe = CdcPipeline(spark, cfg)
    tailer = ArchiveTailer(spark, root, FMT, max_chunks_per_poll=4)
    lineages = ingest_archive(pipe, tailer)
    assert len(lineages) >= 2  # bounded polls → several batches

    got = sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source, r.last_offset)
        for r in read_state(pipe.table).collect()
    )
    rows = duckdb.sql(f"""
        WITH ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY "offset" DESC, delivery_seq DESC) rn
          FROM read_parquet('{tmp_path}/truth/*.parquet'))
        SELECT doc_id, tokens, n_tok, source, "offset"
        FROM ranked WHERE rn=1 AND op<>'D' ORDER BY doc_id
    """).fetchall()
    want = sorted((r[0], tuple(r[1]), r[2], r[3], r[4]) for r in rows)
    assert got == want
    # replay from the initial offsets: identical batch_ids → committed no-ops
    v = pipe.table.current_version()
    again = ingest_archive(pipe, ArchiveTailer(spark, root, FMT, max_chunks_per_poll=4))
    assert all(ln.get("skipped") for ln in again)
    assert pipe.table.current_version() == v
    # and a caught-up tailer ingests nothing
    assert ingest_archive(pipe, ArchiveTailer(spark, root, FMT, offsets=dict(tailer.offsets))) == []


def test_ingest_archive_releases_cached_polls(spark, root, tmp_path):
    """Each poll's decode is cached once and released by the next poll, so
    draining an archive — including an indexless file, whose last offset
    is learned from the cached decode — leaves no persisted RDD behind."""
    from kafka_connect_gcs_spark.config import EngineConfig
    from kafka_connect_gcs_spark.sources.archive import (
        ArchiveTailer,
        index_key_for,
        ingest_archive,
    )
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

    def flush(first, n):
        rows = [
            ("changes", 0, off, None, json.dumps({
                "doc_id": f"d{off % 40:03d}", "offset": off, "op": "I",
                "tokens": [off % 50, 1], "n_tok": 2, "source": "s",
            }).encode())
            for off in range(first, first + n)
        ]
        return write_archive(
            spark.createDataFrame(
                rows, "topic string, partition int, offset long, key binary, "
                "value binary",
            ),
            root, "2026-08-16", FMT, chunk_threshold=2048,
        )

    flush(0, 120)
    (second,) = flush(120, 60)
    os.remove(os.path.join(root, index_key_for(second["data_key"])))

    pipe = CdcPipeline(spark, EngineConfig(
        table_path=str(tmp_path / "table"),
        feed_path=str(tmp_path / "nofeed"),
        checkpoint_path=str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    ))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    tailer = ArchiveTailer(spark, root, FMT, max_chunks_per_poll=3)
    lineages = ingest_archive(pipe, tailer)
    assert len(lineages) >= 3
    assert sum(ln["events_in"] for ln in lineages) == 180
    assert tailer.offsets[("changes", 0)] == (second["data_key"], 179)
    assert jsc.getPersistentRDDs().size() == before
    # a caught-up poll over the consumed indexless file caches nothing
    assert tailer.poll() is None
    assert jsc.getPersistentRDDs().size() == before


def test_tail_archive_forever_picks_up_new_flushes(spark, root, tmp_path):
    """A28 over archives: the poll loop drains, idles, and catches a flush
    that lands between polls — exactly-once, no duplicates."""
    from kafka_connect_gcs_spark.config import EngineConfig
    from kafka_connect_gcs_spark.operators.merge import read_state
    from kafka_connect_gcs_spark.sources.archive import (
        ArchiveTailer,
        tail_archive_forever,
    )
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline
    from pyspark.sql import Window

    ch = generate_changes(
        spark, BinlogSpec(num_events=1200, num_docs=300, num_partitions=2, seed=55)
    ).cache()
    payload = F.to_json(F.struct("doc_id", "offset", "op", "tokens", "n_tok", "source"))
    w = Window.partitionBy("part").orderBy("delivery_seq")
    recs = ch.select(
        F.lit("changes").alias("topic"),
        F.col("part").cast("int").alias("partition"),
        (F.row_number().over(w) - 1).cast("long").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
    ).cache()
    write_archive(recs.where(F.col("offset") < 300), root, "2026-08-16", FMT)

    pipe = CdcPipeline(
        spark,
        EngineConfig(
            table_path=str(tmp_path / "t"), feed_path=str(tmp_path / "nf"),
            checkpoint_path=str(tmp_path / "c"), shuffle_partitions=8,
        ),
    )
    tailer = ArchiveTailer(spark, root, FMT)
    sleeps = []

    def fake_sleep(s):
        sleeps.append(s)
        if len(sleeps) == 1:  # a new flush lands while the loop idles
            write_archive(
                recs.where(F.col("offset") >= 300), root, "2026-08-16", FMT
            )

    lineages = tail_archive_forever(
        pipe, tailer, poll_interval_s=0.01,
        stop_after_idle_polls=2, sleep_fn=fake_sleep,
    )
    assert len(lineages) >= 2 and sleeps  # idled at least once mid-stream
    total = sum(ln["events_in"] for ln in lineages)
    assert total == ch.count()
    assert read_state(pipe.table).count() > 0


def test_export_state_roundtrips_through_archive(spark, root, tmp_path):
    """Sink direction: table state → reference-layout archive → re-ingest
    into a FRESH table reproduces the exact state (tokens, offsets and
    all) — full bidirectional interop."""
    from kafka_connect_gcs_spark.config import EngineConfig
    from kafka_connect_gcs_spark.operators.merge import read_state
    from kafka_connect_gcs_spark.sources.archive import (
        ArchiveTailer,
        export_state_to_archive,
        ingest_archive,
    )
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, write_feed
    from kafka_connect_gcs_spark.streaming.pipeline import CdcPipeline

    feed = str(tmp_path / "feed")
    write_feed(
        spark,
        BinlogSpec(num_events=3000, num_docs=500, num_partitions=3, seed=99,
                   delete_fraction=0.1),
        feed, 3,
    )
    cfg = EngineConfig(
        table_path=str(tmp_path / "t1"), feed_path=feed,
        checkpoint_path=str(tmp_path / "c1"), shuffle_partitions=8,
    )
    pipe = CdcPipeline(spark, cfg)
    pipe.run_available()
    want = sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source, r.last_offset)
        for r in read_state(pipe.table).collect()
    )
    manifest = export_state_to_archive(pipe.table, root, "2026-08-16")
    assert {m["topic"] for m in manifest} == {"snapshot"}
    cfg2 = EngineConfig(
        table_path=str(tmp_path / "t2"), feed_path=str(tmp_path / "nofeed"),
        checkpoint_path=str(tmp_path / "c2"), shuffle_partitions=8,
    )
    pipe2 = CdcPipeline(spark, cfg2)
    ingest_archive(pipe2, ArchiveTailer(spark, root, FMT))
    got = sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source, r.last_offset)
        for r in read_state(pipe2.table).collect()
    )
    assert got == want


def test_corrupt_chunk_raises_with_coordinates(spark, root):
    """A truncated/garbled data file fails loudly with chunk coordinates —
    the reference's DataException('Corrupt record at …') analog, not a
    silent partial read."""
    from kafka_connect_gcs_spark.sources.formats import CorruptRecord

    write_archive(_records_df(spark, "t", 0, 0, 10), root, "2026-08-16", FMT)
    path = os.path.join(root, "2026-08-16/t-00000-000000000000.gz")
    blob = open(path, "rb").read()
    open(path, "wb").write(blob[: len(blob) // 2])  # truncate mid-chunk
    with pytest.raises(Exception) as ei:
        read_archive(spark, root, FMT).collect()
    assert "Corrupt" in str(ei.value) or "CorruptRecord" in str(ei.value), str(
        ei.value
    )[:500]
    assert CorruptRecord is not None


def test_header_chunk_is_skipped_by_readers(spark, root):
    write_archive(
        _records_df(spark, "t", 0, 0, 6),
        root, "2026-08-16", FMT, header_bytes=b"FILEHEADER\n",
    )
    index = ChunksIndex.from_json(
        json.load(open(os.path.join(root, "2026-08-16/t-00000-000000000000.index.json")))
    )
    assert index.chunks[0].num_records == 0  # A30 header chunk
    got = read_archive(spark, root, FMT)
    assert sorted(r.offset for r in got.collect()) == [0, 1, 2, 3, 4, 5]


def test_write_archive_rejects_non_dense_offsets(spark, root):
    """The layout reconstructs offsets by position — gaps must fail loudly,
    not silently renumber."""
    rows = [("t", 0, o, b"k", b"v") for o in (0, 1, 5, 6)]  # gap at 2-4
    df = spark.createDataFrame(
        rows, "topic string, partition int, offset long, key binary, value binary"
    )
    with pytest.raises(Exception) as ei:
        write_archive(df, root, "2026-08-16", FMT)
    assert "dense" in str(ei.value)


def test_tailer_per_partition_start_marker(spark, root):
    """A stored offset wins for ITS partition only; a partition without one
    still honors gcs.start.marker (Connect offsets are per partition)."""
    from kafka_connect_gcs_spark.sources.archive import ArchiveTailer

    write_archive(_records_df(spark, "a", 0, 0, 10), root, "2026-08-16", FMT)
    write_archive(_records_df(spark, "b", 0, 0, 10), root, "2026-08-17", FMT)
    akey = "2026-08-16/a-00000-000000000000.gz"
    tail = ArchiveTailer(
        spark, root, FMT,
        offsets={("a", 0): (akey, 4)},
        start_marker="2026-08-17/",  # below: only topic a's stored offset
    )
    df = tail.poll()
    got = {(r.topic, r.offset) for r in df.collect()}
    # topic a resumes from its offset (marker ignored for it);
    # topic b starts at the marker (its whole file is above it)
    assert got == {("a", o) for o in range(5, 10)} | {("b", o) for o in range(10)}


def test_pluggable_io_filter_roundtrip(spark, root):
    """A9: a non-gzip chunk codec round-trips through writer, reader, and
    tailer; the default gzip reader must FAIL on the obfuscated bytes
    (proving the filter actually transformed the stored chunks)."""
    from kafka_connect_gcs_spark.sources.archive import (
        ArchiveTailer,
        read_archive,
        write_archive,
    )

    class XorGzipFilter:
        """Test stand-in for an encryption filter: gzip then XOR-obfuscate
        (GCSFilesReader.java:413-420's InputFilter hook lets users inject
        decryption between GET and parse). Defined locally so cloudpickle
        ships it by value to executors, like a user's ad-hoc filter."""

        def __init__(self, key: int = 0x5A):
            self.key = key

        def encode(self, raw: bytes) -> bytes:
            import gzip as _g

            return bytes(b ^ self.key for b in _g.compress(raw, mtime=0))

        def decode(self, blob: bytes) -> bytes:
            import gzip as _g

            return _g.decompress(bytes(b ^ self.key for b in blob))

    filt = XorGzipFilter()
    src = _records_df(spark, "enc", 0, 0, 40)
    write_archive(src, root, "2026/08/17", chunk_threshold=128, io_filter=filt)

    got = _collect(read_archive(spark, root, io_filter=filt))
    assert got == _collect(src)

    with pytest.raises(Exception) as ei:
        read_archive(spark, root).collect()  # default gzip can't parse
    assert "Corrupt" in str(ei.value), str(ei.value)[:300]

    tailer = ArchiveTailer(spark, root, io_filter=filt)
    first = tailer.poll()
    assert first is not None and first.count() == 40
    assert tailer.poll() is None
    # resume semantics unchanged under a custom filter
    more = _records_df(spark, "enc", 0, 40, 5)
    write_archive(more, root, "2026/08/17", chunk_threshold=128, io_filter=filt)
    nxt = tailer.poll()
    assert sorted(r.offset for r in nxt.collect()) == list(range(40, 45))
