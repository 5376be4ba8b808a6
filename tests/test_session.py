"""Driver-side session helpers: metadata relations built as a JVM
LocalRelation (never a Python-RDD scan) and the locked AQE override."""

import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.plans.inspect import explain_str
from kafka_connect_gcs_spark.session import adaptive_disabled, local_frame
from kafka_connect_gcs_spark.sources.archive import RECORDS_SCHEMA, ArchiveTailer, write_archive
from kafka_connect_gcs_spark.sources.formats import ByteLengthFormat

FMT = ByteLengthFormat(include_keys=True)
AQE = "spark.sql.adaptive.enabled"


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    """Run under both settings of the Arrow conversion conf: the helper's
    path must not depend on it."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, prev)


def assert_local_scan(df):
    plan = explain_str(df, "simple")
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_local_frame_keeps_nulls_and_nested_values(spark, arrow_conf):
    ranges = local_frame(
        spark, [("a", None, "c"), (None, "b", None)], "path string, lo string, hi string"
    )
    assert_local_scan(ranges)
    assert ranges.collect() == [Row(path="a", lo=None, hi="c"), Row(path=None, lo="b", hi=None)]

    recs = local_frame(
        spark, [("t", 1, 7, None, b"v", [{"key": "h", "value": None}])], RECORDS_SCHEMA
    )
    assert_local_scan(recs)
    (r,) = recs.collect()
    assert (r.topic, r.partition, r.offset, r.key, bytes(r.value)) == ("t", 1, 7, None, b"v")
    assert [(h.key, h.value) for h in r.headers] == [("h", None)]


def test_local_frame_empty_rows(spark, arrow_conf):
    empty = local_frame(spark, [], RECORDS_SCHEMA)
    assert_local_scan(empty)
    assert empty.schema == RECORDS_SCHEMA
    assert empty.count() == 0


def test_pipeline_range_relation_is_local(spark, arrow_conf, tmp_path, monkeypatch):
    """The manifest-range relation the pipeline broadcasts into its
    metadata collect is a LocalTableScan."""
    from kafka_connect_gcs_spark.config import EngineConfig
    from kafka_connect_gcs_spark.sources.binlog import BinlogSpec, generate_changes
    from kafka_connect_gcs_spark.streaming import pipeline

    made = []

    def spy(*args, **kwargs):
        made.append(local_frame(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(pipeline, "local_frame", spy)
    pipe = pipeline.CdcPipeline(spark, EngineConfig(
        table_path=str(tmp_path / "table"),
        feed_path=str(tmp_path / "nofeed"),
        checkpoint_path=str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    ))
    changes = generate_changes(spark, BinlogSpec(num_events=300, num_docs=60, seed=5))
    pipe.run_batch_df(changes.where(F.col("delivery_seq") < 150), "b0")
    assert not made  # an empty table has no file ranges to prune
    pipe.run_batch_df(changes.where(F.col("delivery_seq") >= 150), "b1")
    assert made
    for ranges in made:
        assert ranges.columns == ["path", "lo", "hi"]
        assert_local_scan(ranges)


@pytest.mark.parametrize("n_chunks", [2, 7])
def test_archive_poll_decodes_local_plan_in_spread_partitions(
    spark, arrow_conf, tmp_path, n_chunks
):
    """A poll of N chunks decodes over a LocalTableScan of the plan with
    no exchange in front of the decode, in min(N, defaultParallelism)
    partitions."""
    root = str(tmp_path / "bucket")
    rows = [("t", 0, off, None, f"v{off:04d}".encode()) for off in range(80)]
    write_archive(
        spark.createDataFrame(
            rows, "topic string, partition int, offset long, key binary, value binary"
        ),
        root, "2026-08-16", FMT, chunk_threshold=64,
    )
    tailer = ArchiveTailer(spark, root, FMT, max_chunks_per_poll=n_chunks)
    df = tailer.poll()
    plan = explain_str(df, "simple")
    assert_local_scan(df)
    assert "MapInPandas" in plan and "Exchange" not in plan, plan
    want = min(n_chunks, spark.sparkContext.defaultParallelism)
    assert df.rdd.getNumPartitions() == want
    assert df.count() == n_chunks * (64 // len(FMT.encode(None, b"v0000", None)))
    while tailer.poll() is not None:  # drain, releasing every cached poll
        pass


def test_adaptive_disabled_restores_after_error(spark):
    prev = spark.conf.get(AQE)
    with pytest.raises(RuntimeError):
        with adaptive_disabled(spark):
            assert spark.conf.get(AQE) == "false"
            raise RuntimeError("collect failed")
    assert spark.conf.get(AQE) == prev


def test_adaptive_disabled_overlapping_threads_restore_previous(spark):
    """Two overlapping overrides: the second waits for the first, so its
    saved value is the session's, not the first override's "false". An
    unlocked toggle pair would leave AQE disabled here."""
    spark.conf.set(AQE, "true")
    first_in, second_started, first_out = (threading.Event() for _ in range(3))
    seen = []

    def first():
        with adaptive_disabled(spark):
            first_in.set()
            second_started.wait(10)
            time.sleep(0.2)  # let the second thread reach the override
        first_out.set()

    def second():
        first_in.wait(10)
        second_started.set()
        with adaptive_disabled(spark):
            first_out.wait(10)  # stay inside until the first has restored
            seen.append(spark.conf.get(AQE))

    threads = [threading.Thread(target=f) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert seen == ["false"]
    assert spark.conf.get(AQE) == "true"
