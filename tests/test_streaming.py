"""Streaming-tier tests: the applyInPandasWithState tracker and the
end-to-end three-query pipeline (the analogue of the reference's
MiniCluster job tests, jobtest/ValidationJobIntTest.scala).

File streams + foreachBatch + real triggers; scenarios mirror the
reference's four integration scenarios: happy-path complete,
valid+invalid split without terminal notification, threshold-fail, and
terminate-then-ignore.
"""

import json
import os
import time

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.operators.validation import json_validator
from hri_flink_pipeline_core_spark.schemas import (
    BATCH_NOTIFICATION_SCHEMA,
    COUNT_EVENT_SCHEMA,
    HRI_RECORD_SCHEMA,
    Status,
)
from hri_flink_pipeline_core_spark.sources.files import read_table_stream
from hri_flink_pipeline_core_spark.streaming.pipeline import (
    NotificationDim,
    ValidationPipeline,
    parquet_dir_sink,
)
from hri_flink_pipeline_core_spark.streaming.tracker_stream import (
    TRACKER_INPUT_SCHEMA,
    streaming_tracker,
    tag_counts,
    tag_notifications,
)
from tests.streams import drain

TOPIC = "ingest.t1.di.in"


def notif_row(batch_id, status=Status.SEND_COMPLETED, expected=10, threshold=5):
    return Row(
        id=batch_id, name="n", topic=TOPIC, dataType="claims", status=status,
        startDate=None, endDate=None, expectedRecordCount=expected,
        actualRecordCount=None, invalidRecordCount=None,
        invalidThreshold=threshold, failureMessage=None, metadata=None,
    )


def hri_row(batch_id, value=b'{"ok":1}', offset=0):
    return Row(
        key=str(offset).encode(), value=value,
        headers=[Row(key="batchId", value=batch_id.encode())],
        topic=TOPIC, partition=0, offset=offset,
    )


def await_all(queries, timeout_s=120):
    for q in queries:
        q.processAllAvailable()


# --------------------------------------------------------------------------
# streaming tracker
# --------------------------------------------------------------------------

def test_streaming_tracker_threshold_and_overflow(spark, tmp_path):
    """Counts + notifications through the real stateful operator:
    threshold-fail and overflow fire on data arrival (no timer needed)."""
    in_dir = str(tmp_path / "tracker_in")
    ckpt = str(tmp_path / "ckpt")
    out_rows = []

    counts = spark.createDataFrame(
        [Row(batchId="fail-b", isValid=False) for _ in range(5)]
        + [Row(batchId="over-b", isValid=True) for _ in range(4)],
        "batchId string, isValid boolean",
    )
    notifs = spark.createDataFrame(
        [notif_row("fail-b", expected=100), notif_row("over-b", expected=3)],
        BATCH_NOTIFICATION_SCHEMA,
    ).withColumn("offset", F.monotonically_increasing_id())

    tagged = tag_notifications(notifs).unionByName(
        tag_counts(counts).withColumn("seq", F.col("seq") + 1000)
    )
    tagged.write.mode("overwrite").parquet(in_dir)

    stream = read_table_stream(spark, in_dir, TRACKER_INPUT_SCHEMA)
    terminal = streaming_tracker(stream, timeout_ms=300_000)
    q = (
        terminal.writeStream.foreachBatch(
            lambda df, _b: out_rows.extend(df.collect())
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 11)

    by_batch = {r.batchId: r for r in out_rows}
    assert set(by_batch) == {"fail-b", "over-b"}
    assert by_batch["fail-b"].status == Status.FAILED
    assert "invalidThreshold: 5" in by_batch["fail-b"].failureMessage
    assert by_batch["over-b"].status == Status.FAILED
    assert "received too many records" in by_batch["over-b"].failureMessage
    merged = json.loads(by_batch["fail-b"].notification)
    assert merged["dataType"] == "claims"
    assert merged["actualRecordCount"] == 5


def test_streaming_tracker_completion_timer_fires(spark, tmp_path):
    """Processing-time completion: exact count arrives, nothing else —
    the COMPLETED notification must come from the state timeout."""
    in_dir = str(tmp_path / "tracker_in")
    ckpt = str(tmp_path / "ckpt")
    out_rows = []

    counts = spark.createDataFrame(
        [Row(batchId="done-b", isValid=True) for _ in range(3)],
        "batchId string, isValid boolean",
    )
    notifs = spark.createDataFrame(
        [notif_row("done-b", expected=3)], BATCH_NOTIFICATION_SCHEMA
    ).withColumn("offset", F.lit(0).cast("long"))

    tag_notifications(notifs).unionByName(
        tag_counts(counts).withColumn("seq", F.col("seq") + 1000)
    ).write.mode("overwrite").parquet(in_dir)

    stream = read_table_stream(spark, in_dir, TRACKER_INPUT_SCHEMA)
    terminal = streaming_tracker(stream, timeout_ms=2_000)
    q = (
        terminal.writeStream.foreachBatch(
            lambda df, _b: out_rows.extend(df.collect())
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while not out_rows and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()

    assert len(out_rows) == 1
    o = out_rows[0]
    assert o.batchId == "done-b"
    assert o.status == Status.COMPLETED
    assert o.actualRecordCount == 3
    assert o.invalidRecordCount == 0
    assert o.failureMessage is None


# --------------------------------------------------------------------------
# end-to-end pipeline (ValidationJobIntTest parity)
# --------------------------------------------------------------------------

def read_output(spark, root):
    if not os.path.exists(root):
        return []
    dirs = [os.path.join(root, d) for d in os.listdir(root) if d.startswith("batch=")]
    rows = []
    for d in dirs:
        try:
            rows.extend(spark.read.parquet(d).collect())
        except Exception:
            pass
    return rows


def test_pipeline_end_to_end(spark, tmp_path):
    """Happy path + invalid split + terminate-then-ignore in one run:
    records/notifications played through file streams, the dim query, the
    validation query with three-sink fan-out, and the tracker query."""
    work = str(tmp_path)
    rec_dir = os.path.join(work, "records_in")
    notif_dir = os.path.join(work, "notifs_in")
    valid_out = os.path.join(work, "valid")
    invalid_out = os.path.join(work, "invalid")
    counts_out = os.path.join(work, "counts")

    # batch A: 4 records (3 valid JSON + 1 bad) expected=4 -> complete split
    # batch T: terminated -> silently dropped
    # batch U: unknown (no notification) -> invalid
    records = (
        [hri_row("batch-A", offset=i) for i in range(3)]
        + [hri_row("batch-A", value=b"not-json", offset=3)]
        + [hri_row("batch-T", offset=10)]
        + [hri_row("batch-U", offset=20)]
    )
    notifs = [
        notif_row("batch-A", status=Status.STARTED, expected=4),
        notif_row("batch-T", status=Status.TERMINATED),
    ]
    spark.createDataFrame(records, HRI_RECORD_SCHEMA).write.mode(
        "overwrite"
    ).parquet(rec_dir)
    spark.createDataFrame(notifs, BATCH_NOTIFICATION_SCHEMA).withColumn(
        "offset", F.monotonically_increasing_id()
    ).write.mode("overwrite").parquet(notif_dir)

    notif_schema_with_offset = spark.read.parquet(notif_dir).schema

    pipe = ValidationPipeline(
        spark,
        validator=json_validator(),
        records_stream=read_table_stream(spark, rec_dir, HRI_RECORD_SCHEMA),
        notifications_stream=read_table_stream(
            spark, notif_dir, notif_schema_with_offset
        ),
        valid_sink=parquet_dir_sink(valid_out),
        invalid_sink=parquet_dir_sink(invalid_out),
        counts_sink=parquet_dir_sink(counts_out),
        workdir=os.path.join(work, "pipe"),
    )
    try:
        dim = pipe.start_notification_dim(trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)  # dim must exist first
        pipe.start_validation(dim, trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)
    finally:
        pipe.stop()

    valid_rows = read_output(spark, valid_out)
    invalid_rows = read_output(spark, invalid_out)
    count_rows = read_output(spark, counts_out)

    assert len(valid_rows) == 3  # batch-A valid JSON
    failures = sorted(r.failure for r in invalid_rows)
    assert len(invalid_rows) == 2  # bad JSON + unknown batch (T dropped)
    assert any("Invalid JSON" in f for f in failures)
    assert any("Unknown batchId" in f for f in failures)
    # count events only for batch-A's validated records
    assert len(count_rows) == 4
    assert all(r.batchId == "batch-A" for r in count_rows)
    assert sum(1 for r in count_rows if not r.isValid) == 1

    # dim holds the compacted latest-per-batch notifications
    dim_rows = dim.read(spark).collect()
    assert {r.id for r in dim_rows} == {"batch-A", "batch-T"}


def test_pipeline_dim_update_across_batches(spark, tmp_path):
    """Late-arriving COMPLETED notification flips routing for subsequent
    record batches (the reference's post-completion-records-to-invalid
    behavior, README.md:24)."""
    work = str(tmp_path)
    rec_dir = os.path.join(work, "rec")
    notif_dir = os.path.join(work, "notif")
    invalid_out = os.path.join(work, "invalid")
    valid_out = os.path.join(work, "valid")

    os.makedirs(rec_dir), os.makedirs(notif_dir)
    spark.createDataFrame(
        [notif_row("b1", status=Status.STARTED)], BATCH_NOTIFICATION_SCHEMA
    ).withColumn("offset", F.lit(0).cast("long")).write.mode("append").parquet(notif_dir)

    notif_schema = spark.read.parquet(notif_dir).schema
    pipe = ValidationPipeline(
        spark,
        records_stream=read_table_stream(
            spark, rec_dir, HRI_RECORD_SCHEMA, max_files_per_trigger=1
        ),
        notifications_stream=read_table_stream(spark, notif_dir, notif_schema),
        valid_sink=parquet_dir_sink(valid_out),
        invalid_sink=parquet_dir_sink(invalid_out),
        workdir=os.path.join(work, "pipe"),
    )
    try:
        dim = pipe.start_notification_dim(trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)

        # phase 1: batch open -> record is valid
        spark.createDataFrame([hri_row("b1", offset=0)], HRI_RECORD_SCHEMA).write.mode(
            "append"
        ).parquet(rec_dir)
        pipe.start_validation(dim, trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)
        assert len(read_output(spark, valid_out)) == 1

        # phase 2: batch completes; late record must route invalid
        spark.createDataFrame(
            [notif_row("b1", status=Status.COMPLETED)], BATCH_NOTIFICATION_SCHEMA
        ).withColumn("offset", F.lit(1).cast("long")).write.mode("append").parquet(
            notif_dir
        )
        q = pipe.notifications_stream.writeStream.foreachBatch(dim.writer()).option(
            "checkpointLocation", pipe._checkpoint("notification_dim")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

        spark.createDataFrame([hri_row("b1", offset=1)], HRI_RECORD_SCHEMA).write.mode(
            "append"
        ).parquet(rec_dir)
        # replay validation over the new file
        pipe.start_validation(dim, trigger={"availableNow": True})
        pipe.queries[-1].awaitTermination(120)

        late_invalid = read_output(spark, invalid_out)
        assert len(late_invalid) == 1
        assert "already completed" in late_invalid[0].failure
        assert len(read_output(spark, valid_out)) == 1  # unchanged
    finally:
        pipe.stop()


def test_tracker_state_survives_restart_at_most_once(spark, tmp_path):
    """Exactly-once evidence: the isFinished flag lives in the state
    store, so a query RESTART from the checkpoint plus late count events
    must NOT re-emit the terminal notification (Tracker.scala:187-194
    at-most-once discipline under replay/restart)."""
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_rows = []

    notifs = spark.createDataFrame(
        [notif_row("b1", expected=2)], BATCH_NOTIFICATION_SCHEMA
    ).withColumn("offset", F.lit(0).cast("long"))
    counts = spark.createDataFrame(
        [Row(batchId="b1", isValid=True) for _ in range(3)],  # overflow: 3 > 2
        "batchId string, isValid boolean",
    )
    tag_notifications(notifs).unionByName(
        tag_counts(counts).withColumn("seq", F.lit(10).cast("long"))
    ).write.mode("overwrite").parquet(in_dir)

    def run_once(rows):
        stream = read_table_stream(spark, in_dir, TRACKER_INPUT_SCHEMA)
        q = (
            streaming_tracker(stream, timeout_ms=300_000)
            .writeStream.foreachBatch(lambda df, _b: out_rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, rows)

    run_once(4)
    assert len(out_rows) == 1
    assert out_rows[0].status == Status.FAILED  # overflow fail

    # late counts arrive after the query stopped; restart from checkpoint
    late = tag_counts(
        spark.createDataFrame(
            [Row(batchId="b1", isValid=False)], "batchId string, isValid boolean"
        )
    ).withColumn("seq", F.lit(20).cast("long"))
    late.write.mode("append").parquet(in_dir)

    run_once(1)
    assert len(out_rows) == 1  # no duplicate terminal after restart


def test_tracker_runs_at_quarter_parallelism(spark, tmp_path, monkeypatch):
    """The tracker query starts with max(1, defaultParallelism // 4)
    state partitions (the reference's Tracker(par=N/4)) without changing
    the session's shuffle partitions, and a restart from a checkpoint
    first written with 8 partitions keeps 8 and still emits at most one
    terminal notification per batch."""
    from hri_flink_pipeline_core_spark.streaming import pipeline as pipeline_mod

    notif_dir = str(tmp_path / "notif")
    spark.createDataFrame(
        [notif_row("b1", expected=2), notif_row("b2", expected=10, threshold=2)],
        BATCH_NOTIFICATION_SCHEMA,
    ).withColumn("offset", F.lit(0).cast("long")).write.parquet(notif_dir)
    notif_schema = spark.read.parquet(notif_dir).schema

    def write_counts(counts_dir, rows):
        spark.createDataFrame(rows, COUNT_EVENT_SCHEMA).write.mode(
            "append"
        ).parquet(counts_dir)

    def run(workdir, counts_dir, out_rows, rows):
        """One availableNow tracker drain of ``rows`` new input rows;
        returns its state partitions."""
        pipe = ValidationPipeline(
            spark,
            workdir=workdir,
            notification_out_sink=lambda df, _b: out_rows.extend(df.collect()),
        )
        try:
            q = pipe.start_tracker(
                read_table_stream(spark, counts_dir, COUNT_EVENT_SCHEMA),
                read_table_stream(spark, notif_dir, notif_schema),
                trigger={"availableNow": True},
            )
            drain(q, rows)
        finally:
            pipe.stop()
        ops = [
            json.loads(p.json)["stateOperators"][0]["numShufflePartitions"]
            for p in q.recentProgress
        ]
        assert len(set(ops)) == 1, ops
        return ops[0]

    # b1 overflows (3 > 2); b2 has 1 of its 2 threshold invalids
    first = [("b1", True)] * 3 + [("b2", False)]
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")

    # fresh checkpoint: a quarter of the cluster's parallelism
    fresh_rows = []
    fresh_counts = str(tmp_path / "fresh_counts")
    write_counts(fresh_counts, first)
    want = max(1, spark.sparkContext.defaultParallelism // 4)
    assert run(str(tmp_path / "fresh"), fresh_counts, fresh_rows, 6) == want
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
    assert [(r.batchId, r.status) for r in fresh_rows] == [("b1", Status.FAILED)]

    # a checkpoint first written with 8 partitions keeps them on restart
    rows = []
    counts = str(tmp_path / "counts")
    workdir = str(tmp_path / "pipe")
    write_counts(counts, first)
    with monkeypatch.context() as m:
        m.setattr(pipeline_mod, "tracker_partitions", lambda _spark: 8)
        assert run(workdir, counts, rows, 6) == 8
    # late count for finished b1; b2 reaches its threshold
    write_counts(counts, [("b1", False), ("b2", False)])
    assert run(workdir, counts, rows, 2) == 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_before
    assert sorted((r.batchId, r.status) for r in rows) == [
        ("b1", Status.FAILED),
        ("b2", Status.FAILED),
    ]
