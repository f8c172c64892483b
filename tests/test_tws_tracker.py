"""transformWithStateInPandas tracker (streaming/tws_tracker.py).

The TWS Python runtime needs protobuf + RocksDB state stores; where the
runtime is unavailable the processor is still fully exercisable through
the StatefulProcessor contract with a fake handle — the same way the
reference drives its Tracker through a KeyedCoProcessFunction test
harness with manual time (TrackerTest.scala:46-47,203). Scenarios below
mirror TrackerTest: threshold-fail, overflow-fail, timer completion,
recount-on-timer, at-most-once, TTL handled by the runtime (here: the
fake verifies the ttlDurationMs plumbing).
"""

import json
import time

import pandas as pd
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from hri_flink_pipeline_core_spark.schemas import BATCH_NOTIFICATION_SCHEMA, Status
from hri_flink_pipeline_core_spark.operators.tracker import STATE_TTL_MS
from hri_flink_pipeline_core_spark.streaming.tracker_stream import (
    TRACKER_INPUT_SCHEMA,
    tag_counts,
    tag_notifications,
)
from hri_flink_pipeline_core_spark.streaming.tws_tracker import (
    ROCKSDB_PROVIDER_CONF,
    TWS_RUNTIME_AVAILABLE,
    BatchTrackerProcessor,
    streaming_tracker_auto,
    streaming_tracker_tws,
    tws_runtime_available,
)
from tests.streams import drain

TOPIC = "ingest.t1.di.in"


# --------------------------------------------------------------------------
# fake handle harness
# --------------------------------------------------------------------------

class FakeValueState:
    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, new_value):
        self.value = tuple(new_value)

    def clear(self):
        self.value = None


class FakeHandle:
    def __init__(self):
        self.states = {}
        self.ttls = {}
        self.timers = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        self.ttls[name] = ttlDurationMs
        return self.states.setdefault(name, FakeValueState())

    def registerTimer(self, ts):
        self.timers.add(ts)

    def deleteTimer(self, ts):
        self.timers.discard(ts)

    def listTimers(self):
        return iter(list(self.timers))


class FakeTimerValues:
    def __init__(self, now_ms):
        self.now_ms = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self.now_ms

    def getCurrentWatermarkInMs(self):
        return -1


class FakeExpiredTimerInfo:
    def __init__(self, ts):
        self.ts = ts

    def getExpiryTimeInMs(self):
        return self.ts


class Harness:
    """Manual-clock driver: feed rows, advance time, collect outputs —
    the TrackerTest.setProcessingTime(...) idiom."""

    def __init__(self, timeout_ms=300_000):
        self.proc = BatchTrackerProcessor(timeout_ms=timeout_ms)
        self.handle = FakeHandle()
        self.proc.init(self.handle)
        self.now = 0
        self.outputs = []

    def feed(self, key, rows: list[dict]):
        pdf = pd.DataFrame(
            rows, columns=["batchId", "kind", "isValid", "notification", "seq"]
        )
        for out in self.proc.handleInputRows((key,), iter([pdf]), FakeTimerValues(self.now)):
            self.outputs.extend(out.to_dict("records"))

    def set_time(self, now_ms):
        self.now = now_ms
        for ts in sorted(self.handle.listTimers()):
            if ts <= now_ms:
                self.handle.deleteTimer(ts)
                for out in self.proc.handleExpiredTimer(
                    (None,), FakeTimerValues(now_ms), FakeExpiredTimerInfo(ts)
                ):
                    self.outputs.extend(out.to_dict("records"))


def notif(batch_id, status=Status.SEND_COMPLETED, expected=10, threshold=5):
    return {
        "batchId": batch_id,
        "kind": "notif",
        "isValid": None,
        "notification": json.dumps(
            {
                "id": batch_id,
                "status": status,
                "expectedRecordCount": expected,
                "invalidThreshold": threshold,
                "dataType": "claims",
            }
        ),
        "seq": 0,
    }


def count(batch_id, is_valid, seq):
    return {
        "batchId": batch_id,
        "kind": "count",
        "isValid": is_valid,
        "notification": None,
        "seq": seq,
    }


# --------------------------------------------------------------------------
# processor-contract scenarios (TrackerTest parity)
# --------------------------------------------------------------------------

def test_state_declared_with_native_ttl():
    h = Harness()
    assert h.handle.ttls == {"batchState": STATE_TTL_MS}


def test_threshold_fail_on_arrival():
    h = Harness()
    h.feed("b1", [notif("b1", expected=100, threshold=3)])
    h.feed("b1", [count("b1", False, s) for s in range(1, 4)])
    assert len(h.outputs) == 1
    o = h.outputs[0]
    assert o["status"] == Status.FAILED
    assert "invalidThreshold: 3" in o["failureMessage"]
    assert o["invalidRecordCount"] == 3
    # terminal emission does not arm a completion timer
    assert h.handle.timers == set()


def test_overflow_fail_on_arrival():
    h = Harness()
    h.feed("b1", [notif("b1", expected=2)])
    h.feed("b1", [count("b1", True, s) for s in range(1, 4)])
    (o,) = h.outputs
    assert o["status"] == Status.FAILED
    assert "received too many records, actualRecordCount: 3 > expectedRecordCount: 2" in o[
        "failureMessage"
    ]


def test_completion_via_timer_and_rearm():
    h = Harness(timeout_ms=1_000)
    h.feed("b1", [notif("b1", expected=2)])
    h.feed("b1", [count("b1", True, 1)])
    assert h.handle.timers == set()  # 1 of 2: incomplete, no timer
    h.now = 500
    h.feed("b1", [count("b1", True, 2)])
    assert h.handle.timers == {1_500}  # armed from lastModified
    # late re-check re-arms (latest-wins) instead of stacking timers
    h.now = 700
    h.feed("b1", [notif("b1", expected=2)])
    assert h.handle.timers == {1_700}
    h.set_time(1_699)
    assert h.outputs == []
    h.set_time(1_700)
    (o,) = h.outputs
    assert o["status"] == Status.COMPLETED
    assert o["actualRecordCount"] == 2
    assert o["failureMessage"] is None
    # at-most-once: another timer fire emits nothing
    h.handle.registerTimer(2_000)
    h.set_time(2_000)
    assert len(h.outputs) == 1


def test_timer_revalidates_with_current_counters():
    """Records that arrive between arming and firing disarm completion
    (TrackerTest.scala 'records after complete' family)."""
    h = Harness(timeout_ms=1_000)
    h.feed("b1", [notif("b1", expected=1), count("b1", True, 1)])
    assert h.handle.timers == {1_000}
    h.now = 100
    h.feed("b1", [count("b1", True, 2)])  # now overflow -> FAILED at arrival
    (o,) = h.outputs
    assert o["status"] == Status.FAILED
    h.set_time(5_000)  # any stale timer must not emit a second terminal
    assert len(h.outputs) == 1


def test_two_batches_isolated():
    # the fake handle holds one state cell; the real runtime keys it, so
    # isolation is modeled with one harness per key
    ha, hb = Harness(), Harness()
    ha.feed("a", [notif("a", expected=100, threshold=1), count("a", False, 1)])
    hb.feed("b", [notif("b", expected=100, threshold=9)])
    hb.feed("b", [count("b", False, 1)])
    assert [o["batchId"] for o in ha.outputs] == ["a"]
    assert hb.outputs == []


def test_counts_before_notification_are_held():
    h = Harness()
    h.feed("b1", [count("b1", True, 1), count("b1", False, 2)])
    assert h.outputs == []
    h.feed("b1", [notif("b1", expected=2, threshold=5)])
    assert h.handle.timers != set()  # complete -> timer armed, counters kept
    h.set_time(h.now + 300_000)
    (o,) = h.outputs
    assert o["status"] == Status.COMPLETED
    assert o["actualRecordCount"] == 2
    assert o["invalidRecordCount"] == 1


def test_terminated_batch_never_threshold_fails():
    h = Harness()
    h.feed("b1", [notif("b1", status=Status.TERMINATED, expected=5, threshold=1)])
    h.feed("b1", [count("b1", False, 1), count("b1", False, 2)])
    assert h.outputs == []


# --------------------------------------------------------------------------
# runtime integration — never skips: runs TWS where its protobuf wire
# dependency exists, else the applyInPandasWithState fallback with
# identical semantics (streaming_tracker_auto dispatch)
# --------------------------------------------------------------------------

def test_runtime_gate_detects_exact_missing_dependency():
    """The gate must mirror ground truth: TWS's Python runner imports
    pyspark.sql.streaming.proto.StateMessage_pb2, whose only external
    requirement is the google.protobuf runtime. If that import works the
    gate must be open; if it raises ImportError the gate must be closed
    for exactly that reason (not RocksDB, not the ABC — those exist in
    pyspark 4.1.2)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False
    assert tws_runtime_available() is have_protobuf
    assert TWS_RUNTIME_AVAILABLE is have_protobuf
    # the ABC half of the gate is satisfied in this pyspark
    from hri_flink_pipeline_core_spark.streaming import tws_tracker

    assert tws_tracker._HAVE_ABC is True


def test_tracker_end_to_end_best_runtime(spark, tmp_path):
    """Threshold-fail scenario end-to-end in streaming mode through
    whichever runtime this environment supports. With protobuf present
    this drives transformWithStateInPandas (native TTL + timers, RocksDB
    stores); without it, the applyInPandasWithState fallback — the
    dispatch itself is the product surface under test."""
    from hri_flink_pipeline_core_spark.sources.files import read_table_stream

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out_rows = []

    counts = spark.createDataFrame(
        [Row(batchId="fail-b", isValid=False) for _ in range(5)],
        "batchId string, isValid boolean",
    )
    notifs = spark.createDataFrame(
        [
            Row(
                id="fail-b", name="n", topic=TOPIC, dataType="claims",
                status=Status.SEND_COMPLETED, startDate=None, endDate=None,
                expectedRecordCount=100, actualRecordCount=None,
                invalidRecordCount=None, invalidThreshold=5,
                failureMessage=None, metadata=None,
            )
        ],
        BATCH_NOTIFICATION_SCHEMA,
    ).withColumn("offset", F.lit(0).cast("long"))

    tag_notifications(notifs).unionByName(
        tag_counts(counts).withColumn("seq", F.col("seq") + 1000)
    ).write.mode("overwrite").parquet(in_dir)

    stream = read_table_stream(spark, in_dir, TRACKER_INPUT_SCHEMA)
    q = (
        streaming_tracker_auto(stream, timeout_ms=300_000)
        .writeStream.foreachBatch(lambda df, _b: out_rows.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 6)
    assert [r.status for r in out_rows] == [Status.FAILED]
    assert "invalidThreshold: 5" in out_rows[0].failureMessage
