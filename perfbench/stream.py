"""The ``stream_burst`` workload: a closed backlog drain with large
micro-batches. It drives the program's public streaming API
(``ValidationPipeline``, ``read_table_stream``, ``parquet_dir_sink``,
``MgmtApiSink``) and times calls into it from outside.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from . import common, scenario
from .common import Tracer, median

# backlog size and pacing of the drains; the batch count, Zipf
# exponent and invalid rates are the scenario's assumptions (scenario.build)
BURST_FILES = 50
BURST_ROWS_PER_FILE = 1000
BURST_FILES_PER_TRIGGER = 10
BURST_DRAIN_S = 5  # nominal length of one validation drain on a 4-CPU host
BURST_TRACKER_TRIGGERS = 4
BURST_DELAY_MS = 300  # tracker completion delay; outside the timed busy time
DRAIN_TIMEOUT_S = 60.0

RECORD_ARROW = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
])
NOTIF_ARROW = pa.schema([
    ("id", pa.string()), ("name", pa.string()), ("topic", pa.string()),
    ("dataType", pa.string()), ("status", pa.string()),
    ("startDate", pa.timestamp("us", tz="UTC")),
    ("endDate", pa.timestamp("us", tz="UTC")),
    ("expectedRecordCount", pa.int32()), ("actualRecordCount", pa.int32()),
    ("invalidRecordCount", pa.int32()), ("invalidThreshold", pa.int32()),
    ("failureMessage", pa.string()),
    ("metadata", pa.map_(pa.string(), pa.string())),
    ("offset", pa.int64()),
])


def notif_spark_schema():
    from pyspark.sql import types as T

    from hri_flink_pipeline_core_spark.schemas import BATCH_NOTIFICATION_SCHEMA

    return T.StructType(
        BATCH_NOTIFICATION_SCHEMA.fields + [T.StructField("offset", T.LongType())]
    )


def write_atomic(directory: str, name: str, table: pa.Table) -> None:
    """Write a parquet file under a dot-name (which file sources skip) and
    rename it into place, so a source never lists a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def write_records(scn, f, directory: str) -> None:
    write_atomic(directory, f"rec-{f.tick:06d}.parquet",
                 pa.Table.from_pydict(scn.record_rows(f), schema=RECORD_ARROW))


# --------------------------------------------------------------------------
# probes: wrappers around the callables the pipeline is given
# --------------------------------------------------------------------------

class SinkProbe:
    """Wraps a BatchSink; records (micro-batch id, start, end) per call.
    When tracing, tags the calling thread's jobs with ``group`` so the
    status tracker attributes the sink's jobs to its streaming query (the
    pipeline runs sinks on pool threads, which do not inherit it)."""

    def __init__(self, name: str, inner, tracer: Tracer):
        self.name, self.inner, self.tracer = name, inner, tracer
        self.group = None
        self.calls: list = []

    def __call__(self, df, batch_id: int) -> None:
        if self.tracer.enabled and self.group:
            df.sparkSession.sparkContext.setLocalProperty(
                "spark.jobGroup.id", self.group)
        t0 = time.time()
        self.inner(df, batch_id)
        t1 = time.time()
        self.calls.append((batch_id, t0, t1))
        self.tracer.add(f"sink.{self.name}", t0, t1, batch_id)

    def busy_s(self) -> float:
        return sum(t1 - t0 for _b, t0, t1 in self.calls)


class FakeMgmt:
    """In-process Mgmt-API transport: answers every token request and
    action PUT with 200 and records each successful action call."""

    def __init__(self):
        self.calls: list = []  # (batchId, action, body)
        self._lock = threading.Lock()

    def __call__(self, method, url, headers, body):
        if method == "POST":
            return 200, b'{"access_token": "bench"}'
        parts = url.split("/")
        with self._lock:
            self.calls.append((parts[-3], parts[-1], json.loads(body)))
        return 200, b"{}"


def mgmt_sink(tracer: Tracer):
    from hri_flink_pipeline_core_spark.sinks.mgmt_api import MgmtApiSink, MgmtClient

    fake = FakeMgmt()
    client = MgmtClient(
        base_uri="http://mgmt.bench", client_id="bench", client_secret="bench",
        audience="bench", oauth_service_base_url="http://oauth.bench",
        transport=fake,
    )
    sink = MgmtApiSink(tenant_id="bench", client=client)
    invoke_ms: list = []
    if tracer.enabled:
        inner = sink.invoke

        def timed_invoke(notification):
            t0 = time.time()
            inner(notification)
            invoke_ms.append((time.time() - t0) * 1000)

        sink.invoke = timed_invoke
    return fake, sink, invoke_ms


def probe_dim(dim, tracer: Tracer) -> list:
    """Time ``NotificationDim.read`` on this dim; returns the
    (start, end, version) list it fills."""
    reads: list = []
    if not tracer.enabled:
        return reads
    inner = dim.read

    def timed_read(spark):
        t0 = time.time()
        out = inner(spark)
        t1 = time.time()
        reads.append((t0, t1, dim._cache_version))
        tracer.add("dim.read", t0, t1, "dim")
        return out

    dim.read = timed_read
    return reads


# --------------------------------------------------------------------------
# reading what the sinks wrote
# --------------------------------------------------------------------------

def read_sink(root: str, columns: list) -> pa.Table:
    if not os.path.isdir(root) or not os.listdir(root):
        return pa.table({c: [] for c in columns})
    return ds.dataset(root, format="parquet", partitioning="hive").to_table(
        columns=columns)


def count_files(root: str) -> int:
    n = 0
    for _d, _s, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


# --------------------------------------------------------------------------
# the pipeline under test
# --------------------------------------------------------------------------

class Rig:
    """One ValidationPipeline wired to probed parquet sinks and the fake
    Mgmt API, with its own directories under ``root``."""

    def __init__(self, spark, root: str, tracer: Tracer, records_stream,
                 notif_dir: str):
        from hri_flink_pipeline_core_spark.operators.validation import json_validator
        from hri_flink_pipeline_core_spark.sources.files import (
            read_table_stream,
            write_table,
        )
        from hri_flink_pipeline_core_spark.streaming.pipeline import (
            ValidationPipeline,
            parquet_dir_sink,
        )

        self.spark, self.tracer = spark, tracer
        self.notif_dir = notif_dir
        self.dirs = {k: os.path.join(root, k) for k in ("valid", "invalid", "counts")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        # the tracker streams the counts back in, so they go to one flat
        # directory (a file source cannot read the per-batch subdirectories
        # parquet_dir_sink writes without adding their partition column)
        self.sinks = {
            "valid": SinkProbe("valid", parquet_dir_sink(self.dirs["valid"]), tracer),
            "invalid": SinkProbe("invalid", parquet_dir_sink(self.dirs["invalid"]), tracer),
            "counts": SinkProbe("counts", lambda df, _b: write_table(
                df, self.dirs["counts"], mode="append"), tracer),
        }
        self.fake, mgmt, self.invoke_ms = mgmt_sink(tracer)
        self.terminal = SinkProbe("mgmt_api", mgmt.foreach_batch_writer(), tracer)
        self.pipe = ValidationPipeline(
            spark,
            validator=json_validator(),
            batch_completion_delay_ms=BURST_DELAY_MS,
            records_stream=records_stream,
            notifications_stream=read_table_stream(spark, notif_dir, notif_spark_schema()),
            valid_sink=self.sinks["valid"],
            invalid_sink=self.sinks["invalid"],
            counts_sink=self.sinks["counts"],
            notification_out_sink=self.terminal,
            workdir=os.path.join(root, "pipe"),
        )
        self.vq = self.tq = None

    def start_validation(self, dim, trigger=None):
        self.vq = self.pipe.start_validation(dim, trigger)
        for s in self.sinks.values():
            s.group = str(self.vq.runId)
        return self.vq

    def start_tracker(self, trigger=None, max_files=None):
        from hri_flink_pipeline_core_spark.schemas import COUNT_EVENT_SCHEMA
        from hri_flink_pipeline_core_spark.sources.files import read_table_stream

        self.tq = self.pipe.start_tracker(
            read_table_stream(self.spark, self.dirs["counts"], COUNT_EVENT_SCHEMA,
                              max_files_per_trigger=max_files),
            read_table_stream(self.spark, self.notif_dir, notif_spark_schema()),
            trigger,
        )
        self.terminal.group = str(self.tq.runId)
        return self.tq

    def outputs(self):
        valid = read_sink(self.dirs["valid"], ["offset"])
        invalid = read_sink(self.dirs["invalid"], ["offset", "failure", "batchId"])
        return valid, invalid


def check_rig(scn, rig: Rig):
    """Check a drain's sink outputs, and its terminal calls when the
    tracker ran on it."""
    valid, invalid = rig.outputs()
    return scenario.check(
        scn,
        valid.column("offset").to_pylist(),
        zip(invalid.column("offset").to_pylist(),
            invalid.column("failure").to_pylist(),
            invalid.column("batchId").to_pylist()),
        rig.fake.calls if rig.tq is not None else None,
    )


def wait_until(pred, timeout: float, step: float = 0.1) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return pred()


def rows_done(query) -> int:
    return sum(p.get("numInputRows", 0) for p in common.progress(query))


# --------------------------------------------------------------------------
# per-layer metrics from Spark's streaming progress and status tracker
# --------------------------------------------------------------------------

def _dur(progs: list, key: str) -> float:
    return median(p["durationMs"].get(key, 0) for p in progs)


def validation_layers(spark, rig_list: list) -> dict:
    """Validation, source and sink figures of the given drains: medians per
    micro-batch, means per drain."""
    progs = [p for r in rig_list for p in common.progress(r.vq)
             if p.get("numInputRows", 0) > 0]
    all_batches = sum(len(common.progress(r.vq)) for r in rig_list)
    jobs = stages = tasks = 0
    for r in rig_list:
        j, s, t = common.job_counts(spark, str(r.vq.runId))
        jobs, stages, tasks = jobs + j, stages + s, tasks + t
    n = max(1, all_batches)
    d = len(rig_list)
    add_ms = sum(p["durationMs"].get("addBatch", 0) for p in progs)
    busy = {k: sum(r.sinks[k].busy_s() for r in rig_list)
            for k in ("valid", "invalid", "counts")}
    rows = {"valid": 0, "invalid": 0, "counts": 0}
    files = 0
    for r in rig_list:
        valid, invalid = r.outputs()
        rows["valid"] += valid.num_rows
        rows["invalid"] += invalid.num_rows
        rows["counts"] += ds.dataset(r.dirs["counts"], format="parquet").count_rows()
        files += sum(count_files(path) for path in r.dirs.values())
    out = {
        "sources.files.getBatch_ms": _dur(progs, "getBatch"),
        "sources.files.latestOffset_ms": _dur(progs, "latestOffset"),
        "streaming.pipeline.validation.batches": len(progs) / d,
        "streaming.pipeline.validation.rows_per_batch":
            sum(p["numInputRows"] for p in progs) / max(1, len(progs)),
        "streaming.pipeline.validation.addBatch_ms": _dur(progs, "addBatch"),
        "streaming.pipeline.validation.queryPlanning_ms": _dur(progs, "queryPlanning"),
        "streaming.pipeline.validation.walCommit_ms": _dur(progs, "walCommit"),
        "streaming.pipeline.validation.commitOffsets_ms": _dur(progs, "commitOffsets"),
        "streaming.pipeline.validation.jobs_per_batch": jobs / n,
        "streaming.pipeline.validation.stages_per_batch": stages / n,
        "streaming.pipeline.validation.tasks_per_batch": tasks / n,
        "sinks.files_written": files / d,
        "sinks.overlap": sum(busy.values()) * 1000 / add_ms if add_ms else 0.0,
    }
    for k in busy:
        out[f"sinks.{k}_ms"] = busy[k] * 1000 / d
        out[f"sinks.{k}_rows"] = rows[k] / d
    return out


def tracker_layers(spark, rig: Rig) -> dict:
    """Tracker and Mgmt-API figures of one tracker drain."""
    progs = common.progress(rig.tq)
    data = [p for p in progs if p.get("numInputRows", 0) > 0]
    jobs = common.job_counts(spark, str(rig.tq.runId))[0]
    ops = [p["stateOperators"][0] for p in progs if p.get("stateOperators")]
    return {
        "streaming.tracker_stream.rows_in": sum(p["numInputRows"] for p in data),
        "streaming.tracker_stream.addBatch_ms": _dur(data, "addBatch"),
        "streaming.tracker_stream.jobs_per_batch": jobs / max(1, len(progs)),
        "streaming.tracker_stream.state.numRowsTotal":
            max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "streaming.tracker_stream.state.numRowsUpdated":
            sum(o.get("numRowsUpdated", 0) for o in ops),
        "streaming.tracker_stream.state.memoryUsedBytes":
            max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "streaming.tracker_stream.state.allUpdatesTimeMs":
            sum(o.get("allUpdatesTimeMs", 0) for o in ops),
        "streaming.tracker_stream.state.commitTimeMs":
            sum(o.get("commitTimeMs", 0) for o in ops),
        "sinks.mgmt_api.calls": len(rig.fake.calls),
        "sinks.mgmt_api.call_ms": median(rig.invoke_ms),
    }


def dim_layers(dim_query, reads: list) -> dict:
    progs = [p for p in common.progress(dim_query) if p.get("numInputRows", 0) > 0]
    return {
        "streaming.pipeline.dim.read_ms": median((e - s) * 1000 for s, e, _v in reads),
        "streaming.pipeline.dim.reads": len(reads),
        "streaming.pipeline.dim.versions": len({v for _s, _e, v in reads}),
        "streaming.pipeline.dim.addBatch_ms": _dur(progs, "addBatch"),
    }


def route_layers(routes: dict) -> dict:
    out = {
        "operators.validation.valid_rows": routes.get(scenario.VALID, 0),
        "operators.validation.dropped_rows": routes.get(scenario.DROP, 0),
    }
    for rule in scenario.RULES:
        out[f"operators.validation.invalid.{rule}"] = routes.get(rule, 0)
    return out


def batch_spans(tracer: Tracer, query, name: str) -> None:
    """Parent spans for each micro-batch (from its progress timestamp and
    triggerExecution), adopting the probe spans recorded inside it."""
    if not tracer.enabled:
        return
    for p in common.progress(query):
        start = common.parse_ts(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000
        idx = tracer.add(name, start, end, p["batchId"])
        for s in tracer.spans:
            if (s.parent is None and s.name.startswith(("sink.", "dim."))
                    and start <= s.start < end):
                s.parent = idx


# --------------------------------------------------------------------------
# stream_burst
# --------------------------------------------------------------------------

def run_burst(ctx) -> dict:
    from hri_flink_pipeline_core_spark.schemas import HRI_RECORD_SCHEMA
    from hri_flink_pipeline_core_spark.sources.files import read_table_stream
    from hri_flink_pipeline_core_spark.streaming.pipeline import ValidationPipeline

    spark = ctx.start_session()
    tracer = ctx.tracer
    scn = scenario.burst(ctx.seed, BURST_FILES, BURST_ROWS_PER_FILE,
                         scenario.load_payloads(os.path.join(common.DATA, "events.parquet")))
    rec_dir = os.path.join(ctx.work, "records")
    notif_dir = os.path.join(ctx.work, "notifications")
    for d in (rec_dir, notif_dir):
        os.makedirs(d, exist_ok=True)
    write_atomic(notif_dir, "notifications.parquet", pa.Table.from_pylist(
        [n.row for n in scn.notifications], schema=NOTIF_ARROW))
    for f in scn.files:
        write_records(scn, f, rec_dir)

    # compact every notification into a static dim once
    dim_pipe = ValidationPipeline(
        spark, workdir=os.path.join(ctx.work, "dim"),
        notifications_stream=read_table_stream(spark, notif_dir, notif_spark_schema()))
    dim = dim_pipe.start_notification_dim(trigger={"availableNow": True})
    dim_query = dim_pipe.queries[-1]
    if not dim_query.awaitTermination(DRAIN_TIMEOUT_S):
        raise RuntimeError("notification dim compaction timed out")
    reads = probe_dim(dim, tracer)

    n_records = len(scn.batch_of)
    n_terminal = len(scn.expected_terminals())

    def validate(name: str, source_dir: str):
        """One validation drain of ``source_dir`` through a fresh query,
        sinks and checkpoint; returns the rig and the drain's wall time."""
        rig = Rig(spark, os.path.join(ctx.work, name), tracer,
                  read_table_stream(spark, source_dir, HRI_RECORD_SCHEMA,
                                    max_files_per_trigger=BURST_FILES_PER_TRIGGER),
                  notif_dir)
        try:
            t0 = time.time()
            rig.start_validation(dim, {"availableNow": True})
            if not rig.vq.awaitTermination(DRAIN_TIMEOUT_S):
                raise RuntimeError(f"{name}: validation drain timed out")
            return rig, time.time() - t0
        finally:
            rig.pipe.stop()

    def track(rig, n_counts: int, n_calls: int) -> float:
        """Drain the counts ``rig`` wrote through its tracker until all
        ``n_counts`` are folded and ``n_calls`` terminal calls made; returns
        the trigger time of the micro-batches that had input."""
        try:
            n_files = count_files(rig.dirs["counts"])
            rig.start_tracker(
                {"processingTime": "100 milliseconds"},
                max_files=max(1, math.ceil(n_files / BURST_TRACKER_TRIGGERS)))
            if not wait_until(lambda: rows_done(rig.tq) >= n_counts
                              and len(rig.fake.calls) >= n_calls,
                              DRAIN_TIMEOUT_S):
                raise RuntimeError("tracker drain timed out")
        finally:
            rig.pipe.stop()
        return sum(p["durationMs"].get("triggerExecution", 0)
                   for p in common.progress(rig.tq)
                   if p.get("numInputRows", 0) > 0) / 1000

    # warm-up: one untimed, unchecked drain of the whole backlog through
    # both stages (the first drain runs about a third slower than later
    # ones, which still speed up a little drain by drain)
    n_counts = sum(map(scn.emits_count, range(n_records)))
    track(validate("warm", rec_dir)[0], n_counts, n_terminal)
    ctx.mark_setup_done()

    # timed: several validation drains of the backlog, then the tracker
    # over the counts of the last one
    drains = [validate(f"drain{i}", rec_dir)
              for i in range(common.units(ctx.seconds, BURST_DRAIN_S))]
    tracked = drains[-1][0]
    tbusy = track(tracked, n_counts, n_terminal)

    problems = []
    attempted = failed = 0
    routes: dict = {}
    batch_ms = []
    for rig, _vwall in drains:
        res = check_rig(scn, rig)
        attempted += res.attempted
        failed += res.failed
        problems += res.problems[:5]
        routes = res.routes
        batch_ms += [p["durationMs"]["triggerExecution"]
                     for p in common.progress(rig.vq) if p.get("numInputRows", 0) > 0]
    e2e = {
        "stage1_per_s": median(n_records / vwall for _r, vwall in drains),
        "stage2_per_s": n_counts / tbusy,
        "latency_p50_ms": median(batch_ms),
    }
    info = {"records": n_records, "counts": n_counts,
            "validation_s": [v for _r, v in drains], "tracker_busy_s": tbusy,
            "micro_batch_ms": batch_ms, "problems": problems}
    layers = {}
    if tracer.enabled:
        rigs = [r for r, _v in drains]
        layers.update(validation_layers(spark, rigs))
        layers.update(tracker_layers(spark, tracked))
        layers.update(dim_layers(dim_query, reads))
        layers["sources.files.backlog_rows_max"] = n_records
        for r in rigs:
            batch_spans(tracer, r.vq, "validation.batch")
        batch_spans(tracer, tracked.tq, "tracker.batch")
    layers.update(route_layers(routes))
    return {"attempted": attempted, "failed": failed,
            "e2e": e2e, "layers": layers, "info": info}
