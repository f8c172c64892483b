"""Shared pieces of the benchmark: statistics, spans, process memory, the
Spark session and Spark's own counters (status tracker, streaming progress).

Nothing here imports pyspark at module level, so the pure-Python parts
(statistics, spans) are testable without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
from dataclasses import dataclass, field
from typing import Iterable, Optional

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile
# the repository's sf0.01 tables the workloads read (a run may read only its
# checkout, so they are kept with the benchmark)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def percentile(values: Iterable[float], pct: float) -> float:
    """Linear-interpolated percentile (0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int, wanted: float) -> float:
    """The highest percentile, at most ``wanted``, that has at least
    MIN_BEYOND of ``n`` samples beyond it; 50 when the sample is too small
    to support any tail above the median."""
    supported = 100.0 * (n - MIN_BEYOND) / n if n > 0 else 0.0
    return max(50.0, min(wanted, supported))


def tail(values: list, wanted: float) -> float:
    return percentile(values, tail_pct(len(values), wanted))


def units(seconds: float, nominal_s: float) -> int:
    """How many units (drains, passes) of nominal length ``nominal_s`` a
    run of ``seconds`` measures. Fixed by the arguments, not by the clock,
    so a slower host measures the same work for longer instead of fewer
    units, and a unit is never cut."""
    return max(1, round(seconds / nominal_s))


def median(values: Iterable[float], default: float = 0.0) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else default


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    shared_id: str
    parent: Optional[int] = None  # index of the parent span
    self_s: float = 0.0


def covered(intervals: list) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Tracer:
    """In-memory span recorder. Spans are appended from any thread and
    written out once, at the end of the run."""

    enabled: bool
    spans: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, name: str, start: float, end: float, shared_id,
            parent: Optional[int] = None) -> Optional[int]:
        if not self.enabled:
            return None
        with self._lock:
            self.spans.append(Span(name, start, end, str(shared_id), parent))
            return len(self.spans) - 1

    def compute_self_times(self) -> None:
        """Self time = duration minus the part of it covered by children
        (children may overlap each other, e.g. concurrent sinks)."""
        children: dict = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        for i, s in enumerate(self.spans):
            kids = [
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(i, [])
                if c.end > s.start and c.start < s.end
            ]
            s.self_s = (s.end - s.start) - covered(kids)

    def write(self, path: str) -> None:
        self.compute_self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "i": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "id": s.shared_id, "self_s": s.self_s,
                }) + "\n")


# --------------------------------------------------------------------------
# host and process
# --------------------------------------------------------------------------

def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class Session:
    """A local SparkSession on ``local[cpus]`` whose temporary files stay
    under ``workdir``; ``close`` stops the context and waits for the JVM."""

    def __init__(self, workdir: str, cpus: int, app: str):
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the JVM launcher and Python's tempfile both honour TMPDIR
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        from hri_flink_pipeline_core_spark.session import get_spark

        self.spark = get_spark(app, cpus=cpus, extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return peak_rss_mb([os.getpid(), self.jvm_proc.pid])

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.jvm_proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.jvm_proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.jvm_proc.kill()
            self.jvm_proc.wait(timeout=20)


# --------------------------------------------------------------------------
# Spark's own counters
# --------------------------------------------------------------------------

def job_counts(spark, group: str) -> tuple:
    """(jobs, stages, tasks) launched under a job group, from the status
    tracker (no listener, no extra jobs)."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return jobs, stages, tasks


def progress(query) -> list:
    """Parsed ``recentProgress`` of a streaming query."""
    return [json.loads(p.json) for p in query.recentProgress]


def parse_ts(iso: str) -> float:
    """Epoch seconds of a StreamingQueryProgress timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
