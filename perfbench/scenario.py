"""Seeded input generator, expected-outcome model and output checker for
the stream workloads. Pure Python: no Spark, no clock.

A scenario is a list of record files (each a tick of the generator) and a
list of BatchNotifications, both with the tick at which they are due.
Record bodies are rows of the sf0.01 ``events`` table rendered as JSON
(``load_payloads``), picked per record by the seed; a record the scenario
marks malformed gets its body cut by one byte. The model computes, for
every record, the route the validation operator must give it and, for
every HRI batch, the terminal call the tracker must make. Each special
batch is laid out so that its outcome does not depend on how the engine
slices the stream into micro-batches:

- ``threshold``: every record is invalid, so the tracker fails the batch
  exactly at ``invalid == invalidThreshold``;
- ``overflow``: sendCompleted (expected = n - 3) precedes every record and
  every record is valid, so the batch fails at ``actual == expected + 1``;
- ``terminated`` / ``completed``: the status is in the notification dim
  before the first record, so records are dropped / routed invalid.

The model assumes every notification due before a batch opens is in the
dim when that batch's first record is validated; the burst workload
compacts all notifications before any record flows.
"""

from __future__ import annotations

import itertools
import json
import random
from dataclasses import dataclass, field
from typing import Optional

NORMAL = "normal"
THRESHOLD = "threshold"
OVERFLOW = "overflow"
TERMINATED = "terminated"
COMPLETED = "completed"

TOPIC = "ingest.bench.di.in"
UNKNOWN_PREFIX = "batch-unknown-"
NO_THRESHOLD = 1_000_000

# routes and invalid-rule names (the four invalid rules of the validation
# operator, hri_flink_pipeline_core_spark/operators/validation.py)
VALID, INVALID, DROP = "valid", "invalid", "drop"
RULES = ("missing_batch_id", "unknown_batch_id", "batch_completed", "validator")
_FAILURE_RULE = {
    "Bad Message - No header or batchId node": "missing_batch_id",
    "Bad Message - Unknown batchId": "unknown_batch_id",
    "Bad Message - batchId is already completed": "batch_completed",
}


def failure_rule(failure: Optional[str]) -> Optional[str]:
    if failure is None:
        return None
    if failure in _FAILURE_RULE:
        return _FAILURE_RULE[failure]
    return "validator" if failure.startswith("Invalid JSON") else "other"


@dataclass
class Batch:
    id: str
    kind: str
    open_tick: int
    close_tick: int  # first tick after its last record
    n: int = 0
    n_invalid: int = 0
    threshold: int = NO_THRESHOLD
    expected: Optional[int] = None


@dataclass
class Notification:
    tick: float
    row: dict


@dataclass
class RecordFile:
    tick: int
    lo: int  # offsets [lo, hi)
    hi: int


@dataclass
class Scenario:
    batch_of: list  # per offset: batch id, or None for a missing header
    valid: list  # per offset: payload is well-formed JSON
    payload_of: list  # per offset: index into payloads
    payloads: list  # JSON bodies (bytes) the records draw from
    batches: dict
    notifications: list
    files: list

    # ---- expected outcomes ------------------------------------------------
    def expected_route(self, offset: int) -> tuple:
        """(route, rule, batchId) the validation operator must produce."""
        bid = self.batch_of[offset]
        if bid is None:
            return INVALID, "missing_batch_id", None
        b = self.batches.get(bid)
        if b is None:
            return INVALID, "unknown_batch_id", bid
        if b.kind == TERMINATED:
            return DROP, None, bid
        if b.kind == COMPLETED:
            return INVALID, "batch_completed", bid
        if self.valid[offset]:
            return VALID, None, bid
        return INVALID, "validator", bid

    def emits_count(self, offset: int) -> bool:
        """Whether the record ran the validator, so yields a count event."""
        route, rule, _bid = self.expected_route(offset)
        return route == VALID or rule == "validator"

    def expected_terminals(self) -> dict:
        """batch id -> (status, actualRecordCount, invalidRecordCount)."""
        out = {}
        for b in self.batches.values():
            if b.kind == NORMAL:
                out[b.id] = ("completed", b.n, b.n_invalid)
            elif b.kind == THRESHOLD:
                out[b.id] = ("failed", b.threshold, b.threshold)
            elif b.kind == OVERFLOW:
                out[b.id] = ("failed", b.expected + 1, 0)
        return out

    # ---- materialisation ---------------------------------------------------
    def record_rows(self, f: RecordFile) -> dict:
        """Column dict (HriRecord shape) of one record file."""
        keys, values, headers, parts = [], [], [], []
        for off in range(f.lo, f.hi):
            bid = self.batch_of[off]
            keys.append(str(off).encode())
            body = self.payloads[self.payload_of[off]]
            values.append(body if self.valid[off] else body[:-1])
            headers.append(
                None if bid is None else [{"key": "batchId", "value": bid.encode()}]
            )
            parts.append(off % 4)
        return {
            "key": keys, "value": values, "headers": headers,
            "topic": [TOPIC] * len(keys), "partition": parts,
            "offset": list(range(f.lo, f.hi)),
        }


def _notif(bid: str, status: str, expected=None, threshold=NO_THRESHOLD) -> dict:
    return {
        "id": bid, "name": bid, "topic": TOPIC, "dataType": "claims",
        "status": status, "startDate": None, "endDate": None,
        "expectedRecordCount": expected, "actualRecordCount": None,
        "invalidRecordCount": None, "invalidThreshold": threshold,
        "failureMessage": None, "metadata": None,
    }


def load_payloads(path: str) -> list:
    """JSON bodies from an ``events`` parquet table: one per row, with the
    columns (not the timestamp) the repository's streaming benchmark has
    always encoded, in table order."""
    import pyarrow.parquet as pq

    cols = ["event_id", "user_id", "event_type", "value", "props"]
    rows = pq.read_table(path, columns=cols).to_pylist()
    return [json.dumps(r, separators=(",", ":")).encode() for r in rows]


def build(
    seed: int,
    ticks: int,
    rows_per_tick: int,
    windows: list,
    payloads: list,
    weights: Optional[list] = None,
    lead: int = 15,
    n_threshold: int = 3,
    p_missing: float = 0.004,
    p_unknown: float = 0.004,
    p_invalid: float = 0.05,
) -> Scenario:
    """Lay out a scenario. ``windows`` gives each HRI batch's (open, close)
    tick range; ``weights`` how often it is picked among the open batches.
    Special kinds go to seeded picks among the larger batches. Notifications
    are due ``lead`` ticks before a batch opens; sendCompleted of a normal
    batch one tick after its last record. The ``p_*`` rates and the weights
    are assumptions of the benchmark, not measured traffic."""
    rng = random.Random(seed)
    weights = weights or [1.0] * len(windows)
    ids = [f"batch-{i:04d}" for i in range(len(windows))]
    batches = {
        bid: Batch(bid, NORMAL, o, c) for bid, (o, c) in zip(ids, windows)
    }

    # specials: among the upper half by weight x window length, never the
    # first two batches
    size = {bid: w * (c - o) for bid, w, (o, c) in zip(ids, weights, windows)}
    pool = sorted(ids[2:], key=lambda b: -size[b])[: max(8, len(ids) // 2)]
    if len(pool) < n_threshold + 3:
        raise ValueError(f"{len(windows)} batches leave too few for the special kinds")
    picks = rng.sample(pool, n_threshold + 3)
    for bid in picks[:n_threshold]:
        batches[bid].kind = THRESHOLD
    batches[picks[n_threshold]].kind = OVERFLOW
    batches[picks[n_threshold + 1]].kind = TERMINATED
    batches[picks[n_threshold + 2]].kind = COMPLETED

    # records
    batch_of: list = []
    valid: list = []
    payload_of: list = []
    files: list = []
    for t in range(ticks):
        open_ids = [b for b in ids if batches[b].open_tick <= t < batches[b].close_tick]
        cum = list(itertools.accumulate(weights[int(b[6:])] for b in open_ids))
        lo = len(batch_of)
        for _ in range(rows_per_tick):
            r = rng.random()
            if r < p_missing:
                bid = None
            elif r < p_missing + p_unknown or not open_ids:
                bid = f"{UNKNOWN_PREFIX}{rng.randrange(5)}"
            else:
                bid = rng.choices(open_ids, cum_weights=cum)[0]
            b = batches.get(bid) if bid else None
            if b is not None and b.kind == THRESHOLD:
                ok = False
            elif b is not None and b.kind == OVERFLOW:
                ok = True
            else:
                ok = rng.random() >= p_invalid
            batch_of.append(bid)
            valid.append(ok)
            payload_of.append(rng.randrange(len(payloads)))
            if b is not None:
                b.n += 1
                b.n_invalid += 0 if ok else 1
        files.append(RecordFile(t, lo, len(batch_of)))

    # notifications
    notifications: list = []

    def add(tick, row):
        row["offset"] = len(notifications)
        notifications.append(Notification(tick, row))

    for bid in ids:
        b = batches[bid]
        at = b.open_tick - lead
        if b.kind == NORMAL:
            add(at, _notif(bid, "started"))
            b.expected = b.n
            add(b.close_tick, _notif(bid, "sendCompleted", expected=b.n))
        elif b.kind == THRESHOLD:
            b.threshold = max(1, b.n // 2)
            add(at, _notif(bid, "started", threshold=b.threshold))
        elif b.kind == OVERFLOW:
            b.expected = b.n - 3
            add(at, _notif(bid, "sendCompleted", expected=b.expected))
        elif b.kind == TERMINATED:
            add(at - 1, _notif(bid, "started"))
            add(at, _notif(bid, "terminated"))
        else:
            add(at, _notif(bid, "completed"))
    notifications.sort(key=lambda n: (n.tick, n.row["offset"]))
    return Scenario(batch_of, valid, payload_of, payloads, batches,
                    notifications, files)


def burst(seed: int, files: int, rows_per_file: int, payloads: list,
          n_batches: int = 200, zipf_s: float = 1.1) -> Scenario:
    """Backlog layout: every batch is open over the whole backlog and is
    picked with a Zipf(``zipf_s``) weight over a seeded rank order."""
    rng = random.Random(seed ^ 0x5EED)
    ranks = list(range(1, n_batches + 1))
    rng.shuffle(ranks)
    weights = [1.0 / r ** zipf_s for r in ranks]
    return build(seed, files, rows_per_file, [(0, files)] * n_batches,
                 payloads, weights=weights, lead=0)


# --------------------------------------------------------------------------
# checking
# --------------------------------------------------------------------------

@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    routes: dict = field(default_factory=dict)  # observed route/rule counts

    def note(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)


def check(scn: Scenario, valid_offsets, invalid_rows,
          terminal_calls: Optional[list]) -> CheckResult:
    """Compare sink outputs and Mgmt-API calls with the model.

    ``valid_offsets``: offsets written to the valid sink; ``invalid_rows``:
    (offset, failure, batchId) written to the invalid sink;
    ``terminal_calls``: (batchId, action, body dict) per successful call,
    or None when the tracker did not run on these outputs.

    Every sent record and every HRI batch is one attempted operation; a
    lost, duplicated or misrouted record, a missing, duplicated or wrong
    terminal call, and any output for something never sent count failed.
    """
    res = CheckResult()
    counts = {VALID: 0, DROP: 0, **{r: 0 for r in RULES}}
    seen: dict = {}
    for off in valid_offsets:
        seen.setdefault(off, []).append((VALID, None, None))
    for off, failure, bid in invalid_rows:
        seen.setdefault(off, []).append((INVALID, failure_rule(failure), bid))
    n_sent = len(scn.batch_of)
    for off in range(n_sent):
        res.attempted += 1
        route, rule, bid = scn.expected_route(off)
        got = seen.get(off, [])
        if route == DROP:
            if got:
                res.note(f"record {off}: expected drop, got {got}")
            else:
                counts[DROP] += 1
            continue
        if len(got) != 1:
            res.note(f"record {off}: expected {route}/{rule}, got {got}")
            continue
        g_route, g_rule, g_bid = got[0]
        if g_route != route or g_rule != rule or (
            route == INVALID and g_bid != bid
        ):
            res.note(f"record {off}: expected {route}/{rule}/{bid}, got {got[0]}")
            continue
        counts[rule or VALID] += 1
    for off in seen:
        if not 0 <= off < n_sent:
            res.note(f"record {off}: output for a record never sent")
    res.routes = counts
    if terminal_calls is None:
        return res

    expected = scn.expected_terminals()
    calls: dict = {}
    for bid, action, body in terminal_calls:
        calls.setdefault(bid, []).append((action, body))
    for bid in scn.batches:
        res.attempted += 1
        got = calls.get(bid, [])
        want = expected.get(bid)
        if want is None:
            if got:
                res.note(f"batch {bid}: expected no terminal call, got {got}")
            continue
        status, actual, invalid = want
        action = "processingComplete" if status == "completed" else "fail"
        if len(got) != 1:
            res.note(f"batch {bid}: expected one {action} call, got {got}")
            continue
        g_action, body = got[0]
        if (g_action, body.get("actualRecordCount"),
                body.get("invalidRecordCount")) != (action, actual, invalid):
            res.note(f"batch {bid}: expected {action} {actual}/{invalid}, "
                     f"got {g_action} {json.dumps(body)}")
    for bid in calls:
        if bid not in scn.batches:
            res.note(f"batch {bid}: terminal call for an unknown batch")
    return res
