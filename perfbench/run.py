"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_burst --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Each invocation is one process with one
``local[nproc]`` Spark JVM. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). Detail (sample counts, the cpu count, any
correctness problems) goes to the lines before it and to standard error.
Scratch files live under ``.perfbench-work/`` and are removed at exit;
traced runs write their spans to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per-layer metric prefixes of the layers a workload does not run; they
# report 0 there, and any other name a workload leaves out fails the run
NOT_RUN = {
    "stream_burst": ("entry.",),
    "query_suite": ("sources.", "streaming.", "sinks.", "operators."),
}


class Context:
    """What a workload gets: its seed, run length, scratch directory,
    tracer, and the hooks that split set-up from the measured window."""

    def __init__(self, args, work: str):
        from perfbench.common import Tracer, host_cpus

        self.seed, self.seconds = args.seed, args.seconds
        self.work = work
        self.tracer = Tracer(enabled=bool(args.trace))
        self.cpus = host_cpus()
        self.session = None
        self.session_s = None
        self.setup_s = None
        self.warmup_s = None
        self._session_end = None
        self.peak_rss_mb = None
        self.problems: list = []

    def start_session(self):
        from perfbench.common import Session

        t0 = time.time()
        self.session = Session(self.work, self.cpus, "hri-perfbench")
        self._session_end = time.time()
        self.session_s = self._session_end - t0
        return self.session.spark

    def mark_setup_done(self) -> None:
        now = time.time()
        self.setup_s = now - T_START
        self.warmup_s = now - self._session_end

    def close(self) -> None:
        if self.session is not None:
            self.peak_rss_mb = self.session.peak_rss_mb()
            self.session.close()
            self.session = None


def preflight() -> None:
    """Fail fast, before starting a JVM, when the program is not here."""
    missing = [p for p in ("hri_flink_pipeline_core_spark", "__spark_entry__.py",
                           "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program (missing {missing})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOT_RUN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    preflight()
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import stream, suite

    run = {"stream_burst": stream.run_burst, "query_suite": suite.run_suite}[args.workload]
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ctx = Context(args, work)
    try:
        out = run(ctx)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(out["e2e"])
    e2e["setup_s"] = ctx.setup_s
    e2e["peak_rss_mb"] = ctx.peak_rss_mb
    if args.trace:
        layers = {m["name"]: 0 for m in spec["per_layer"]
                  if m["name"].startswith(NOT_RUN[args.workload])}
        layers.update(out["layers"])
        layers["session.start_s"] = ctx.session_s
        layers["session.warmup_s"] = ctx.warmup_s
        layers["session.cpus"] = ctx.cpus
        for name, value in e2e.items():
            layers[f"trace.e2e.{name}"] = value
        layers["trace.spans"] = len(ctx.tracer.spans)
        ctx.tracer.write(os.path.join(
            ROOT, ".perfbench-out", f"spans-{args.workload}-{args.seed}.jsonl"))
        selected, specs = layers, spec["per_layer"]
    else:
        selected, specs = e2e, spec["end_to_end"]
    metrics = {}
    for m in specs:
        value = selected.get(m["name"])
        if value is None:
            raise RuntimeError(f"workload produced no value for {m['name']}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}

    problems = ctx.problems + out["info"].pop("problems", [])
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cpus": ctx.cpus, "trace": args.trace, **out["info"]}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
