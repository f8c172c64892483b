"""The ``query_suite`` workload: the driver contract (``__spark_entry__``)
run over the sf0.01 tables kept in ``perfbench/data``.

The key set is the seven keys whose per-layer split the benchmark reports
(the plan-build-heavy dedup family, the graph and streaming-shaped keys and
the cheapest scan). A pass runs each key once, in a fixed order: build
the DataFrame (including any jobs run during construction), then execute
and collect it with ``toPandas``. Untimed passes warm the JVM; timed
passes fill the run length. Afterwards, with the clock
stopped, each key's last result is compared with DuckDB running the key's
``oracle_sql`` over the same parquet. The inputs are fixed tables, so the
seed changes nothing here.
"""

from __future__ import annotations

import os
import time

from . import common
from .common import DATA, median, units

KEYS = (
    "dedup_clusters_star",
    "incremental_neardup",
    "dedup_keep_best",
    "triangle_count",
    "tracker_terminal",
    "validation_invalid",
    "filter_orders",
)
WARMUP_PASSES = 1
PASS_S = 7  # nominal length of one timed pass on a 4-CPU host
PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run_key(spark, fn, key: str, tag: str, traced: bool) -> dict:
    sc = spark.sparkContext
    sc.setJobGroup(f"{tag}:build", key)
    t0 = time.time()
    df = fn(spark, DATA)
    t1 = time.time()
    sc.setJobGroup(f"{tag}:exec", key)
    pdf = df.toPandas()
    t2 = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    rec = {"key": key, "build_s": t1 - t0, "exec_s": t2 - t1, "pdf": pdf,
           "start": t0, "mid": t1, "end": t2}
    if traced:
        rec["catalyst"] = catalyst_ms(df)
        rec["build_jobs"] = common.job_counts(spark, f"{tag}:build")
        rec["exec_jobs"] = common.job_counts(spark, f"{tag}:exec")
    return rec


def frames_equal(sdf, odf) -> bool:
    """The repository's oracle comparison: same columns and rows after
    sorting, floats compared exactly with NULLs aligned, everything else
    by string form."""
    a = sdf[sorted(sdf.columns)].copy()
    b = odf[sorted(odf.columns)].copy()
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        if a[c].dtype == object:
            a[c] = a[c].map(
                lambda v: v.decode() if isinstance(v, (bytes, bytearray)) else v)
    a = a.sort_values(by=list(a.columns), ignore_index=True)
    b = b.sort_values(by=list(b.columns), ignore_index=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f":
            if not ((av.isna() == bv.isna()).all()
                    and (av.dropna().values == bv.dropna().values).all()):
                return False
        elif not (av.fillna("_N_").astype(str).values
                  == bv.fillna("_N_").astype(str).values).all():
            return False
    return True


def run_suite(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry

    spark = ctx.start_session()
    queries = entry.queries()
    oracles = entry.oracle_sql()
    order = list(KEYS)
    traced = ctx.tracer.enabled

    # pass times keep falling over the first passes as the JIT settles
    for i in range(WARMUP_PASSES):
        for key in order:
            run_key(spark, queries[key], key, f"warm{i}:{key}", False)
    ctx.mark_setup_done()

    passes: list = []
    errors = 0
    for _ in range(units(ctx.seconds, PASS_S)):
        p0 = time.time()
        recs = []
        for key in order:
            try:
                recs.append(run_key(spark, queries[key], key,
                                    f"p{len(passes)}:{key}", traced))
            except Exception as e:  # a failed query is a counted failure
                errors += 1
                ctx.problems.append(f"{key}: {type(e).__name__}: {e}"[:300])
        passes.append((time.time() - p0, recs))

    # correctness, clock stopped: each key's last result against DuckDB
    con = duckdb.connect()
    for name in os.listdir(DATA):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(DATA, name)}'")
    last = {}
    for _wall, recs in passes:
        for r in recs:
            last[r["key"]] = r["pdf"]
    mismatched = 0
    for key in order:
        if key not in last:
            continue
        if key in oracles:
            ok = frames_equal(last[key], con.execute(oracles[key]).fetchdf())
        else:
            ok = len(last[key]) > 0
        if not ok:
            mismatched += 1
            ctx.problems.append(f"{key}: result differs from the oracle")
    con.close()

    per_key: dict = {}
    for _wall, recs in passes:
        for r in recs:
            per_key.setdefault(r["key"], []).append(r["build_s"] + r["exec_s"])
    walls = [w for w, _r in passes]
    build = median(sum(r["build_s"] for r in recs) for _w, recs in passes)
    execute = median(sum(r["exec_s"] for r in recs) for _w, recs in passes)
    e2e = {
        "stage1_per_s": len(order) / build,
        "stage2_per_s": len(order) / execute,
        "latency_p50_ms": median(median(v) for v in per_key.values()) * 1000,
    }
    layers = {}
    if traced:
        layers = suite_layers(passes)
        for _w, recs in passes:
            for r in recs:
                idx = ctx.tracer.add("query", r["start"], r["end"], r["key"])
                ctx.tracer.add("query.build", r["start"], r["mid"], r["key"], idx)
                ctx.tracer.add("query.exec", r["mid"], r["end"], r["key"], idx)
    info = {"keys": order, "passes": len(passes), "pass_walls_s": walls}
    return {"attempted": len(order) * len(passes), "failed": errors + mismatched,
            "e2e": e2e, "layers": layers, "info": info}


def suite_layers(passes: list) -> dict:
    """Per-pass means of the suite sums, and per-key medians."""
    n = len(passes)
    tot = {"build_s": 0.0, "exec_s": 0.0, "jobs_build": 0, "jobs_exec": 0,
           "stages": 0, "tasks": 0, **{p: 0.0 for p in PHASES}}
    per_key: dict = {}
    for _w, recs in passes:
        for r in recs:
            bj, ej = r["build_jobs"], r["exec_jobs"]
            row = {
                "build_s": r["build_s"], "exec_s": r["exec_s"],
                "jobs_build": bj[0], "jobs_exec": ej[0],
                "stages": bj[1] + ej[1], "tasks": bj[2] + ej[2],
                **r["catalyst"],
            }
            for k, v in row.items():
                tot[k] += v
            per_key.setdefault(r["key"], []).append(row)
    out = {
        "entry.build_s": tot["build_s"] / n,
        "entry.exec_s": tot["exec_s"] / n,
        "entry.jobs_build": tot["jobs_build"] / n,
        "entry.jobs_exec": tot["jobs_exec"] / n,
        "entry.stages": tot["stages"] / n,
        "entry.tasks": tot["tasks"] / n,
    }
    for p in PHASES:
        out[f"entry.catalyst_ms.{p}"] = tot[p] / n
    for key, rows in per_key.items():
        for m in ("build_s", "exec_s", "jobs_build", "jobs_exec"):
            out[f"entry.{key}.{m}"] = median(r[m] for r in rows)
        out[f"entry.{key}.catalyst_ms"] = median(
            sum(r[p] for p in PHASES) for r in rows)
    return out
