"""Reduce a traced run to per-layer metrics.

The layers are the package's modules (``snapshots``, ``mv``,
``catalog``, ``engine``, ``operators``, ``sources``) and the host layers
``session``, ``spark`` and ``py4j``.  Each metric is the median per call
unless its name says otherwise, and carries its sample count.  A layer a
workload does not call has no samples; its count metrics read 0 and its
time metrics are left out of the report.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

import stats


def _med(xs) -> float | None:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else None


def reduce(tracer, workload: str, session_start_s: float, builds: list[float],
           timed_s: float) -> dict:
    """The layer report: {metric name: {"value", "unit", "n"}} for every
    metric the run has samples of."""
    full: dict[str, dict] = {}

    def put(name, unit, values):
        values = [v for v in values if v is not None]
        if values:
            full[name] = {"value": _med(values), "unit": unit, "n": len(values)}

    put("session.start_s", "s", [session_start_s])
    put("session.stage_s", "s", builds)

    spans = tracer.by_name()

    def span_metric(span, field, name, unit):
        put(name, unit, [s[field] for s in spans.get(span, [])])

    # snapshots: the commit path
    for field, suffix, unit in (("wall_s", "apply_s", "s"), ("jobs", "apply_jobs", "count"),
                                ("py4j", "apply_py4j", "count"),
                                ("cpu_s", "apply_exec_cpu_s", "s"),
                                ("driver_s", "apply_driver_s", "s"),
                                ("fsyncs", "apply_fsyncs", "count")):
        span_metric("snapshots.apply", field, f"snapshots.{suffix}", unit)
    span_metric("snapshots.read_plan", "wall_s", "snapshots.read_plan_s", "s")
    span_metric("snapshots.read_plan", "py4j", "snapshots.read_plan_py4j", "count")
    span_metric("snapshots.compact", "wall_s", "snapshots.compact_s", "s")
    span_metric("snapshots.vacuum", "wall_s", "snapshots.vacuum_s", "s")
    span_metric("mv.refresh", "wall_s", "mv.refresh_s", "s")
    span_metric("mv.refresh", "jobs", "mv.refresh_jobs", "count")
    span_metric("mv.refresh", "py4j", "mv.refresh_py4j", "count")
    span_metric("catalog.insert", "wall_s", "catalog.insert_s", "s")
    span_metric("catalog.insert", "shuffle_bytes", "catalog.insert_shuffle_bytes", "bytes")
    span_metric("catalog.lookup", "wall_s", "catalog.lookup_s", "s")
    span_metric("catalog.lookup", "input_bytes", "catalog.lookup_input_bytes", "bytes")
    span_metric("engine.sql_plan", "wall_s", "engine.sql_plan_s", "s")
    span_metric("engine.sql_plan", "py4j", "engine.sql_plan_py4j", "count")
    span_metric("spark.query_exec", "wall_s", "spark.query_exec_s", "s")
    for op in ("filter", "exact_dedup", "minhash", "semantic_dedup"):
        span_metric(f"operators.{op}", "wall_s", f"operators.{op}_s", "s")
    span_metric("sources.avro_write", "wall_s", "sources.avro_write_s", "s")
    span_metric("sources.avro_read", "wall_s", "sources.avro_read_s", "s")
    span_metric("sources.avro_write", "cpu_s", "sources.avro_write_cpu_s", "s")
    span_metric("sources.avro_read", "cpu_s", "sources.avro_read_cpu_s", "s")

    ops = tracer.op_stats()
    by_type = defaultdict(list)
    for op in ops:
        by_type[op["type"]].append(op)

    # snapshots: per-op IO under the table root and its _snapshots dir
    def root_delta(op, suffix):
        return sum(v for r, v in op["bytes"].items() if r.endswith(suffix))

    writes = by_type.get("write", []) if workload == "lake_cdc" else []
    put("snapshots.meta_bytes_per_commit", "bytes",
        [root_delta(op, "_snapshots") for op in writes])
    put("snapshots.bytes_written_per_row", "bytes",
        [root_delta(op, "_lake") / op["rows"] for op in writes if op["rows"]])
    if workload == "lake_cdc":
        put("snapshots.read_jobs", "count", [op["jobs"] for op in by_type["read"]])
        put("snapshots.compact_bytes_rewritten", "bytes",
            [root_delta(op, "_lake") for op in by_type["compact"]])
    put("snapshots.live_files", "count", tracer.samples.get("snapshots.live_files", []))
    put("snapshots.dv_files", "count", tracer.samples.get("snapshots.dv_files", []))

    # spark: per query, over each workload's read ops
    reads = by_type.get("read", [])
    put("spark.jobs_per_query", "count", [op["jobs"] for op in reads])
    put("spark.stages_per_query", "count", [op["stages"] for op in reads])
    put("spark.tasks_per_query", "count", [op["tasks"] for op in reads])
    put("spark.executor_cpu_s_per_query", "s", [op["cpu_s"] for op in reads])
    put("spark.shuffle_bytes_per_query", "bytes", [op["shuffle_bytes"] for op in reads])
    full["spark.spill_bytes"] = {"value": sum(op["spill"] for op in ops),
                                 "unit": "bytes", "n": len(ops), "total": True}
    put("py4j.round_trips_per_op", "count", [op["py4j"] for op in ops])

    # operators: per corpus pass
    if workload == "corpus_pipeline":
        per_pass = defaultdict(lambda: [0, 0])
        for op in ops:
            per_pass[op["cycle"]][0] += op["jobs"]
            per_pass[op["cycle"]][1] += op["shuffle_bytes"]
        put("operators.pass_jobs", "count", [v[0] for v in per_pass.values()])
        put("operators.pass_shuffle_bytes", "bytes", [v[1] for v in per_pass.values()])

    # self time per layer, as a share of the summed op timers
    for layer, t in tracer.self_time_by_layer().items():
        full[f"{layer}.self_share"] = {"value": t / timed_s, "unit": "ratio", "n": 1}

    full["_op_types"] = {k: len(v) for k, v in by_type.items()}
    return full


# -- tracing overhead ----------------------------------------------------

def save_untraced(out_dir: str, workload: str, seed: int, code: str,
                  e2e: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"untraced-{workload}-seed{seed}-{code}-{os.getpid()}.json"),
              "w") as f:
        json.dump({"metrics": e2e}, f)


def overhead(out_dir: str, workload: str, seed: int, code: str, traced: dict) -> dict:
    """Traced end-to-end numbers against the median of the untraced runs
    of the same workload, seed and code (``common.code_digest``) saved
    in this checkout."""
    runs = []
    for p in glob.glob(os.path.join(out_dir, f"untraced-{workload}-seed{seed}-{code}-*.json")):
        with open(p) as f:
            runs.append(json.load(f)["metrics"])
    if not runs:
        return {"omitted": f"no untraced run of {workload} with seed {seed} "
                           "and this code in this checkout yet"}
    out = {"untraced_runs": len(runs)}
    for k, v in traced.items():
        saved = [r[k] for r in runs if k in r]
        if not saved:
            continue
        base = stats.median(saved)
        out[k] = {"traced": v, "untraced_median": base,
                  "overhead": (v - base) / base if base else None}
    return out
