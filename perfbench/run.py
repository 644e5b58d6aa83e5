"""perfbench: run one sparkcollect workload and print its metrics.

    python3 perfbench/run.py --workload lake_cdc --seed 1 --seconds 12 --trace 0

Run it from the root of the repository.  Each workload is a closed loop:
one client in this process, no think time, Spark on ``local[k]`` with k
at most 4.  The op sequence comes from ``--seed`` and is made of whole
cycles; a run measures as many as fit in ``--seconds`` at the speed of
the box the benchmark was defined on (``seconds // CYCLE_S``, at least
one).  So the op count depends on ``--seconds``
alone, and two commits walk the same table states.  Every op's result
is checked, and ops that raise or return a wrong result count as
failed.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
spans to ``.perfbench_out/``.  The line before it (``perfbench-report``)
gives every metric with its sample count.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.getcwd())

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from common import (OUT, Recorder, Reference, Workspace, code_digest,  # noqa: E402
                    start_session, stop_session)
from tracer import Tracer  # noqa: E402

WORKLOADS = ("lake_cdc", "corpus_pipeline")
# table builds per run; setup_s counts their median
SETUP_REPS = 3


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of BENCHMARK.json's end-to-end and per-layer metrics."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def load_workload(name: str):
    import importlib
    return importlib.import_module(name).Workload


def run(args) -> tuple[dict, dict]:
    tracer = Tracer(bool(args.trace))
    rec = Recorder(tracer)
    log = gen.OpLog()
    ws = Workspace(args.workload)
    spark = None
    code = code_digest()  # of the files this run loads, before they can change
    try:
        spark = start_session(ws)
        session_start_s = time.perf_counter() - PROCESS_START
        tracer.install(spark)
        wl = load_workload(args.workload)(spark, ws, args.seed, tracer, rec, log)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        builds = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.build(rep)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.oracle()
        oracle_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_start_s + prepare_s + statistics.median(builds) + warm_s

        ref = Reference(spark, ws, args.seed)
        cycles = max(1, int(args.seconds // wl.CYCLE_S))
        ref.measure(ref.EDGE_REPS)
        rec.between = (ref.EVERY, ref.measure)
        t0 = time.perf_counter()
        for c in range(cycles):
            tracer.cycle = c
            wl.cycle()
        cycles_wall_s = time.perf_counter() - t0
        rec.between = None
        ref.measure(ref.EDGE_REPS)
        space_amp = wl.space_amp()
        # over the ops' own timers: the result checks, the model replay
        # and input staging between ops do not count
        throughput, what = wl.throughput(rec.timed_s)

        summary = stats.summarize(rec.samples)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cycles": cycles, "timed_s": rec.timed_s, "cycles_wall_s": cycles_wall_s,
            "op_log_digest": log.digest(), "op_log_entries": log.n,
            "attempted": rec.attempted, "failed": rec.failed,
            "error_rate": rec.error_rate, "failures": rec.failures[:20],
            "setup": {"setup_s": setup_s, "session_start_s": session_start_s,
                      "prepare_s": prepare_s, "build_s": builds, "warm_up_s": warm_s,
                      "oracle_s": oracle_s},
            "ops": summary,
            "samples": {k: [round(x, 4) for x in v] for k, v in rec.samples.items()},
            "throughput_per_s": throughput, "throughput_counts": what,
            "reference_s": ref.seconds,
            "reference_samples": [round(x, 4) for x in ref.samples],
            "space_amp": space_amp,
            "workload_metrics": wl_metrics(args.workload, summary, throughput,
                                        space_amp, rec, setup_s, ref),
        }
        e2e = {
            "setup_s": setup_s,
            "write_p50_vs_ref": summary["write"]["p50"] / ref.seconds,
            "read_p50_vs_ref": summary["read"]["p50"] / ref.seconds,
            "throughput_vs_ref": throughput * ref.seconds,
            "space_amp": space_amp,
        }
        report["code_digest"] = code
        # tracing overhead is taken on the gated metrics and the seconds
        seconds = {k: report["workload_metrics"][k]["value"]
                   for k in ("write_p50_s", "read_p50_s", "rows_per_s")}
        if tracer.enabled:
            layer_report = layers.reduce(
                tracer, args.workload, session_start_s,
                [prepare_s + b for b in builds], rec.timed_s)
            report["layers"] = layer_report
            report["overhead"] = layers.overhead(OUT, args.workload, args.seed, code,
                                                 {**e2e, **seconds})
            report["trace_file"] = os.path.join(
                OUT, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json")
            tracer.dump(report["trace_file"], {"report": report})
            metrics = {k: v["value"] for k, v in layer_report.items()
                       if isinstance(v, dict) and "value" in v}
        else:
            layers.save_untraced(OUT, args.workload, args.seed, code, {**e2e, **seconds})
            metrics = e2e
        return report, metrics
    finally:
        tracer.uninstall()
        # also when the session failed to start: its JVM may be up
        stop_session(spark)
        ws.close()


def wl_metrics(workload, summary, throughput, space_amp, rec, setup_s, ref) -> dict:
    """Every metric the workload defines, by name, with unit and sample
    count, the gated ratios to the reference op beside the seconds they
    come from; a p90 with too few samples beyond it says why it is
    omitted."""
    out = {"setup_s": {"value": setup_s, "unit": "s", "n": 1},
           "error_rate": {"value": rec.error_rate, "unit": "ratio",
                          "n": rec.attempted},
           "reference_s": {"value": ref.seconds, "unit": "s", "n": len(ref.samples)}}

    def lat(name, kind, with_p90):
        row = summary.get(kind)
        if row is None:
            return
        out[f"{name}_p50_s"] = {"value": row["p50"], "unit": "s", "n": row["n"]}
        if name in ("write", "read"):
            out[f"{name}_p50_vs_ref"] = {"value": row["p50"] / ref.seconds,
                                         "unit": "ratio", "n": row["n"]}
        if with_p90:
            if "p90" in row:
                out[f"{name}_p90_s"] = {"value": row["p90"], "unit": "s", "n": row["n"]}
            else:
                out[f"{name}_p90_s"] = {"omitted": row["p90_omitted"], "n": row["n"]}

    lake = workload == "lake_cdc"
    lat("write", "write", lake)
    lat("read", "read", lake)
    lat("refresh" if lake else "pass", "refresh" if lake else "pass", False)
    n = summary["write" if lake else "pass"]["n"]
    out["rows_per_s"] = {"value": throughput, "unit": "rows/s", "n": n}
    out["throughput_vs_ref"] = {"value": throughput * ref.seconds, "unit": "1/ref", "n": n}
    out["space_amp"] = {"value": space_amp, "unit": "ratio", "n": 1}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    e2e_units, layer_units = metric_units()
    report, metrics = run(args)
    unit = layer_units if args.trace else e2e_units
    print("perfbench-report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        # a layer the workload does not call has no samples; it reads 0
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in unit.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
