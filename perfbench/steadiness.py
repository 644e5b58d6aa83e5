"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median), the
steadiness measure the bounds in BENCHMARK.json are held to, and the
same for the seconds the gated ratios are made from
(``seconds.*``).

    python3 perfbench/steadiness.py --workload lake_cdc --seeds 1-10 [--trace 0]

Run it from the root of the repository.  Each run is a separate
process, exactly as ``BENCHMARK.json``'s command runs it, for
``run_seconds`` seconds.  Prints one JSON object per run, then a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.time()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        if out.returncode != 0:
            print(json.dumps({"seed": seed, "rc": out.returncode,
                              "stderr": out.stderr[-2000:]}))
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        row = {k: v["value"] for k, v in res["metrics"].items()}
        # the seconds behind the gated ratios, to compare their spreads
        report = json.loads(lines[-2].split(" ", 1)[1])
        for k in ("write_p50_s", "read_p50_s", "rows_per_s", "reference_s"):
            row[f"seconds.{k}"] = report["workload_metrics"][k]["value"]
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": res["correct"], "attempted": res["attempted"],
                          "failed": res["failed"], **row}), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    summary = {}
    for k, vs in values.items():
        row = {"median": statistics.median(vs), "n": len(vs)}
        if len(vs) >= 2 and statistics.median(vs):
            row["spread"] = quartile_spread(vs)
            if bounds.get(k):
                row["bound"] = bounds[k]
                row["spread_over_bound"] = row["spread"] / bounds[k]
        summary[k] = row
    print(json.dumps({"workload": args.workload, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
