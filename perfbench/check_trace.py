"""Check that the traced counts repeat: run one workload traced twice
with the same seed and compare, op by op, the Spark jobs, py4j round
trips and fsyncs.

    python3 perfbench/check_trace.py --workload lake_cdc --seed 1

Run it from the root of the repository.  Both runs walk the same op
sequence, so op ``i`` of one run meets the same table state as op ``i``
of the other.  For each op type and count the output says whether every
common op repeated exactly; a count that did not repeat is listed with
its spread (the smallest and largest difference between the runs).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from collections import defaultdict

COUNTS = ("jobs", "py4j", "fsyncs")


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True)
    report = json.loads(out.stdout.strip().splitlines()[-2].split(" ", 1)[1])
    with open(report["trace_file"]) as f:
        return json.load(f)


def compare(a: dict, b: dict) -> dict:
    ops_a = {op["op"]: op for op in a["ops"]}
    ops_b = {op["op"]: op for op in b["ops"]}
    diffs = defaultdict(lambda: defaultdict(list))
    for i in sorted(set(ops_a) & set(ops_b)):
        x, y = ops_a[i], ops_b[i]
        if x["type"] != y["type"]:
            raise SystemExit(f"op {i} is {x['type']} in one run and {y['type']} in the other")
        for c in COUNTS:
            diffs[x["type"]][c].append(y[c] - x[c])
    out = {}
    for kind, per in sorted(diffs.items()):
        row = {}
        for c, ds in per.items():
            if all(d == 0 for d in ds):
                row[c] = {"repeats": True, "ops": len(ds)}
            else:
                row[c] = {"repeats": False, "ops": len(ds),
                          "differing_ops": sum(d != 0 for d in ds),
                          "spread": [min(ds), max(ds)]}
        out[kind] = row
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    args = p.parse_args()
    a = traced_run(args.workload, args.seed, args.seconds)
    b = traced_run(args.workload, args.seed, args.seconds)
    result = compare(a, b)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "per_op_type": result}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
