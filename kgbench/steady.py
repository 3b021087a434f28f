"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 − Q1) as a
share of the median, next to the metric's bound in BENCHMARK.json.

    python3 kgbench/steady.py --workload build_cold --seeds 1-10 [--out f.json]

Runs are sequential, each a fresh ``kgbench/run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 − Q1) / median) with statistics.quantiles(n=4)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else float("inf"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    first, last = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(first, last + 1):
        start = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "kgbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, check=False)
        wall = time.perf_counter() - start
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
        runs.append({"seed": seed, "exit": proc.returncode,
                     "process_s": wall, "result": result})
        print(json.dumps(runs[-1]), flush=True)
    ok = [r["result"] for r in runs if r["result"]]
    report = {"workload": args.workload, "runs": runs, "metrics": {}}
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for name in (ok[0]["metrics"] if ok else {}):
        values = [r["metrics"][name]["value"] for r in ok]
        med, rel = spread(values)
        report["metrics"][name] = {
            "median": med, "iqr_share": rel, "bound": bounds.get(name),
            "values": values}
        print("%-26s median %12.4f  spread %6.3f  bound %s"
              % (name, med, rel, bounds.get(name)))
    report["process_s_total"] = sum(r["process_s"] for r in runs)
    print("all correct: %s; process time %.0f s"
          % (all(r["correct"] for r in ok) and len(ok) == len(runs),
             report["process_s_total"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
