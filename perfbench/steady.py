#!/usr/bin/env python3
"""Steadiness runner: run each workload on several seeds and report,
per end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median. A metric whose spread exceeds its bound in
BENCHMARK.json is flagged.

    python3 perfbench/steady.py [--workloads ingest churn] [--seeds 10]
                                [--first-seed 1] [--out FILE]

Each run is `perfbench/run.py --workload W --seed S --seconds
<run_seconds> --trace 0`. Exit code 1 if any metric is flagged or any
run fails or reports incorrect output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write all results as JSON here")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report, bad = {}, False
    for w in args.workloads:
        values = {name: [] for name in bounds}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r = run(w, seed, spec["run_seconds"])
            ok = r is not None and r["correct"] and r["failed"] == 0
            print(f"{w} seed {seed}: " + ("ok" if ok else "FAILED"), file=sys.stderr, flush=True)
            if not ok:
                bad = True
                continue
            for name in bounds:
                values[name].append(r["metrics"][name]["value"])
        report[w] = {}
        for name, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = spread > bounds[name]
            bad |= flag
            report[w][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                               "bound": bounds[name], "flagged": flag, "values": vs}
            print(f"{w:8s} {name:18s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f} / bound {bounds[name]:.2f}" + ("  FLAGGED" if flag else ""))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
