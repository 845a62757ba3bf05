#!/usr/bin/env python3
"""Steadiness report: runs one workload N times and summarizes the spread.

    python3 graftbench/steadiness.py --workload upload --runs 10 [--seed 100]
        [--record graftbench/steadiness.json]

Each run uses its own seed (seed, seed+1, ...), as the acceptance runs do.
For every end-to-end metric it prints the median, the first and third
quartiles (statistics.quantiles(values, n=4)), the quartile spread as a
share of the median, and the max-min spread as a share of the median,
next to the metric's bound in BENCHMARK.json. With --record the values
and the summary are stored under the workload's key in that file.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("nan"),
            "range_share": (max(values) - min(values)) / med if med else float("nan")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--record")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {name: [] for name in bounds}
    seeds = list(range(args.seed, args.seed + args.runs))
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if out.returncode != 0 or not result["correct"]:
            sys.exit(f"seed {seed}: run failed: {result}")
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    print(f"\n{args.workload}: {args.runs} runs, seeds {seeds[0]}..{seeds[-1]}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'iqr/med':>10}{'range/med':>10}{'bound':>8}")
    summary = {}
    for name, vals in values.items():
        s = summarize(vals)
        summary[name] = s
        print(f"{name:<14}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}"
              f"{s['iqr_share']:>10.3f}{s['range_share']:>10.3f}"
              f"{bounds[name]:>8}")
    if args.record:
        path = pathlib.Path(args.record)
        record = json.loads(path.read_text()) if path.exists() else {}
        record[args.workload] = {"seeds": seeds, "values": values,
                                 "summary": summary}
        path.write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
