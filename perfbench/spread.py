#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload gold_serving --seeds 1-10 [--out FILE]

Runs the benchmark once per seed, one run at a time, and prints for each
metric the median and the quartile spread: (Q3 - Q1) / median, with
quartiles as Python's statistics.quantiles(values, n=4) gives them.
Compare the spread with the metric's bound in BENCHMARK.json. `--out`
also writes every run's metrics and the summary as JSON.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", help="write runs and summary to this JSON file")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values, runs = {}, []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            continue
        result = json.loads(out.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        runs.append({"seed": seed, "correct": result["correct"], "metrics": row})
        print(f"seed {seed} ({time.monotonic() - t0:.0f}s) correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    summary = {}
    for k, vs in values.items():
        if len(vs) >= 2:
            s = spread(vs)
            b = bounds.get(k)
            summary[k] = {"median": statistics.median(vs), "spread": s, "bound": b}
            print(f"{k:<14} median={statistics.median(vs):.4g} spread={s:.3f}"
                  + (f" bound={b} ({s / b:.2f} of it)" if b else ""))
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "seconds": seconds, "runs": runs,
             "summary": summary}, indent=1) + "\n")


if __name__ == "__main__":
    main()
