#!/usr/bin/env python3
"""Interleaved A/B run of the lakehouse benchmark: a parent revision
against the working tree.

    python3 tools/bench_ab.py --workload lake_daily --seeds 1-6 [--parent HEAD]

Stops with an error when the working tree has no diff against the parent
(after committing a change, pass `--parent HEAD~1`). Exports the parent
revision with `git archive` into a temporary directory, then for each
seed runs

    perfbench/run.py --workload W --seed i --seconds S --trace 0

(S is BENCHMARK.json's `run_seconds`) once in the parent tree and once
in the working tree, swapping which side goes first from one seed to the next, so drift in the host's load falls
on both sides alike. Each tree builds its own classes on its first run.
Prints every pair, then for each end-to-end metric in BENCHMARK.json each
side's median, the parent's quartile distance (Q3 - Q1, the yardstick of
a gain claim), the change/parent ratio of the medians, the metric's
bound, the number of pairs in which the change was better, and the exact
two-sided sign-test p-value of that count over the pairs that differ
(ties dropped): how often a change with no effect would split the pairs
at least this unevenly, so 6 pairs cannot go below 0.031 and 8 pairs
below 0.0078; the claim rule's verdict (see `verdict`); and each side's
failed and attempted op counts. `seeds`
and the quartile spread come from perfbench/spread.py. Reads
BENCHMARK.json and perfbench/ without changing them. `--out FILE` also writes every run as
JSON.
"""

import argparse
import json
import math
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.dont_write_bytecode = True  # import perfbench/spread.py without writing under perfbench/
sys.path.insert(0, str(ROOT / "perfbench"))
from spread import seeds, spread  # noqa: E402


def export(rev, into):
    """The committed tree of `rev`, unpacked under `into`."""
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT,
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", str(into)], input=archive, check=True)


def sign_test(better, worse):
    """Exact two-sided sign-test p-value of `better` against `worse` pairs."""
    n, k = better + worse, min(better, worse)
    if n == 0:
        return float("nan")
    return min(1.0, 2 * sum(math.comb(n, i) for i in range(k + 1)) / 2 ** n)


def verdict(a, b, runs, bound, sign, fails_ok):
    """The claim rule's reading of one metric, from the parent's values
    `a` and the change's `b` over the complete pairs, out of `runs` pairs
    run; first match wins. `worse` when the change's median is worse
    than the parent's by more than `bound` (a fraction of the parent's
    median). `unresolved` when the parent's Q3 - Q1, as a fraction of its
    median, exceeds that bound or cannot be read (below 2 pairs), unless
    every change run beats every parent run. `gain` when at least 10
    pairs ran, the change is better in at least 9/10 of all of them (a
    tie or an incomplete pair counts for neither side), the medians
    differ by more than the parent's Q3 - Q1, and `fails_ok` (the change
    failed no larger share of its ops than the parent). Otherwise `–`."""
    pa, pb = statistics.median(a), statistics.median(b)
    if pa and sign * (pb - pa) / pa > bound:
        return "worse"
    iqr = spread(a) * pa if len(a) >= 2 and pa else float("nan")
    apart = all(sign * (y - x) < 0 for x in a for y in b)
    if not apart and (not pa or math.isnan(iqr) or iqr / pa > bound):
        return "unresolved"
    better = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
    if (runs >= 10 and 10 * better >= 9 * runs and fails_ok
            and sign * (pa - pb) > (0 if math.isnan(iqr) else iqr)):
        return "gain"
    return "–"


def run_once(tree, workload, seed, seconds):
    """One benchmark run in `tree`: its result object, or None on failure."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    if out.returncode != 0:
        print(f"  {tree}: exit {out.returncode}\n{out.stderr[-2000:]}", flush=True)
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-6")
    ap.add_argument("--parent", default="HEAD",
                    help="git revision to compare against (default HEAD)")
    ap.add_argument("--out", help="write every run to this JSON file")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    if subprocess.run(["git", "diff", "--quiet", args.parent], cwd=ROOT).returncode == 0:
        sys.exit(f"bench_ab: the working tree has no diff against {args.parent}; "
                 "after a commit pass --parent HEAD~1")

    parent_dir = Path(tempfile.mkdtemp(prefix="bench_ab-"))
    try:
        export(args.parent, parent_dir)
        trees = {"parent": parent_dir, "change": ROOT}
        runs = []
        for i, seed in enumerate(seeds(args.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {}
            for side in order:
                t0 = time.monotonic()
                pair[side] = run_once(trees[side], args.workload, seed, seconds)
                if pair[side]:
                    print(f"seed {seed} {side:<6} ({time.monotonic() - t0:.0f}s) "
                          f"failed={pair[side]['failed']}/{pair[side]['attempted']} "
                          + " ".join(f"{k}={v['value']:.4g}"
                                     for k, v in pair[side]["metrics"].items()),
                          flush=True)
            runs.append({"seed": seed, **pair})
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)

    pairs = [r for r in runs if r["parent"] and r["change"]]
    print(f"\n{args.workload}: {len(pairs)} complete pairs of {len(runs)}, "
          f"parent {args.parent}")
    print(f"{'metric':<14} {'parent':>10} {'p Q3-Q1':>10} {'change':>10} {'ratio':>7} "
          f"{'bound':>6}  better  sign-p  verdict")
    share, done = {}, {}
    for side in ("parent", "change"):
        done[side] = [r[side] for r in runs if r[side]]
        attempted = sum(r["attempted"] for r in done[side])
        share[side] = (sum(r["failed"] for r in done[side]) / attempted
                       if attempted else 1.0)
    for m in metrics if pairs else []:
        name = m["name"]
        a = [r["parent"]["metrics"][name]["value"] for r in pairs]
        b = [r["change"]["metrics"][name]["value"] for r in pairs]
        pa, pb = statistics.median(a), statistics.median(b)
        sign = 1 if m["better"] == "lower" else -1
        better = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
        worse = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        ratio = pb / pa if pa else float("nan")
        iqr = spread(a) * pa if len(a) >= 2 and pa else float("nan")
        print(f"{name:<14} {pa:>10.4g} {iqr:>10.4g} {pb:>10.4g} {ratio:>7.3f} "
              f"{m['bound']:>6}  {better}/{len(pairs)}  "
              f"{sign_test(better, worse):<6.3g}  "
              f"{verdict(a, b, len(runs), m['bound'], sign, share['change'] <= share['parent'])}")
    for side in ("parent", "change"):
        print(f"{side}: failed ops {sum(r['failed'] for r in done[side])} of "
              f"{sum(r['attempted'] for r in done[side])}; failed runs "
              f"{len(runs) - len(done[side])} of {len(runs)}")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "parent": args.parent,
             "seconds": seconds, "runs": runs}, indent=1) + "\n")


if __name__ == "__main__":
    main()
