#!/usr/bin/env python3
"""Lakehouse benchmark: one command per workload run.

    python3 perfbench/run.py --workload lake_daily --seed 1 --seconds 6 --trace 0

Workloads: lake_daily, gold_serving (listed in BENCHMARK.json) and
operator_board (needs --sf-dir, a TPC-H-ish test-data directory).
Builds the program from source on first use (see build.py), runs one JVM
with a local[nproc/2] Spark session, and prints the named metrics, one per
line, then the result object as the last line. The full record, with
every span of a traced run, is kept under perfbench/.work/reports/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
WORK = BENCH / ".work"
HEAP = "2g"
# a run of a listed workload must end within 180 s; operator_board is not
# listed, and its passes take minutes
CHILD_TIMEOUT_S = {"lake_daily": 170, "gold_serving": 170, "operator_board": 900}
# the flags Spark's launcher passes on JDK 17 (build.sbt carries the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the program reads these; a run strips and records them so every run
# measures the same configuration
ENV_PREFIX = "SPARK_GRAFT_"


def declared_metrics(trace):
    """{name: unit} that BENCHMARK.json declares for this kind of run."""
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        return {}
    spec = json.loads(path.read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def flat_layers(record):
    """Per-layer metrics as `<boundary>.<counter>`, plus the overhead."""
    out = {}
    for boundary, counters in record.get("layers", {}).items():
        for k, v in counters.items():
            if k not in ("calls", "phase_is_loop"):
                out[f"{boundary}.{k}"] = (v, unit_of(k))
    if "trace_overhead_pct" in record.get("notes", {}):
        out["trace.overhead_pct"] = (record["notes"]["trace_overhead_pct"], "%")
    return out


def unit_of(counter):
    if counter.endswith("_ms") or counter == "ms":
        return "ms"
    if counter.endswith("_bytes"):
        return "bytes"
    if counter == "rewrite_ratio":
        return "ratio"
    return "count"


def context(args, stamp, stripped):
    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"workload": args.workload, "seed": args.seed, "cpus": os.cpu_count(),
            "xmx": HEAP, "commit": commit, "source_hash": stamp,
            "stripped_env": stripped}


def run_child(cmd, env, cwd, timeout):
    """Run the JVM in its own process group; return (exit code, max RSS MB)."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True)
    deadline = time.monotonic() + timeout
    try:
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                print("perfbench: run timed out", file=sys.stderr)
                return 124, None
            time.sleep(0.05)
    finally:
        if proc.returncode is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            os.wait4(proc.pid, 0)


def main():
    # a terminated run unwinds through run_child, which stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake_daily", "gold_serving", "operator_board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="test-data directory for operator_board")
    args = ap.parse_args()
    if args.workload == "operator_board" and not args.sf_dir:
        ap.error("operator_board needs --sf-dir")

    classes, stamp = build.build()
    jars = build.spark_jars()
    run_dir = WORK / f"{args.workload}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    report = WORK / "reports" / (
        f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith(ENV_PREFIX)}
    stripped = {k: v for k, v in os.environ.items() if k.startswith(ENV_PREFIX)}
    # a fixed heap, which G1 does not resize mid-run; the code cache size
    # the program's own build runs with, as a full cache stops the JIT
    # mid-run; JIT compiler threads that never exit, as op_cpu_ms leaves
    # out the CPU time of the live ones; no perf-data file, which the JVM
    # writes outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(run_dir), "--report", str(report)]
    if args.sf_dir:
        cmd += ["--sf-dir", str(Path(args.sf_dir).resolve()),
                "--expected", str(BENCH / "expected" / "operator_board.json")]
    try:
        code, rss_mb = run_child(cmd, env, run_dir, CHILD_TIMEOUT_S[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not report.exists():
        raise SystemExit(f"perfbench: run failed (exit {code})")

    record = json.loads(report.read_text())
    record["context"] = context(args, stamp, stripped)
    record["peak_rss_mb"] = rss_mb
    report.write_text(json.dumps(record) + "\n")

    if args.trace:
        available = flat_layers(record)
    else:
        available = {k: (v["value"], v["unit"]) for k, v in record["end_to_end"].items()}
        available["peak_rss_mb"] = (rss_mb, "MB")
    declared = {} if args.workload == "operator_board" else declared_metrics(args.trace)
    units = declared or {n: u for n, (_, u) in available.items()}
    missing = [n for n in units if n not in available]
    if missing:
        raise SystemExit(f"perfbench: run produced no value for {missing}")

    ctx = record["context"]
    print(f"# {args.workload} seed={args.seed} cpus={ctx['cpus']} xmx={HEAP} "
          f"spark={record['spark_version']} commit={ctx['commit'] or 'n/a'} "
          f"source={stamp} stripped_env={sorted(stripped) or 'none'}")
    for k, v in record["report"].items():
        print(f"{k:<28} {v['value']:>16.4f} {v['unit']}")
    if not args.trace:
        print(f"{'peak_rss_mb':<28} {rss_mb:>16.4f} MB")
    print(f"# record: {report.relative_to(ROOT)}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": available[n][0], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
