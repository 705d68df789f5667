"""Build the benchmark: the program's Scala sources and the benchmark's own,
compiled together with the Scala compiler that ships among the Spark jars.

The class directory is keyed by a hash of every source file, so a run
rebuilds only after a source changed. Run directly to build ahead of time:

    python3 perfbench/build.py [--test]
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD = BENCH / ".build"
SCALAC_OPTS = ["-nowarn", "-deprecation:false"]


def spark_jars():
    """The jar directory the program's own build declares (`unmanagedBase`),
    else `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def _sources(test):
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: program sources missing under {PROGRAM_SRC.relative_to(ROOT)}")
    dirs = [PROGRAM_SRC, BENCH / "src"] + ([BENCH / "test"] if test else [])
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build(test=False):
    """Compile when needed; return the class directory."""
    srcs = _sources(test)
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()[:16]
    kind = "test-" if test else "main-"
    out = BUILD / (kind + stamp)
    classes = out / "classes"
    if (out / "OK").exists():
        return classes, stamp
    if out.exists():
        shutil.rmtree(out)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", str(classes), "-cp", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    # keep one build per kind: drop stale ones
    for old in BUILD.glob(kind + "*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    (out / "OK").write_text(stamp + "\n")
    return classes, stamp


if __name__ == "__main__":
    print(build(test="--test" in sys.argv[1:])[0])
