#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic (percentiles, bytes written from a
listing diff) and of the seeded feed generator:

    python3 perfbench/test.py
"""

import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def main():
    classes, _ = build.build(test=True)
    tmp = build.BENCH / ".work" / f"test-{os.getpid()}"
    tmp.mkdir(parents=True)
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp",
                            f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
                            "perfbench.SelfTest"], cwd=build.ROOT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
