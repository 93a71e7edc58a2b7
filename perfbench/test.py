#!/usr/bin/env python3
"""The benchmark's own tests (generator determinism, statistics and
self-time helpers, the reply oracle on a hand-checked mix and against the
rivers).

    python3 perfbench/test.py

Run from the repository root; builds first if needed. Exits non-zero when a
check fails.
"""
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def main():
    classes = build.build()
    work = tempfile.mkdtemp(prefix="selftest-", dir=build.build_dir())
    cmd = [build.java()]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + work,
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.SelfTest", work]
    try:
        code = subprocess.run(cmd, stderr=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
