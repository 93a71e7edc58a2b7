#!/usr/bin/env python3
"""Regenerates expected/ops_heavy.tsv, the result digests the traced run's
query set (Ops.Queries) is checked against.

    python3 perfbench/expected/generate.py

Run from the repository root. Dumps every query of the set over the
benchmark's fixture tables with graft.tools.VerifyOne, compares each dump
with its DuckDB oracle through tools/compare.py, and writes the row count
and SHA-256 of each dump only when every query matches the oracle.
"""
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

QUERIES = ["s10_ann_recall", "q38_blame_supplier", "d21_ppjoin", "t58_cooc_served"]  # Ops.Queries
DATA = os.path.join(BENCH, "data", "sf0.01")


def java(classes, tmp, main, *args):
    cmd = [build.java()]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false", "-Xmx3g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    return subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True, env=env).stdout


def main():
    classes = build.build()
    with tempfile.TemporaryDirectory(dir=build.build_dir()) as tmp:
        dump = os.path.join(tmp, "dump")
        java(classes, tmp, "graft.tools.VerifyOne", ",".join(QUERIES), DATA, dump)
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"), DATA, dump,
                        *QUERIES], check=True)
        lines = java(classes, tmp, "perfbench.OpsExpected", DATA, dump,
                     os.path.join(tmp, "work")).strip().splitlines()
    header = ("# Expected query results over data/sf0.01: query, rows, SHA-256 of the\n"
              "# rendered rows (Ops.digest). Written by generate.py after tools/compare.py\n"
              "# matched every query against its DuckDB oracle.\n")
    with open(os.path.join(HERE, "ops_heavy.tsv"), "w", encoding="utf-8") as f:
        f.write(header + "\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
