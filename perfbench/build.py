#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program (src/main/scala)
together with the benchmark sources (perfbench/src) with the Scala compiler
shipped in the Spark distribution, into <build dir>/classes-<source hash>.

    python3 perfbench/build.py            # build (or reuse) and print the dir

The build is reused while no source changes. Spark's jars are found under
$SPARK_HOME/jars, or else where build.sbt's `unmanagedBase` points.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def build():
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    bdir = build_dir()
    out = os.path.join(bdir, "classes-" + h.hexdigest()[:16])
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        for old in glob.glob(os.path.join(bdir, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        argfile = os.path.join(bdir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-encoding", "UTF-8", "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac exited with {res.returncode}")
        os.rename(tmp, out)
        open(os.path.join(out, ".ok"), "w").close()
        return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
