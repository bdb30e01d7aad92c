#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/perfbench/classes-<hash>.

The hash covers every source file, so an unchanged tree is built once per
checkout. Run directly (`python3 perfbench/build.py`) to build ahead of a
run; `perfbench/run.py` calls `ensure_built` itself.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    if not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler under {home}")
    return home


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found")
    return exe


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    if not own:
        raise BuildError("no benchmark sources under perfbench/src")
    return main + own


def ensure_built(log=sys.stderr):
    """Return the classes directory for the current sources, compiling
    them first when no build of exactly these sources exists."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               "-cp", os.path.join(spark_home(), "jars", "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             timeout=850)
        if res.returncode != 0:
            log.write(res.stdout.decode(errors="replace")[-4000:])
            raise BuildError("compilation failed")
        open(os.path.join(tmp, ".complete"), "w").close()
        for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
