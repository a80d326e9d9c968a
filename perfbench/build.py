#!/usr/bin/env python3
"""Build the graft benchmark: graft's main sources plus perfbench/src,
compiled in one scalac pass against the Spark distribution's jars.

Output goes to <checkout>/.bench_build/classes-<hash>, where <hash> covers
every source file and the jar list, so an unchanged tree is never rebuilt.
Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise SystemExit("graft sources (src/main/scala) not found: run from a full checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return graft + bench


def tree_hash(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; returns (class dir, source hash, jar list)."""
    jars = spark_jars()
    files = sources()
    digest = tree_hash(files, jars)
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, digest, jars
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    print(f"[build] compiling {len(files)} sources -> {out}", file=log, flush=True)
    rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"scalac failed with exit code {rc}")
    open(os.path.join(tmp, ".ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out, digest, jars


if __name__ == "__main__":
    print(build()[0])
