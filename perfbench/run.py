#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <kline_ingest|market_analytics|ann_stream>
                             --seed <n> --seconds <s> --trace <0|1> [--corrupt <check|all>]

Builds graft and the benchmark from source (see build.py), runs one workload
in a fresh JVM on a local[nproc] Spark session, and relays its output. The
last stdout line is the result object; the line before it carries provenance,
sample counts, percentiles, the host canary and every correctness check.
Everything the run writes stays under <checkout>/.bench_build.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("kline_ingest", "market_analytics", "ann_stream")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", default="",
                    help="perturb the expected value of the named check(s): a name, or 'all'")
    a = ap.parse_args()

    classes, digest, jars = build.build()
    n = cpus()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}-{os.getpid()}"
    work = os.path.join(build.BUILD, "runs", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap: G1 otherwise grows it by GC timing, and peak RSS with it
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + jars), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(n), "--work", work, "--run-id", run_id,
            "--commit", git_commit(), "--source-hash", digest]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    last = None
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.communicate()
        print(f"[run] workload exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if lines:
        last = lines[-1]
    if proc.returncode != 0 or not last or not last.startswith("{\"correct\""):
        print(f"[run] benchmark JVM failed (exit {proc.returncode})", file=sys.stderr)
        if last:
            print(last, file=sys.stderr)
        return 4
    print(last, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
