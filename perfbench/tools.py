#!/usr/bin/env python3
"""Helpers around perfbench/run.py.

  spread  --workload W --seeds 1-10 [--trace 0|1]
      Run W once per seed and print, per metric, the median and the
      interquartile range as a share of the median (Python's
      statistics.quantiles(values, n=4)), next to the metric's bound.
  repeat  --workload W --seed N
      Run W untraced once and traced twice with one seed. Print the
      tracing overhead (traced minus untraced tick/query p50) and every
      engine counter (jobs, stages, tasks, bytes) that differs between the
      two traced runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# engine counters that must repeat exactly between two traced runs
COUNTERS = (".jobs", ".stages", ".tasks", ".shuffle_write_bytes", ".bytes_written",
            ".input_bytes", ".rows_in", ".rows_out", ".partitions_rewritten", ".write_amp")


def run(workload, seed, trace, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        raise SystemExit(f"run failed ({out.returncode}): {out.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def spread(a, bench):
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        res, detail = run(a.workload, s, a.trace, bench["run_seconds"])
        print(json.dumps({"seed": s, "correct": res["correct"], "failed": res["failed"],
                          "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                          "canary_s": detail["canary_s"]}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        rel = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if rel < b / 3 else "WIDE")
        print(f"{k:40s} median={med:.6g} iqr/median={rel:.4f} bound={b} {flag}")


def repeat(a, bench):
    plain, _ = run(a.workload, a.seed, 0, bench["run_seconds"])
    t1, _ = run(a.workload, a.seed, 1, bench["run_seconds"])
    t2, _ = run(a.workload, a.seed, 1, bench["run_seconds"])
    for k in ("tick_p50_s", "query_p50_s"):
        base = plain["metrics"][k]["value"]
        traced = t1["metrics"]["trace." + k]["value"]
        print(f"overhead {k}: untraced={base:.4f} traced={traced:.4f} "
              f"diff={traced - base:+.4f} s ({(traced - base) / base:+.1%})")
    differ = [k for k in t1["metrics"] if k.endswith(COUNTERS)
              and t1["metrics"][k]["value"] != t2["metrics"][k]["value"]]
    for k in differ:
        print(f"counter differs: {k} {t1['metrics'][k]['value']} vs {t2['metrics'][k]['value']}")
    n = sum(1 for k in t1["metrics"] if k.endswith(COUNTERS))
    print(f"{n - len(differ)} of {n} counters repeat exactly")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("spread")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("repeat")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    {"spread": spread, "repeat": repeat}[a.cmd](a, bench)


if __name__ == "__main__":
    main()
