#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py          # unit self-tests + a corrupted end-to-end run
    python3 perfbench/test_bench.py --quick  # unit self-tests only

The unit self-tests (graftbench.SelfTest) cover generator determinism, the
percentile and fingerprint helpers and check corruption. The end-to-end
test runs kline_ingest with its store checksum's expected value corrupted
and requires the run to report a nonzero error fraction.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402


def main():
    classes, _, jars = build.build()
    rc = subprocess.run(["java", "-cp", os.pathsep.join([classes] + jars),
                         "graftbench.SelfTest"]).returncode
    if rc != 0:
        return rc
    if "--quick" in sys.argv:
        return 0
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          "kline_ingest", "--seed", "3", "--seconds", "1", "--trace", "0",
                          "--corrupt", "kline_ingest.store_checksum"],
                         capture_output=True, text=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    ok = out.returncode == 0 and not res["correct"] and res["failed"] == 1
    print(("ok  " if ok else "FAIL") + f" corrupted store checksum -> failed={res['failed']}"
          f" of attempted={res['attempted']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
