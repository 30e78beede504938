"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

For every workload: an untraced run must print every end-to-end metric of
``BENCHMARK.json`` and check clean, and a traced run that drops one output
row before checking must print every per-layer metric and report
``failed > 0``. Takes a few minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, tamper: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "3", "--trace", str(trace),
           "--tiny"] + (["--tamper"] if tamper else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    print(lines[-2] if len(lines) > 1 else "", flush=True)
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        for trace, tamper, names in ((0, False, bench["end_to_end"]),
                                     (1, True, bench["per_layer"])):
            res = _run(w, trace, tamper)
            missing = [m["name"] for m in names
                       if m["name"] not in res["metrics"]]
            if missing:
                raise SystemExit(f"FAIL {w} trace={trace}: missing {missing}")
            if tamper and not (res["failed"] > 0 and not res["correct"]):
                raise SystemExit(f"FAIL {w}: a dropped row went unnoticed")
            if not tamper and not (res["correct"] and res["failed"] == 0):
                raise SystemExit(f"FAIL {w}: {res['failed']} wrong results")
            print(f"ok {w} trace={trace}"
                  + (f" dropped row -> error_rate "
                     f"{res['failed'] / res['attempted']:.2e}" if tamper else ""),
                  flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
