#!/usr/bin/env python
"""Smoke test: every workload at tiny scale (sf0.001, a 20-day holdings
history), untraced and traced, through the benchmark's own command.
Checks the exit code, ``correct``, a zero failure count and that the
JSON line carries exactly the metrics BENCHMARK.json names.

Runs are one pass, except the untraced holdings run: it asks for
enough seconds to get three passes on a 4-core host, so each provider
shape's scheduled cycle is checked (the benchmark's own runs time the
nexveridian shape only).

    python3 perfbench/smoke.py [workload ...]

Run from the repository root; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    for wl in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            seconds = "70" if wl == "holdings_refresh" and not trace else "1"
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", seconds, "--trace", str(trace),
                   "--scale", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            problems = []
            if res is None:
                problems.append(f"exit {p.returncode}: {p.stderr[-3000:]}")
            else:
                if not res["correct"] or res["failed"]:
                    problems.append(f"correct={res['correct']} failed={res['failed']}")
                if set(res["metrics"]) != want[trace]:
                    problems.append(f"metrics differ: {set(res['metrics']) ^ want[trace]}")
            print(f"{wl} trace={trace}: {'FAIL ' + '; '.join(problems) if problems else 'ok'}",
                  flush=True)
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
