"""Small-mode self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload (the two in BENCHMARK.json and ``analytics_mix``)
with ``--small`` (sf0.001 tables, a 200-line spool, a 60-document
corpus), untraced and traced, and fails unless each run prints every
metric BENCHMARK.json names for its mode, with its unit, and no
operation failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["catalog_rw", "analytics_mix", "corpus_build_serve"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "7",
                   "--seconds", "2", "--trace", str(trace), "--small"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                out = None
            problems = []
            if p.returncode != 0 or out is None:
                problems.append(f"exit {p.returncode}, no result\n{p.stderr[-2000:]}")
            else:
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"metrics differ: missing {sorted(set(want[trace]) - set(got))}, "
                                    f"extra {sorted(set(got) - set(want[trace]))}, "
                                    f"units {[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
                if out["failed"] or not out["correct"] or out["attempted"] < 1:
                    problems.append(f"failed {out['failed']} of {out['attempted']}")
                if trace and out["metrics"]["error_rate"]["value"] != 0:
                    problems.append("error_rate is not 0")
            print(f"{'FAIL' if problems else 'ok  '} {wl} trace={trace}", flush=True)
            for msg in problems:
                print("    " + msg)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
