"""Full-surface oracle differential in the default test path.

The driver's correctness gate samples a rotating ~50-query subset per
round; at round 2 that left 21 registered queries which had never been
driver-sampled. This test runs the local gate replica over EVERY
registered query at sf0.001 (~100 s), so a regression in an unsampled
query fails CI here instead of hiding until the driver rotates onto it.

Runs as a subprocess: oracle_check builds its own SparkSession with the
production configs, exactly as the tool is used standalone — sharing the
test-session Spark would change what is being verified. Its driver heap
defaults to 4g instead of 8g: the test session's JVM is alive at the same
time, and two 8g heaps do not fit a 16 GB host (the kernel OOM-killed the
gate's JVM at 8.2 GB resident). sf0.001 needs far less.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_registered_query_passes_oracle_gate_at_sf0001():
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO, "tools", "oracle_check.py"),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        cwd=_REPO,
        env={"SPARK_GRAFT_DRIVER_MEM": "4g", **os.environ},
        timeout=900,
    )
    tail = proc.stdout[-4000:] + proc.stderr[-2000:]
    assert proc.returncode == 0, f"oracle gate failed:\n{tail}"
    assert "0 failures" in proc.stdout, f"unexpected gate output:\n{tail}"
