"""The benchmark's own self-test (perfbench/smoke.py) as a suite test.

perfbench drives the package through its public functions and traces
some of them by module attribute name (``api.service.load_table``,
``page_offset``, ``page_keyset``, ``streaming.sync.merge_latest_wins``,
...). A program change that renames or inlines one of them, or makes an
answer disagree with DuckDB, breaks the benchmark; this test catches it
here rather than at the next benchmark run. It runs one workload at
sf0.001 untraced and traced, a few minutes in all.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_smoke():
    done = subprocess.run(
        [sys.executable, os.path.join("perfbench", "smoke.py")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert done.returncode == 0, (done.stdout[-3000:], done.stderr[-3000:])
    assert "smoke: ok" in done.stdout
