"""Driver-gate hazard class 4: session-conf dependency.

The correctness driver runs catalog entries in its OWN bare
SparkSession; only what ``__spark_entry__._wrap`` sets applies.  Round
6's sole red row (``time_type_ops`` / ``UNSUPPORTED_TIME_TYPE``) was an
entry that analyzed fine under ``session.py``'s defaults but not under
the driver's.  This test reproduces the driver's environment — a bare
session in a fresh subprocess (a ``newSession()`` of the test session
would inherit builder-time SparkConf entries, so it is NOT bare) — and
analyzes every catalog entry.  It fails on round-6 HEAD and passes with
the ``_wrap`` TimeType fix.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_all_catalog_entries_analyze_on_bare_driver_session(sf_dir):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "vanilla_session_check.py"),
            sf_dir,
        ],
        capture_output=True,
        text=True,
        timeout=580,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        "catalog entries depend on session.py confs the driver never sets:\n"
        + proc.stderr[-4000:]
        + proc.stdout[-1000:]
    )
