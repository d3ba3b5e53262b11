"""Toy-size run of ``tools/view_retention_sweep.py``. The tool drives
``HStreamEngine._view_upsert`` and the state-size helpers directly, so a
rename or a change to the state write shows here instead of at the
tool's next manual run."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools"),
)


def test_retention_bounds_state(spark, monkeypatch):
    """With retention the state ends below the unretained state; each
    run's own check (the newest window holds every key) passes."""
    import view_retention_sweep as sweep

    monkeypatch.setattr(sweep, "KEYS", 20)
    monkeypatch.setattr(sweep, "TRIGGERS", 24)
    unbounded = sweep.run_mode(spark, None)
    bounded = sweep.run_mode(spark, sweep.RETENTION_S)
    assert len(unbounded) == len(bounded) == 24
    assert unbounded[-1] >= 20 * 24
    assert bounded[-1] < unbounded[-1]
