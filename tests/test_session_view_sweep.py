"""Toy-size run of ``tools/session_view_sweep.py``. The tool drives
``HStreamEngine._view_upsert``, ``_view_state_frame`` and
``_view_layout`` directly, so a rename or a change to the view-state
layout shows here instead of at the tool's next manual run."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools"),
)


def test_upsert_and_read_fanout_run(spark, monkeypatch):
    """Both upsert paths and the delta fan-out read keep every key:
    each call asserts its own state count."""
    import session_view_sweep as sweep

    from hstream_spark.streaming.runtime import HStreamEngine

    for mode in ("delta", "legacy"):
        upsert_s, read_s = sweep.run_case(spark, 300, mode, probes=2)
        assert upsert_s >= 0 and read_s >= 0
    monkeypatch.setattr(HStreamEngine, "_VIEW_COMPACT_EVERY", 10 ** 9)
    monkeypatch.setattr(HStreamEngine, "_VIEW_COMPACT_MAX_DELTAS", 10 ** 9)
    for session_mode in (True, False):
        fan = sweep.run_read_fanout(spark, 300, session_mode, checkpoints=(2, 4))
        assert set(fan) == {"d0", "d2", "d4"}
