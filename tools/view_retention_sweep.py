#!/usr/bin/env python
"""Windowed-view retention sweep (SCALE.md evidence, round 10).

Continuous windowed ingest into a TUMBLE-shaped view state, WITH vs
WITHOUT ``DURATION`` retention: every trigger touches a fresh window
for each key (the continuous-ingest steady state — old windows close,
new ones open). Without retention the base grows linearly with windows
ever closed (the round-9 verdict's unbounded-state finding); with
retention the compaction fold drops windows older than the event-time
high-water mark minus the retention, so the base size plateaus.

Drives ``_view_upsert`` directly (the state path where the fold lives —
end-to-end micro-batches add ~seconds of fixed trigger overhead that
only slows the sweep down, memory: stream_scale_sweep round 9) at the
PRODUCTION compaction cadence, and records the total on-disk state
rows after every trigger.

Usage: python tools/view_retention_sweep.py [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = 200           # groups per trigger
TRIGGERS = 48        # windows ingested per mode
WINDOW_S = 10        # TUMBLE size
RETENTION_S = 60.0   # DURATION


def run_mode(spark, retention):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

    schema = T.StructType([
        T.StructField("window_start", T.TimestampType()),
        T.StructField("window_end", T.TimestampType()),
        T.StructField("k", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    state_dir = tempfile.mkdtemp(prefix="vret_sweep_")
    vi = ViewInfo("rt", "", None, state_dir, schema,
                  ("window_start", "window_end", "k"), retention_secs=retention)
    base_s = 1_700_000_000
    sizes = []
    for t in range(TRIGGERS):
        ws = base_s + t * WINDOW_S
        batch = spark.range(KEYS).select(
            F.timestamp_seconds(F.lit(ws)).alias("window_start"),
            F.timestamp_seconds(F.lit(ws + WINDOW_S)).alias("window_end"),
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.lit(1).cast("long").alias("n"),
        )
        HStreamEngine._view_upsert(vi, batch)
        total = 0
        for name in os.listdir(state_dir):
            p = os.path.join(state_dir, name)
            if os.path.isdir(p) and name.startswith("v"):
                r = HStreamEngine._parquet_dir_size(p)[0]
                if r > 0:
                    total += r
        sizes.append(total)
    # correctness inside the horizon: newest window present and intact
    frame = HStreamEngine._view_state_frame(spark, vi)
    newest = frame.filter(
        F.col("window_end")
        == F.timestamp_seconds(F.lit(base_s + TRIGGERS * WINDOW_S))
    ).count()
    assert newest == KEYS, newest
    shutil.rmtree(state_dir, ignore_errors=True)
    return sizes


def main() -> None:
    from hstream_spark import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "view_retention_sweep.json"
    )
    spark = get_spark("view-retention-sweep")
    spark.range(1).count()
    unbounded = run_mode(spark, None)
    bounded = run_mode(spark, RETENTION_S)
    results = {
        "keys": KEYS, "triggers": TRIGGERS, "window_s": WINDOW_S,
        "retention_s": RETENTION_S,
        "state_rows_no_retention": unbounded,
        "state_rows_with_retention": bounded,
        "final_no_retention": unbounded[-1],
        "final_with_retention": bounded[-1],
        # bounded mode must plateau: the last quarter's max is no higher
        # than the ceiling implied by retention + fold-cadence lag
        "plateau_max_last_quarter": max(bounded[-TRIGGERS // 4:]),
    }
    print(json.dumps(results))
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
