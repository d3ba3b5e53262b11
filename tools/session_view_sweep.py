#!/usr/bin/env python
"""Session-view state-write cost sweep (SCALE.md evidence, round 9).

Round 8's session (merge_on_overlap) views rewrote their WHOLE state
every trigger (read base → overlap anti-join → write full result);
round 9 moved them onto the LSM delta log: a trigger appends only the
touched sessions and supersession resolves at READ time. This sweep
proves the per-trigger STATE-WRITE cost is now O(touched), not
O(total state), by timing `_view_upsert` itself — the end-to-end
trigger path adds a fixed ~seconds micro-batch overhead that masks
the state term at small sizes, so the state term is measured in
isolation at sizes where it dominates:

  1. seed a session-view state with N single-session keys
     (N = 200,000 and 2,000,000 — a 10x spread),
  2. time 1-row-touched upserts against each state size, for BOTH the
     round-9 delta-log path and a faithful inline reimplementation of
     the round-8 full-rewrite path (A/B on identical state),
  3. also time the state READ (the overlap-resolving scan) at both
     sizes — the delta log trades a bounded read-side join for the
     per-trigger rewrite, so both sides are reported.

Expected: legacy upsert grows ~linearly with N; delta upsert is flat.

Usage: python tools/session_view_sweep.py [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def legacy_session_upsert(vi, batch_df):
    """Round-8 merge_on_overlap upsert, verbatim semantics: full-state
    anti-join + union + rewrite per trigger (the path round 9 removed)."""
    spark = batch_df.sparkSession
    key_cols = list(vi.key_cols)
    batch_df = batch_df.persist()
    try:
        if batch_df.isEmpty():
            return
        ptr = os.path.join(vi.state_dir, "CURRENT")
        cur_v = -1
        if os.path.exists(ptr):
            with open(ptr) as f:
                cur_v = int(f.read().strip())
            cur = spark.read.schema(vi.schema).parquet(
                os.path.join(vi.state_dir, f"v{cur_v}")
            )
            plain = [k for k in key_cols
                     if k not in ("window_start", "window_end")]
            cond = (cur["window_start"] < batch_df["window_end"]) & (
                cur["window_end"] > batch_df["window_start"]
            )
            for k in plain:
                cond = cond & cur[k].eqNullSafe(batch_df[k])
            new = cur.join(batch_df, cond, "left_anti").unionByName(batch_df)
        else:
            new = batch_df
        nxt = cur_v + 1
        new.write.mode("overwrite").parquet(
            os.path.join(vi.state_dir, f"v{nxt}")
        )
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, ptr)
        for name in os.listdir(vi.state_dir):
            head = name[1:].split("_d", 1)[0]
            if name.startswith("v") and head.isdigit() and int(head) <= nxt - 2:
                shutil.rmtree(os.path.join(vi.state_dir, name),
                              ignore_errors=True)
    finally:
        batch_df.unpersist()


def run_case(spark, n_keys, mode, probes=5):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("window_end", T.TimestampType()),
        T.StructField("n", T.LongType()),
    ])
    state_dir = tempfile.mkdtemp(prefix=f"svs_{mode}_{n_keys}_")
    vi = ViewInfo("sv", "", None, state_dir, schema,
                  ("window_start", "window_end", "k"),
                  merge_on_overlap=True)
    base_s = 1_700_000_000

    def batch(lo, hi, end_off=10):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.timestamp_seconds(F.lit(base_s) + F.col("id") % 7)
            .alias("window_start"),
            F.timestamp_seconds(F.lit(base_s) + F.col("id") % 7 + end_off)
            .alias("window_end"),
            F.lit(1).cast("long").alias("n"),
        )

    upsert = (legacy_session_upsert if mode == "legacy"
              else HStreamEngine._view_upsert)
    upsert(vi, batch(0, n_keys))  # seed: state = n_keys sessions
    times = []
    for i in range(probes):
        # each probe EXTENDS one existing session (overlapping window)
        t0 = time.perf_counter()
        upsert(vi, batch(i, i + 1, end_off=12 + i))
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    got = HStreamEngine._view_state_frame(spark, vi).count()
    read_s = time.perf_counter() - t0
    assert got == n_keys, (got, n_keys)
    shutil.rmtree(state_dir, ignore_errors=True)
    return round(statistics.median(times), 3), round(read_s, 3)


def run_read_fanout(spark, n_keys, session_mode, checkpoints=(8, 32, 64)):
    """Read latency vs delta fan-out, up to the compaction hard cap
    (round-10 task: the r9 A/B measured reads at 5 deltas; the worst
    case a reader can meet is _VIEW_COMPACT_MAX_DELTAS). Compaction is
    disabled for the sweep so the raw fan-out cost is visible; the
    production cap stays 64. Measures BOTH view shapes — session
    (overlap anti-join) and keyed latest-wins (row_number window) —
    against the 0-delta plain-base scan."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hstream_spark.streaming.runtime import HStreamEngine, ViewInfo

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("window_end", T.TimestampType()),
        T.StructField("n", T.LongType()),
    ])
    state_dir = tempfile.mkdtemp(
        prefix=f"svr_{'sess' if session_mode else 'keyed'}_{n_keys}_"
    )
    vi = ViewInfo("sv", "", None, state_dir, schema,
                  ("window_start", "window_end", "k")
                  if session_mode else ("k",),
                  merge_on_overlap=session_mode)
    base_s = 1_700_000_000

    def batch(lo, hi, end_off=10):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.timestamp_seconds(F.lit(base_s) + F.col("id") % 7)
            .alias("window_start"),
            F.timestamp_seconds(F.lit(base_s) + F.col("id") % 7 + end_off)
            .alias("window_end"),
            F.lit(1).cast("long").alias("n"),
        )

    def timed_read():
        t0 = time.perf_counter()
        got = HStreamEngine._view_state_frame(spark, vi).count()
        dt = time.perf_counter() - t0
        assert got == n_keys, (got, n_keys)
        return round(dt, 3)

    out = {}
    HStreamEngine._view_upsert(vi, batch(0, n_keys))
    out["d0"] = timed_read()
    d = 0
    for cp in checkpoints:
        while d < cp:
            HStreamEngine._view_upsert(vi, batch(d, d + 1, end_off=12))
            d += 1
        _, ks = HStreamEngine._view_layout(vi.state_dir)
        assert len(ks) == cp, (len(ks), cp)  # compaction stayed out
        out[f"d{cp}"] = timed_read()
    shutil.rmtree(state_dir, ignore_errors=True)
    return out


def main() -> None:
    from hstream_spark import get_spark
    from hstream_spark.streaming.runtime import HStreamEngine

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "session_view_sweep.json"
    )
    spark = get_spark("session-view-sweep")
    spark.range(1).count()
    results = {}
    for n in (200_000, 2_000_000):
        for mode in ("delta", "legacy"):
            up, rd = run_case(spark, n, mode)
            results[f"{mode}_n{n}_upsert_s"] = up
            results[f"{mode}_n{n}_read_s"] = rd
            print(f"{mode} n={n}: upsert {up}s, state read {rd}s",
                  flush=True)
    # read-path fan-out sweep at the delta cap (compaction disabled so
    # the raw 64-delta read cost is measurable)
    saved = (HStreamEngine._VIEW_COMPACT_EVERY,
             HStreamEngine._VIEW_COMPACT_MAX_DELTAS)
    HStreamEngine._VIEW_COMPACT_EVERY = 10 ** 9
    HStreamEngine._VIEW_COMPACT_MAX_DELTAS = 10 ** 9
    try:
        for session_mode in (True, False):
            tag = "session" if session_mode else "keyed"
            fan = run_read_fanout(spark, 2_000_000, session_mode)
            for k, v in fan.items():
                results[f"read_{tag}_{k}_s"] = v
            print(f"read fan-out [{tag}]: {fan}", flush=True)
    finally:
        (HStreamEngine._VIEW_COMPACT_EVERY,
         HStreamEngine._VIEW_COMPACT_MAX_DELTAS) = saved
    for mode in ("delta", "legacy"):
        results[f"{mode}_upsert_growth_10x"] = round(
            results[f"{mode}_n2000000_upsert_s"]
            / results[f"{mode}_n200000_upsert_s"], 2
        )
    print(json.dumps(results))
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
