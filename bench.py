"""Full-catalog timing sweep — driver contract.

Times every ``REGISTRY`` entry, in registration order, at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables) on
local[$SPARK_GRAFT_CPUS], then runs the map/reduce/join streaming
harness (``bench_streaming``). Each entry executes its full physical
plan via a noop sink (no driver collect) — measuring scan + shuffle +
agg/join work, not result transfer — and records the host's steal,
iowait and busy share over its own window in ``query_env``.

Output: the full record as one JSON line, mirrored to the
``BENCH_DETAIL.json`` sidecar, then a compact last line {"metric",
"value", "unit", "sf", "n_queries", "n_errors", "streaming",
"detail"}. A/B and regression checks go through ``perfbench/run.py``,
which gates on CPU work rather than wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _proc_stat() -> tuple[int, int, int, int] | None:
    """(total, idle, iowait, steal) jiffies from the aggregate cpu line,
    or None off-Linux. One 4 KB read — cheap enough to bracket every
    bench entry, so a mid-sweep steal burst lands on the entries it
    slowed."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        # user nice system idle iowait irq softirq steal ...
        total = sum(vals[:8])
        steal = vals[7] if len(vals) > 7 else 0
        return total, vals[3], vals[4], steal
    except (OSError, ValueError, IndexError):
        return None


def _env_delta(before, after) -> dict:
    """Steal/iowait/busy percentages over a bracketed interval."""
    if not before or not after:
        return {}
    dt = after[0] - before[0]
    if dt <= 0:
        return {}
    idle = after[1] - before[1]
    iowait = after[2] - before[2]
    steal = after[3] - before[3]
    return {
        "steal_pct": round(100.0 * steal / dt, 2),
        "iowait_pct": round(100.0 * iowait / dt, 2),
        "busy_pct": round(100.0 * (dt - idle - iowait) / dt, 1),
    }


def bench_streaming(spark, sf_dir: str) -> dict:
    """Streaming throughput — the reference's only published benchmark
    genre (hstream-diffflow/bench/throughout-{map,join,reduce}.hs:
    replay records through one operator, report records per interval).
    Here: the sf events table replays through the engine's file-backed
    streams in 64-file micro-batches and drives (a) a stateless
    map/filter continuous query, (b) a tumbling-window aggregate view
    (update mode), and (c) a stream-stream interval join. Reported per
    harness: input records/s and mean per-trigger latency."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hstream_spark.sources.tables import load_table
    from hstream_spark.streaming.runtime import HStreamEngine

    root = tempfile.mkdtemp(prefix="hstream_bench_stream_")
    # events span ~46 days; a large grace keeps replayed history out of
    # the late-row filter (production tails live data instead).
    # streaming_shuffle_partitions=4: stateful triggers pay a state-
    # store open/commit per shuffle partition, so local micro-batch
    # latency halves vs inheriting the batch 32 and improves again
    # 8→4 (round-5 sweep: join steady-state 1.6→1.3 s; RocksDB was
    # ALSO tried and loses locally — its native open/commit overhead
    # dominates at toy state sizes; a cluster with GBs of state wants
    # RocksDB and its own partition count). minBatchesToRetain=2
    # trims checkpoint retention I/O from every commit (default
    # retains 100 batches of state/offset files): join steady-state
    # 1.2→0.98 s at ~10k rows/trigger. Configs recorded in BASELINE.md.
    old_retain = spark.conf.get("spark.sql.streaming.minBatchesToRetain", None)
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    eng = HStreamEngine(spark, root, grace="3650 days",
                        streaming_shuffle_partitions=4)
    out: dict[str, dict] = {}
    try:
        eng.execute(
            "CREATE STREAM bev (event_id INTEGER, user_id INTEGER, "
            "event_type STRING, value FLOAT);"
        )
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", F.col("ts").alias("_ts")
        )
        # 256 files → 4 micro-batches at the engine's 64-file trigger
        ev.repartition(256).write.mode("append").parquet(eng.streams["bev"].path)

        def run(name: str, sql: str) -> None:
            start = time.perf_counter()
            eng.execute(sql)
            qname = next(reversed(eng.queries))
            handle = eng.queries[qname].handle
            handle.processAllAvailable()
            wall = time.perf_counter() - start
            progress = [p for p in handle.recentProgress if p["numInputRows"]]
            rows = sum(p["numInputRows"] for p in progress)
            trig_ms = [p["durationMs"]["triggerExecution"] for p in progress]
            out[name] = {
                "input_rows": rows,
                "wall_sec": round(wall, 3),
                "records_per_sec": round(rows / wall),
                "triggers": len(trig_ms),
                "trigger_ms_avg": round(sum(trig_ms) / max(len(trig_ms), 1)),
                # steady-state: the first data trigger pays one-time
                # codegen/JIT of the new plan — a long-running stream
                # never sees it again
                "trigger_ms_steady": round(
                    sum(trig_ms[1:]) / max(len(trig_ms) - 1, 1)
                ) if len(trig_ms) > 1 else round(sum(trig_ms)),
            }

        run(
            "map",
            "CREATE STREAM b_map AS SELECT event_id, user_id, value * 2 AS v2 "
            "FROM bev WHERE event_type = 'view';",
        )
        run(
            "reduce",
            "CREATE VIEW b_red AS SELECT user_id, COUNT(*) AS n, SUM(value) AS s "
            "FROM TUMBLE(bev, INTERVAL 1 HOUR) GROUP BY user_id;",
        )
        # two derived substreams joined on user_id within ±10 minutes —
        # the throughout-join shape (both sides replay concurrently)
        eng.execute(
            "CREATE STREAM b_views AS SELECT event_id AS vid, user_id AS vuid "
            "FROM bev WHERE event_type = 'view';"
        )
        eng.execute(
            "CREATE STREAM b_clicks AS SELECT event_id AS cid, user_id AS cuid "
            "FROM bev WHERE event_type = 'click';"
        )
        for q in eng.queries.values():
            if q.handle is not None:
                q.handle.processAllAvailable()
        run(
            "join",
            "CREATE STREAM b_joined AS SELECT vid, cid, vuid FROM b_views "
            "JOIN b_clicks ON b_views.vuid = b_clicks.cuid "
            "WITHIN (INTERVAL 10 MINUTE);",
        )
    finally:
        eng.shutdown()
        shutil.rmtree(root, ignore_errors=True)
        if old_retain is None:
            spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
        else:
            spark.conf.set(
                "spark.sql.streaming.minBatchesToRetain", old_retain
            )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hstream_spark import get_spark
    from hstream_spark.queries import REGISTRY, reset_hypertable_layout

    spark = get_spark("hstream_spark-bench")
    spark.range(1).count()

    # Steady-state timing: execute each plan twice and report the second
    # run. The first execution pays one-time JIT compilation of the
    # plan's generated code (AQE's runtime re-plan means the compiled
    # shapes are SF-specific, so a small-SF warm-up doesn't cover them);
    # the second run measures the actual scan/shuffle/agg work — the
    # number that scales with data volume on a long-lived cluster.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    query_env: dict[str, dict] = {}
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    def best_of(q, reset=None) -> float:
        best = float("inf")
        for _ in range(max(1, runs)):
            if reset is not None:
                reset(sf_dir)
            start = time.perf_counter()
            q.builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            best = min(best, time.perf_counter() - start)
        return round(best, 3)

    for name, q in REGISTRY.items():
        env_before = _proc_stat()
        try:
            if name == "hypertable_rollup":
                # deterministic cold/warm split: cold pays the chunked
                # layout write + first full rollup (layout reset before
                # each run), warm is a maintenance run with no new chunks
                timings["hypertable_rollup_cold"] = best_of(
                    q, reset_hypertable_layout
                )
                timings["hypertable_rollup_warm"] = best_of(q)
            else:
                timings[name] = best_of(q)
        except Exception as exc:  # noqa: BLE001 — one bad query must
            # not void the whole bench record; surface it in the JSON
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        env = _env_delta(env_before, _proc_stat())
        if env:
            query_env[name] = env
        # drop any operator-internal persists so queries don't inherit
        # block-manager pressure from earlier ones
        spark.catalog.clearCache()

    stream_env_before = _proc_stat()
    try:
        streaming = bench_streaming(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — keep the batch record intact
        streaming = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    stream_env = _env_delta(stream_env_before, _proc_stat())
    if stream_env and isinstance(streaming, dict):
        streaming["env"] = stream_env

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "streaming": streaming,
        "query_env": query_env,
        "sf": float(sf),
    }
    # Full per-query record: printed FIRST and mirrored to a sidecar
    # file. The driver captures only a ~2 KB stdout tail, so the LAST
    # line must be compact or the captured tail starts mid-line and the
    # bench gate can't parse it (BENCH_r03 `parsed: null`).
    print(json.dumps(detail))
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(repo_dir, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    # versioned per-round copy (BENCH_DETAIL_r{n}.json): round n inferred
    # as max(existing BENCH_r*.json)+1 — the driver writes BENCH_r{n}
    # AFTER running bench, so during round n the highest committed record
    # is r{n-1}. Local iteration runs overwrite it; the driver's run is
    # last and wins. Committed per round so per-query regression
    # attribution survives (round-9 verdict item 4).
    try:
        import re as _re

        rounds = [int(m.group(1)) for f in os.listdir(repo_dir)
                  if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))]
        n = (max(rounds) + 1) if rounds else 1
        with open(os.path.join(repo_dir, f"BENCH_DETAIL_r{n:02d}.json"),
                  "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "streaming": {
            f"{k}_records_per_sec": v.get("records_per_sec")
            for k, v in streaming.items()
            if isinstance(v, dict) and "records_per_sec" in v
        },
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
