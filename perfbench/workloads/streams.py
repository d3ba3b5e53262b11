"""Observing the streaming runtime from outside: query progress, sink
directories and the on-disk view-state layout (base ``v{B}`` plus
``v{B}_d{k}`` deltas, with a ``CURRENT`` pointer that moves on every
fold)."""

from __future__ import annotations

import os

from perfbench import trace as T

PHASES = {"add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
          "latest_offset_ms": "latestOffset", "wal_commit_ms": "walCommit",
          "commit_offsets_ms": "commitOffsets",
          "query_planning_ms": "queryPlanning"}


def data_triggers(handle) -> list[dict]:
    return [p for p in handle.recentProgress if p["numInputRows"]]


def parquet_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # a fold swept it meanwhile
                pass
    return total / (1 << 20)


def view_layout(state_dir: str) -> tuple[int, int]:
    """(CURRENT base version, live delta count); (-1, 0) before the
    first trigger wrote state."""
    try:
        with open(os.path.join(state_dir, "CURRENT")) as fh:
            base = int(fh.read().strip())
    except FileNotFoundError:
        return -1, 0
    pre = f"v{base}_d"
    deltas = sum(1 for d in os.listdir(state_dir)
                 if d.startswith(pre) and d[len(pre):].isdigit())
    return base, deltas


def runtime_layers(prefix: str, handle, sink_dir: str) -> dict:
    """``runtime.<p>.*`` from a query's progress and its sink."""
    prog = data_triggers(handle)
    out = {f"{prefix}.triggers": float(len(prog)),
           f"{prefix}.sink_files": float(parquet_files(sink_dir))}
    if not prog:
        return out
    out[f"{prefix}.rows_per_trigger"] = (
        sum(p["numInputRows"] for p in prog) / len(prog))
    out[f"{prefix}.trigger_ms_p50"] = T.median(
        p["durationMs"]["triggerExecution"] for p in prog)
    for name, key in PHASES.items():
        out[f"{prefix}.{name}"] = T.median(
            p["durationMs"].get(key, 0) for p in prog)
    ops = prog[-1].get("stateOperators") or []
    out[f"{prefix}.state_rows"] = float(sum(o["numRowsTotal"] for o in ops))
    out[f"{prefix}.state_mb"] = sum(o["memoryUsedBytes"] for o in ops) / (1 << 20)
    return out


def trigger_spans(tracer, handle, wall_offset: float, name: str) -> None:
    """Record one span per data trigger, from its progress timestamp and
    duration, under the caller's open span; ``wall_offset`` maps epoch
    seconds onto the tracer's clock."""
    import datetime as dt

    for p in data_triggers(handle):
        start = dt.datetime.strptime(
            p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
        ).replace(tzinfo=dt.timezone.utc).timestamp() - wall_offset
        tracer.record(f"{name}.trigger", "runtime", start,
                      start + p["durationMs"]["triggerExecution"] / 1e3,
                      trace_id=f"{name}#{p['batchId']}",
                      group=str(handle.runId), rows=p["numInputRows"])
