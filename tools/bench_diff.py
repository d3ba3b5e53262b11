"""Per-query bench diff between two rounds' BENCH_DETAIL records.

Usage:
    python tools/bench_diff.py            # newest vs previous round
    python tools/bench_diff.py 9 10       # explicit rounds
    python tools/bench_diff.py FILE FILE  # arbitrary detail files

Prints a per-query ratio table (new/old wall seconds), sorted
worst-first, plus totals. Entries present in only one record are listed
separately. The ratios are raw: wall time from two sessions also
differs by host speed and steal, so a regression verdict comes from
perfbench's paired CPU-time runs, not from this table.
"""
from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _detail_path(arg: str) -> str:
    if os.path.exists(arg):
        return arg
    return os.path.join(REPO, f"BENCH_DETAIL_r{int(arg):02d}.json")


def _latest_rounds() -> tuple[str, str]:
    rounds = sorted(
        int(m.group(1)) for f in os.listdir(REPO)
        if (m := re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", f))
    )
    if len(rounds) >= 2:
        return str(rounds[-2]), str(rounds[-1])
    if len(rounds) == 1:
        # fall back to the overwrite-in-place sidecar as "new"
        return str(rounds[-1]), os.path.join(REPO, "BENCH_DETAIL.json")
    raise SystemExit("no BENCH_DETAIL_r*.json records found")


def main() -> None:
    args = sys.argv[1:]
    if len(args) == 2:
        old_p, new_p = _detail_path(args[0]), _detail_path(args[1])
    elif not args:
        a, b = _latest_rounds()
        old_p, new_p = _detail_path(a), _detail_path(b)
    else:
        raise SystemExit(__doc__)
    with open(old_p) as f:
        old = json.load(f)
    with open(new_p) as f:
        new = json.load(f)
    oq, nq = old["queries"], new["queries"]
    common = sorted(set(oq) & set(nq))
    rows = sorted(
        ((nq[q] / oq[q] if oq[q] else float("inf"), q, oq[q], nq[q])
         for q in common),
        reverse=True,
    )
    print(f"old: {os.path.basename(old_p)} total={old['value']}s  |  "
          f"new: {os.path.basename(new_p)} total={new['value']}s")
    print(f"{'query':38s} {'old_s':>8s} {'new_s':>8s} {'ratio':>6s}")
    for ratio, q, o, n in rows:
        flag = "  <-- regressed" if ratio > 1.3 and n > 0.3 else ""
        print(f"{q:38s} {o:8.3f} {n:8.3f} {ratio:6.2f}{flag}")
    tot_o = sum(oq[q] for q in common)
    tot_n = sum(nq[q] for q in common)
    ratio_t = tot_n / tot_o if tot_o else float("nan")
    print(f"\ncommon {len(common)} entries: {tot_o:.1f}s -> {tot_n:.1f}s "
          f"({ratio_t:.3f}x)")
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print("removed:", ", ".join(only_old))
    if only_new:
        print("added:", ", ".join(f"{q} ({nq[q]:.3f}s)" for q in only_new))


if __name__ == "__main__":
    main()
