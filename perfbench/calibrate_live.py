"""Find the offered rate at which ``stream_live``'s tailer lag starts to
grow, the rate the workload's ``RATE`` is set to about half of.

    python3 perfbench/calibrate_live.py --seed 1 --rates 400 800 1600 3200

Each rate is one traced ``stream_live`` run (``PERFBENCH_LIVE_RATE``
overrides the offered rate); its open loop lasts half of ``--seconds``.  From the run's polls it prints the lag
left after each poll (``tailer.lag()``, records), its mean over the
first and the last third of the open loop, the poll time and the
generator's lateness.  Lag "grows" at a rate when the last third's
mean exceeds the first third's by more than ``GROWTH``; a rate the
generator falls more than ``GEN_LATE_MS`` behind on counts as
saturated too, as it was never offered in full.  Whether the
poller held its cadence is printed too, but it is no criterion: with
both standing queries and the reads running, one poll takes over a
second on 4 CPUs at any rate, so the poller runs back to back.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

GROWTH = 0.25
GEN_LATE_MS = 1000.0
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def measure(rate: float, seed: int, seconds: float) -> dict:
    env = dict(os.environ, PERFBENCH_LIVE_RATE=str(rate))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "stream_live", "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1"], cwd=ROOT, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    side = os.path.join(ROOT, ".perfbench", "out",
                        f"stream_live-seed{seed}-trace1.json")
    with open(side) as fh:
        rec = json.load(fh)
    polls = rec["detail"]["polls"]
    third = max(1, len(polls) // 3)
    first = _mean([p["lag"] for p in polls[:third]])
    last = _mean([p["lag"] for p in polls[-third:]])
    poll_ms = sorted(p["poll_ms"] for p in polls)
    grows = last > (1 + GROWTH) * max(first, 1.0)
    return {
        "rate": rate, "correct": result["correct"], "polls": len(polls),
        "polls_scheduled": rec["inputs"]["open_loop_s"] / rec["inputs"]["poll_s"],
        "lag_first": first, "lag_last": last,
        "lag_max": max(p["lag"] for p in polls),
        "rows_per_poll": _mean([p["rows"] for p in polls]),
        "poll_ms_p50": poll_ms[len(poll_ms) // 2], "poll_ms_max": poll_ms[-1],
        "gen_late_ms": rec["env"]["gen_late_ms_max"],
        "grows": grows,
        "saturated": grows or rec["env"]["gen_late_ms_max"] > GEN_LATE_MS,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--rates", type=float, nargs="+",
                    default=[400, 800, 1600, 3200, 6400])
    args = ap.parse_args()
    rows = []
    for rate in args.rates:
        row = measure(rate, args.seed, args.seconds)
        rows.append(row)
        print(json.dumps({k: round(v, 1) if isinstance(v, float) else v
                          for k, v in row.items()}), flush=True)
    onset = min((r["rate"] for r in rows if r["saturated"]), default=None)
    steady = [r["rate"] for r in rows
              if onset is None or r["rate"] < onset]
    print(json.dumps({"saturated_from": onset,
                      "highest_steady": max(steady, default=None)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
