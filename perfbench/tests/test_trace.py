"""The benchmark's own measurement rules.  No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import subprocess
import sys
import time

import pytest

from perfbench import trace as T


class TestPercentileRule:
    @pytest.mark.parametrize("n, want", [
        (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0),
        (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None), (0, None),
    ])
    def test_highest_percentile_with_ten_samples_beyond(self, n, want):
        assert T.highest_supported_percentile(n) == want

    def test_p95_reported_only_when_supported(self):
        assert "p95" in T.tail_report(list(range(200)))
        thin = T.tail_report(list(range(199)))
        assert "p95" not in thin and thin["p90"] == pytest.approx(178.2)

    def test_short_sample_reports_median_only(self):
        assert T.tail_report([5.0] * 12) == {"n": 12, "p50": 5.0}
        assert T.tail_report([1.0, 2.0, 3.0] * 7)["p50"] == 2.0


class TestSelfTime:
    def test_children_covered_once_and_clipped(self):
        parent = T.Span(1, "p", "x", "t", None, 0.0, 10.0)
        kids = [T.Span(2, "a", "x", "t", 1, 1.0, 3.0),
                T.Span(3, "b", "x", "t", 1, 2.0, 5.0),   # overlaps a
                T.Span(4, "c", "x", "t", 1, 8.0, 12.0)]  # ends after parent
        grandchild = T.Span(5, "g", "x", "t", 3, 2.5, 4.5)
        st = T.self_times([parent, *kids, grandchild])
        assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
        assert st[3] == pytest.approx(3.0 - 2.0)  # only its own child
        assert st[2] == pytest.approx(2.0)

    def test_tracer_nests_spans_per_thread(self):
        tr = T.Tracer(True)
        with tr.span("outer", "queries", trace_id="e1"):
            time.sleep(0.02)
            with tr.span("inner", "spark"):
                time.sleep(0.05)
        outer, inner = sorted(tr.spans, key=lambda s: s.sid)
        assert inner.parent == outer.sid and inner.trace_id == "e1"
        st = T.self_times(tr.spans)
        assert st[outer.sid] == pytest.approx(outer.dur - inner.dur)
        assert st[outer.sid] < outer.dur

    def test_disabled_tracer_records_nothing(self):
        tr = T.Tracer(False)
        with tr.span("x", "queries") as s:
            assert s is None
        tr.record("y", "runtime", 0.0, 1.0)
        assert tr.spans == []


class TestOpenLoop:
    def test_latency_counts_wait_behind_a_stall(self):
        sched = T.Schedule(start=100.0, rate=10.0)  # one request per 0.1 s
        # request 0 stalls for 0.5 s; requests 1..4 were due meanwhile
        # and each completes 0.01 s after the stall ends
        done = {0: 100.5, 1: 100.51, 2: 100.52, 3: 100.53, 4: 100.54}
        lat = {i: T.open_loop_latency(sched.due(i), d) for i, d in done.items()}
        assert lat[0] == pytest.approx(0.5)
        assert lat[1] == pytest.approx(0.41)  # not the 0.01 s it took
        assert lat[4] == pytest.approx(0.14)

    def test_schedule_does_not_slow_down_and_records_lateness(self):
        start = time.perf_counter()
        sched = T.Schedule(start, rate=100.0)
        sched.wait_until(0)
        time.sleep(0.05)  # a stall past requests 1..4
        due5 = sched.wait_until(5)
        assert due5 == pytest.approx(start + 0.05)
        assert sched.late_max >= 0.0
        due1 = sched.wait_until(1)  # already overdue: no sleep
        assert due1 == pytest.approx(start + 0.01)
        assert sched.late_max >= 0.04


def test_size_metric_parsing():
    assert T.parse_size_metric("total (min, med, max)\n1.5 KiB (0.0 B, "
                               "0.5 KiB, 1.0 KiB)") == 1536.0
    assert T.parse_size_metric("12.0 MiB") == 12.0 * (1 << 20)
    assert T.parse_size_metric("") == 0.0


def test_tree_cpu_counts_grandchildren():
    """CPU burnt by a process two levels down, still alive, counts
    towards the root, as the JVM's Python workers count towards it."""
    burn = ("import time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print('burnt', flush=True)\n"
            "time.sleep(30)\n")
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys, time; "
         f"p = subprocess.Popen([sys.executable, '-c', {burn!r}]); "
         "time.sleep(30)"], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "burnt"
        assert T.tree_cpu_seconds(child.pid) >= 0.25
    finally:
        subprocess.run(["pkill", "-P", str(child.pid)], check=False)
        child.kill()
        child.wait()
