"""Bench-harness unit tests — no SparkSession needed.

``bench.py`` brackets every catalog entry with /proc/stat reads so each
timing carries the host's steal, iowait and busy share over its own
window; the bracket math must read those shares correctly. ``main()``
runs here against a stub session and a stub ``REGISTRY`` to hold its
driver contract: one timing per entry in registration order (a cold and
a warm one for ``hypertable_rollup``), a failing entry recorded without
stopping the sweep, the ``BENCH_DETAIL`` sidecars, and the compact last
line. ``tools/bench_diff.py`` prints raw new/old ratios between two
detail records, and ``tools/stream_scale_sweep.py`` drives
``bench_streaming``.
"""

from __future__ import annotations

import importlib.util
import io
import json
import os
from types import SimpleNamespace

import pytest

import bench

_TOOLS = os.path.join(os.path.dirname(__file__), "..", "tools")


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench_diff = _load_tool("bench_diff")


class TestProcStatBracket:
    def test_env_delta_reads_steal_and_iowait(self):
        # user nice system idle iowait irq softirq steal
        before = (1000, 600, 10, 0)
        after = (2000, 1100, 40, 60)  # +1000 total: 500 idle, 30 iowait, 60 steal
        env = bench._env_delta(before, after)
        assert env["steal_pct"] == 6.0
        assert env["iowait_pct"] == 3.0
        assert env["busy_pct"] == 47.0

    def test_env_delta_degenerate_windows(self):
        assert bench._env_delta(None, (10, 1, 0, 0)) == {}
        assert bench._env_delta((10, 1, 0, 0), (10, 1, 0, 0)) == {}

    def test_proc_stat_live(self):
        snap = bench._proc_stat()
        assert snap is not None
        total, idle, iowait, steal = snap
        assert total >= idle + iowait + steal >= 0

    def test_proc_stat_sums_first_eight_fields(self, monkeypatch):
        # guest/guest_nice (fields 9-10) are already inside user/nice
        line = "cpu  100 1 50 800 20 3 4 22 9 9\ncpu0 1 2 3 4 5 6 7 8\n"
        monkeypatch.setattr(bench, "open", lambda *_: io.StringIO(line),
                            raising=False)
        assert bench._proc_stat() == (1000, 800, 20, 22)

    def test_proc_stat_without_steal_field(self, monkeypatch):
        line = "cpu  10 0 5 80 5 0 0\n"
        monkeypatch.setattr(bench, "open", lambda *_: io.StringIO(line),
                            raising=False)
        assert bench._proc_stat() == (100, 80, 5, 0)

    def test_proc_stat_unreadable_is_none(self, monkeypatch):
        def unreadable(*_):
            raise OSError("no /proc")

        monkeypatch.setattr(bench, "open", unreadable, raising=False)
        assert bench._proc_stat() is None


class _StubSpark:
    def __init__(self):
        self.cleared = 0
        self.stopped = False
        self.catalog = SimpleNamespace(clearCache=self._clear)

    def _clear(self):
        self.cleared += 1

    def range(self, n):
        return SimpleNamespace(count=lambda: n)

    def stop(self):
        self.stopped = True


class _NoopWrite:
    """The ``df.write.mode(...).format("noop").save()`` chain."""

    def __init__(self, saves: list, name: str):
        self.saves, self.name = saves, name
        self.write = self

    def mode(self, mode):
        assert mode == "overwrite"
        return self

    def format(self, fmt):
        assert fmt == "noop"
        return self

    def save(self):
        self.saves.append(self.name)


@pytest.fixture
def run_main(monkeypatch, tmp_path, capsys):
    """Run ``bench.main()`` over stub entries; sidecars land in tmp_path."""
    import hstream_spark
    from hstream_spark import queries

    def run(entries, streaming=None, runs="2"):
        calls, saves, resets = [], [], []
        stub = _StubSpark()

        def builder_for(name, fail):
            def builder(spark, sf_dir):
                assert spark is stub
                calls.append((name, sf_dir))
                if fail:
                    raise ValueError(f"{name} broke")
                return _NoopWrite(saves, name)
            return builder

        registry = {
            name: SimpleNamespace(builder=builder_for(name, fail))
            for name, fail in entries
        }
        sf_dir = str(tmp_path / "sf0.01")
        monkeypatch.setattr(hstream_spark, "get_spark", lambda app: stub)
        monkeypatch.setattr(queries, "REGISTRY", registry)
        monkeypatch.setattr(queries, "reset_hypertable_layout",
                            resets.append)
        monkeypatch.setattr(bench, "bench_streaming",
                            streaming or (lambda spark, sf: {}))
        monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
        monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", runs)
        bench.main()
        lines = capsys.readouterr().out.strip().splitlines()
        return SimpleNamespace(
            detail=json.loads(lines[0]), summary=json.loads(lines[-1]),
            calls=calls, saves=saves, resets=resets, spark=stub,
            sf_dir=sf_dir, dir=tmp_path,
        )

    return run


class TestMainSweep:
    def test_times_every_entry_in_registration_order(self, run_main):
        r = run_main([("zeta", False), ("alpha", False), ("mid", False)])
        assert list(r.detail["queries"]) == ["zeta", "alpha", "mid"]
        assert r.calls == [(n, r.sf_dir) for n in
                           ("zeta", "zeta", "alpha", "alpha", "mid", "mid")]
        assert r.saves == [n for n, _ in r.calls]
        assert r.detail["errors"] == {}

    def test_hypertable_rollup_cold_warm_split(self, run_main):
        r = run_main([("a", False), ("hypertable_rollup", False)])
        assert list(r.detail["queries"]) == [
            "a", "hypertable_rollup_cold", "hypertable_rollup_warm",
        ]
        # the layout is reset before each cold run, never before warm ones
        assert r.resets == [r.sf_dir, r.sf_dir]
        assert [n for n, _ in r.calls].count("hypertable_rollup") == 4
        assert r.summary["n_queries"] == 3

    def test_failing_entry_recorded_and_sweep_continues(self, run_main):
        r = run_main([("a", False), ("bad", True), ("c", False)])
        assert list(r.detail["queries"]) == ["a", "c"]
        assert r.detail["errors"] == {"bad": "ValueError: bad broke"}
        assert r.summary["n_queries"] == 2
        assert r.summary["n_errors"] == 1

    def test_bench_runs_sets_repeats(self, run_main):
        r = run_main([("a", False)], runs="3")
        assert r.calls == [("a", r.sf_dir)] * 3

    def test_bench_runs_zero_still_times_once(self, run_main):
        r = run_main([("a", False)], runs="0")
        assert r.calls == [("a", r.sf_dir)]
        assert "a" in r.detail["queries"]

    def test_cache_cleared_after_every_entry(self, run_main):
        r = run_main([("a", False), ("bad", True), ("c", False)])
        assert r.spark.cleared == 3
        assert r.spark.stopped

    def test_detail_record_fields(self, run_main):
        r = run_main([("a", False), ("b", False)])
        assert set(r.detail) == {
            "metric", "value", "unit", "queries", "errors", "streaming",
            "query_env", "sf",
        }
        assert r.detail["value"] == round(sum(r.detail["queries"].values()), 3)
        assert set(r.detail["query_env"]) <= {"a", "b"}

    def test_last_line_is_compact_summary(self, run_main):
        r = run_main([("a", False), ("b", False)])
        assert set(r.summary) == {
            "metric", "value", "unit", "sf", "n_queries", "n_errors",
            "streaming", "detail",
        }
        assert r.summary["metric"] == "headline_queries_total_wall"
        assert r.summary["unit"] == "sec"
        assert r.summary["sf"] == 0.01
        assert r.summary["value"] == r.detail["value"]
        assert r.summary["detail"] == "BENCH_DETAIL.json"

    def test_sidecars_written_and_no_history_file(self, run_main):
        r = run_main([("a", False)])
        assert sorted(os.listdir(r.dir)) == [
            "BENCH_DETAIL.json", "BENCH_DETAIL_r01.json",
        ]
        for name in ("BENCH_DETAIL.json", "BENCH_DETAIL_r01.json"):
            with open(r.dir / name) as fh:
                assert json.load(fh) == r.detail

    def test_round_copy_follows_newest_bench_record(self, run_main, tmp_path):
        for n in (3, 7):
            (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
        r = run_main([("a", False)])
        assert (r.dir / "BENCH_DETAIL_r08.json").exists()
        assert not (r.dir / "BENCH_DETAIL_r04.json").exists()

    def test_streaming_rates_in_summary(self, run_main):
        def streaming(spark, sf):
            return {
                "map": {"records_per_sec": 900, "triggers": 4},
                "join": {"records_per_sec": 300, "triggers": 4},
            }

        r = run_main([("a", False)], streaming=streaming)
        assert r.summary["streaming"] == {
            "map_records_per_sec": 900, "join_records_per_sec": 300,
        }
        assert r.detail["streaming"]["map"]["triggers"] == 4

    def test_streaming_failure_kept_in_record(self, run_main):
        def streaming(spark, sf):
            raise RuntimeError("stream harness down")

        r = run_main([("a", False)], streaming=streaming)
        assert r.detail["streaming"]["error"] == (
            "RuntimeError: stream harness down"
        )
        assert r.summary["streaming"] == {}
        assert list(r.detail["queries"]) == ["a"]
        assert r.summary["n_errors"] == 0


def _write_detail(path, queries: dict, **extra) -> str:
    rec = {"value": round(sum(queries.values()), 3), "queries": queries}
    rec.update(extra)
    path.write_text(json.dumps(rec))
    return str(path)


def _diff_rows(capsys) -> dict[str, list[str]]:
    out = capsys.readouterr().out.splitlines()
    return {ln.split()[0]: ln.split()[1:] for ln in out[2:] if ln.strip()}


class TestBenchDiff:
    def test_ratios_are_raw_and_worst_first(self, tmp_path, monkeypatch,
                                            capsys):
        # a drift field, as older records carry, must not scale the ratio
        old = _write_detail(tmp_path / "o.json", {"a": 1.0, "b": 2.0},
                            drift=2.0)
        new = _write_detail(tmp_path / "n.json", {"a": 2.0, "b": 1.0},
                            drift=0.5)
        monkeypatch.setattr("sys.argv", ["bench_diff.py", old, new])
        bench_diff.main()
        out = capsys.readouterr().out
        rows = [ln.split() for ln in out.splitlines()[2:4]]
        assert [r[0] for r in rows] == ["a", "b"]
        assert [r[3] for r in rows] == ["2.00", "0.50"]
        assert "common 2 entries: 3.0s -> 3.0s (1.000x)" in out

    def test_regression_flag_needs_ratio_and_size(self, tmp_path,
                                                  monkeypatch, capsys):
        old = _write_detail(tmp_path / "o.json",
                            {"big": 1.0, "tiny": 0.1, "mild": 1.0})
        new = _write_detail(tmp_path / "n.json",
                            {"big": 1.4, "tiny": 0.25, "mild": 1.2})
        monkeypatch.setattr("sys.argv", ["bench_diff.py", old, new])
        bench_diff.main()
        rows = _diff_rows(capsys)
        assert rows["big"][-1] == "regressed"
        assert "regressed" not in rows["tiny"]  # 2.5x but under 0.3 s
        assert "regressed" not in rows["mild"]  # 1.2x

    def test_added_removed_and_zero_old_time(self, tmp_path, monkeypatch,
                                             capsys):
        old = _write_detail(tmp_path / "o.json",
                            {"gone": 1.0, "zero": 0.0, "kept": 1.0})
        new = _write_detail(tmp_path / "n.json",
                            {"fresh": 0.5, "zero": 0.2, "kept": 1.0})
        monkeypatch.setattr("sys.argv", ["bench_diff.py", old, new])
        bench_diff.main()
        out = capsys.readouterr().out
        assert "removed: gone" in out
        assert "added: fresh (0.500s)" in out
        zero_row = next(ln for ln in out.splitlines()
                        if ln.startswith("zero"))
        assert zero_row.split()[3] == "inf"

    def test_detail_path_takes_file_or_round(self, tmp_path):
        f = _write_detail(tmp_path / "x.json", {"a": 1.0})
        assert bench_diff._detail_path(f) == f
        assert bench_diff._detail_path("9") == os.path.join(
            bench_diff.REPO, "BENCH_DETAIL_r09.json"
        )

    def test_latest_rounds(self, tmp_path, monkeypatch):
        monkeypatch.setattr(bench_diff, "REPO", str(tmp_path))
        with pytest.raises(SystemExit):
            bench_diff._latest_rounds()
        (tmp_path / "BENCH_DETAIL_r11.json").write_text("{}")
        # one round: the in-place sidecar stands in for "new"
        assert bench_diff._latest_rounds() == (
            "11", str(tmp_path / "BENCH_DETAIL.json")
        )
        for n in (9, 10):
            (tmp_path / f"BENCH_DETAIL_r{n:02d}.json").write_text("{}")
        (tmp_path / "BENCH_DETAIL_r13_extra.json").write_text("{}")
        assert bench_diff._latest_rounds() == ("10", "11")

    def test_wrong_argument_count_exits(self, monkeypatch):
        monkeypatch.setattr("sys.argv", ["bench_diff.py", "9"])
        with pytest.raises(SystemExit):
            bench_diff.main()


def test_stream_scale_sweep_drives_bench_streaming(tmp_path, monkeypatch,
                                                   capsys):
    import hstream_spark

    sweep = _load_tool("stream_scale_sweep")
    stub = _StubSpark()
    seen = []

    def streaming(spark, sf):
        assert spark is stub
        seen.append(sf)
        rps = 100 if sf.endswith("small") else 150
        return {h: {"records_per_sec": rps, "trigger_ms_steady": 7}
                for h in ("map", "reduce", "join")}

    small, big = tmp_path / "small", tmp_path / "big"
    small.mkdir()
    big.mkdir()
    out_path = tmp_path / "sweep.json"
    monkeypatch.setattr(hstream_spark, "get_spark", lambda app: stub)
    monkeypatch.setattr(bench, "bench_streaming", streaming)
    monkeypatch.setenv("SCALE_SMALL", str(small))
    monkeypatch.setenv("SCALE_BIG", str(big))
    monkeypatch.setattr("sys.argv", ["stream_scale_sweep.py", str(out_path)])
    sweep.main()
    assert seen == [str(small), str(big)]
    with open(out_path) as fh:
        results = json.load(fh)
    assert results["summary"]["join"]["rps_ratio"] == 1.5
    assert stub.stopped
