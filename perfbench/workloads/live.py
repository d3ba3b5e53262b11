"""``stream_live``: open-loop ingest over the Kafka wire beside
scheduled view reads.

A separate generator process (``perfbench.producer``) produces seeded
events into an embedded ``KafkaStubBroker``.  The stream is declared
with ``kafka_poll_interval_ms = 0`` and a poller thread here calls the
tailer's ``poll()`` on a fixed cadence, the call the engine's own
background loop makes.  Two standing queries run on the stream: a
filter CSAS and an unwindowed ``GROUP BY user_id`` view keeping
``COUNT``, ``SUM(value)`` and ``MAX(gen_ms)``.

Set-up ends with ``WARMUPS`` untimed catch-ups (below) and one read
of each kind, so the standing queries and the reads have planned,
run and been compiled before timing starts.  The run then has two
phases:

1. closed loop: a fixed number of times, set by the run's seconds,
   ``BACKLOG`` events are produced untimed and then drained, from the
   first poll until both queries have processed everything; the
   fastest drain is ``wall_s`` (``live_catchup_s`` in the report), as
   host CPU steal only ever adds time to a drain.  Each drain is one trigger per query.
   ``cpu_s`` is the CPU the whole phase costs, per catch-up;
2. open loop: the generator offers ``RATE`` events/s for half the
   run's seconds while a reader thread issues one-shot SELECTs on a
   fixed schedule, alternating a point lookup by a Zipf-drawn user and
   a full-view scan ``SELECT MAX(last_gen)``.  Read latency is timed
   from when each read was due; freshness is the due time of a scan
   minus the newest ``gen_ms`` it returned.

Read latencies and freshness are reported but not gated: on a 4-CPU
VM a spell of 16-18 % host CPU steal doubled read latency (ten seeds
spread 0.61), and open-loop reads also queue behind whichever trigger
runs when they fall due.  Each percentile is reported only with the
samples it needs.

The benchmark process runs three threads (main, poller, reader) and
two wire connections (the tailer's and the generator's).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from perfbench import inputs
from perfbench import trace as T
from perfbench.workloads import Ctx, Outcome
from perfbench.workloads import streams as S

# offered events/s: about half the rate at which tailer lag starts to
# grow on a 4-CPU VM (README § Sizing).  PERFBENCH_LIVE_RATE overrides
# it only to repeat that calibration.
RATE = float(os.environ.get("PERFBENCH_LIVE_RATE", "4000"))
WARMUPS = 4  # catch-ups of BACKLOG events run untimed during set-up
BACKLOG = 2_000  # events drained by each closed-loop catch-up
# A catch-up, producing included, takes about CATCHUP_S on an idle
# 4-CPU VM; a run times seconds / CATCHUP_S of them (at least
# MIN_CATCHUPS), a count that does not depend on how fast the host is.
CATCHUP_S = 2.0
MIN_CATCHUPS = 4
OPEN_LOOP = 0.5  # open-loop length, as a share of the run's seconds
POLL_S = 0.25  # poller cadence
READ_RATE = 1.0  # reads/s, lookups and scans alternating
USERS = 5000
TOPIC = "live_events"
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


class _Generator:
    """The generator process and its one-line-per-command protocol."""

    def __init__(self, bootstrap: str, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.producer", bootstrap, TOPIC,
             str(seed), str(USERS)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=ROOT)

    def ask(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited on {cmd!r} "
                               f"(status {self.proc.wait()})")
        out = json.loads(line)
        if "error" in out:
            raise RuntimeError(out["error"])
        return out

    def close(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
        except (BrokenPipeError, OSError):
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def run(ctx: Ctx) -> Outcome:
    from hstream_spark.plans.parser import parse
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.streaming.runtime import HStreamEngine

    spark = ctx.spark
    broker = KafkaStubBroker()
    broker.create_topic(TOPIC, partitions=1)
    gen = _Generator(broker.bootstrap, ctx.seed)
    eng = HStreamEngine(spark, os.path.join(ctx.work, "engine"),
                        streaming_shuffle_partitions=4)
    failures: list[str] = []
    try:
        eng.execute(
            "CREATE STREAM lev (event_id INTEGER, user_id INTEGER, "
            "event_type STRING, value FLOAT, gen_ms INTEGER) WITH ("
            f"\"kafka_topic\" = '{TOPIC}', "
            f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
            "\"kafka_poll_interval_ms\" = 0);")
        eng.execute("CREATE STREAM lf AS SELECT event_id, user_id, value "
                    "FROM lev WHERE event_type = 'click';")
        eng.execute("CREATE VIEW lv AS SELECT user_id, COUNT(*) AS n, "
                    "SUM(value) AS s, MAX(gen_ms) AS last_gen FROM lev "
                    "GROUP BY user_id;")
        tailer = eng.connectors["__kafka_lev"].handle
        filter_q = next(q for q in eng.queries.values()
                        if q.sink_stream == "lf").handle
        view = eng.views["lv"]

        def drain() -> None:
            while tailer.poll():
                pass
            filter_q.processAllAvailable()
            view.handle.processAllAvailable()

        ctx.mark("engine")
        # warm-up: untimed catch-ups of the timed size and the first read
        # of each kind plan and compile what every later one reuses
        phase = _LivePhase(ctx, eng, tailer, view, parse)
        for _ in range(WARMUPS):
            gen.ask(f"backlog {BACKLOG}")
            drain()
        phase.read_once(0, None, "warmup")
        phase.read_once(1, None, "warmup")
        ctx.mark("warmup")

        # phase 1: closed-loop catch-ups through the whole pipeline
        ctx.start_timing()
        cpu0 = T.cpu_seconds(spark)
        catchups = []
        for _ in range(max(MIN_CATCHUPS, round(ctx.seconds / CATCHUP_S))):
            gen.ask(f"backlog {BACKLOG}")
            t = time.perf_counter()
            drain()
            catchups.append(time.perf_counter() - t)
        # per catch-up, over the whole phase: work a drain leaves to
        # run after it returns (state cleanup, listeners) counts too
        cpu_s = (T.cpu_seconds(spark) - cpu0) / len(catchups)

        # phase 2: open loop
        phase.start()
        try:
            gen_out = gen.ask(f"live {RATE} {ctx.seconds * OPEN_LOOP}")
        finally:
            phase.stop()
        failures += phase.errors
        drain()
        for h in (filter_q, view.handle):
            if h.exception() is not None:
                failures.append(f"query died: {h.exception()}")
        produced = gen_out["produced"]
        checks = _check(eng, produced, failures)
        layers = _layers(ctx, eng, phase, gen_out, filter_q, view) \
            if ctx.traced else {}
    finally:
        gen.close()
        eng.shutdown()
        broker.close()

    plain = [r for r in phase.reads if not r["traced"]]
    attempted = 2 + len(catchups) + len(phase.reads) + 3
    # the fastest catch-up: host CPU steal comes in bursts of seconds
    # that only ever add time, so the fastest of the catch-ups spread
    # over the run is the steadiest estimate of the pipeline's cost
    wall = min(catchups)
    report = {"setup_s": (ctx.setup_s, "s"),
              "failed_frac": (len(failures) / attempted, "ratio"),
              "live_catchup_s": (wall, "s"),
              "live_catchup_median_s": (T.median(catchups), "s")}
    for kind, key in (("lookup", "latency_ms"), ("scan", "latency_ms"),
                      ("freshness", "freshness_ms")):
        vals = [r[key] for r in plain
                if r["kind"] == ("scan" if kind == "freshness" else kind)]
        for pname, v in T.tail_report(vals).items():
            if pname != "n":
                report[f"live_{kind}_{pname}_ms"] = (v, "ms")
    return Outcome(
        attempted=attempted,
        failures=failures,
        e2e={"wall_s": wall, "cpu_s": cpu_s},
        report=report,
        inputs={"warmup_catchups": WARMUPS, "catchups": len(catchups),
                "catchup_events": BACKLOG, "offered_rate": RATE,
                "open_loop_s": ctx.seconds * OPEN_LOOP,
                "live_events": gen_out["live_events"], "produced": produced,
                "reads": len(phase.reads), "read_rate": READ_RATE,
                "poll_s": POLL_S, "users": USERS},
        layers=layers,
        lateness={"gen": gen_out["late_ms_max"],
                  "reader": phase.reader_late_max * 1e3},
        detail={"checks": checks, "catchup_s": catchups,
                "reads": phase.reads,
                "polls": phase.polls},
    )


class _LivePhase:
    """The poller and reader threads of the open-loop phase."""

    def __init__(self, ctx, eng, tailer, view, parse):
        self.ctx, self.eng, self.tailer, self.view = ctx, eng, tailer, view
        self.parse = parse
        self.rng = np.random.default_rng(ctx.seed + 1)
        self.stop_ev = threading.Event()
        self.reads: list[dict] = []
        self.polls: list[dict] = []
        self.errors: list[str] = []
        self.reader_late_max = 0.0
        self.offset = time.time() - time.perf_counter()
        self.threads = [threading.Thread(target=self._poller, name="poller"),
                        threading.Thread(target=self._reader, name="reader")]

    def start(self) -> None:
        self.t0 = time.perf_counter()
        for t in self.threads:
            t.start()

    def stop(self) -> None:
        self.stop_ev.set()
        for t in self.threads:
            t.join()

    def _poller(self) -> None:
        sched = T.Schedule(self.t0, 1.0 / POLL_S)
        tracer, i = self.ctx.tracer, 0
        while not self.stop_ev.is_set():
            sched.wait_until(i, self.stop_ev)
            if self.stop_ev.is_set():
                break
            rec = {}
            with tracer.span("poll", "sources", trace_id=f"poll#{i}"):
                t = time.perf_counter()
                try:
                    rec["rows"] = self.tailer.poll()
                except Exception as exc:  # noqa: BLE001 — counted, not fatal
                    self.errors.append(f"poll {i}: {type(exc).__name__}: {exc}")
                    rec["rows"] = 0
                rec["poll_ms"] = (time.perf_counter() - t) * 1e3
                if self.ctx.traced:
                    lag = self.tailer.lag()
                    rec["lag"] = sum(p["lag"] for p in lag.values())
            self.polls.append(rec)
            i += 1

    def _reader(self) -> None:
        sched = T.Schedule(self.t0, READ_RATE)
        i = 0
        while not self.stop_ev.is_set():
            due = sched.wait_until(i, self.stop_ev)
            if self.stop_ev.is_set():
                break
            rec = self.read_once(i, due, "read")
            if rec is not None:
                self.reads.append(rec)
            i += 1
        self.reader_late_max = sched.late_max

    def read_once(self, i: int, due, tag: str) -> dict | None:
        """Read ``i``: even reads are point lookups, odd ones full-view
        scans.  Open-loop reads pass the time they were ``due``; a
        closed-loop read (``due=None``) is timed from its own start.
        ``tag`` names the phase in the read's trace id.  Returns None,
        and records the error, when the read fails."""
        if due is None:
            due = time.perf_counter()
        kind = "lookup" if i % 2 == 0 else "scan"
        if kind == "lookup":
            user = int(inputs.zipf_users(self.rng, 1, USERS)[0])
            sql = f"SELECT n, s FROM lv WHERE user_id = {user};"
        else:
            sql = "SELECT MAX(last_gen) AS g FROM lv;"
        # traced runs trace every other pair of reads, so traced and
        # untraced reads of both kinds interleave in the same run
        on = self.ctx.traced and i % 4 >= 2
        rec = {"kind": kind, "traced": on}
        try:
            rec.update(self._read(sql, on, f"{tag}#{i}"))
        except Exception as exc:  # noqa: BLE001 — counted, not fatal
            self.errors.append(f"{tag} read {i}: {type(exc).__name__}: {exc}")
            return None
        rec["latency_ms"] = T.open_loop_latency(due, rec.pop("done")) * 1e3
        if kind == "scan":
            rec["freshness_ms"] = (due + self.offset) * 1e3 - rec["rows"][0][0]
        rec.pop("rows")
        return rec

    def _read(self, sql: str, traced: bool, trace_id: str) -> dict:
        span = self.ctx.tracer.span if traced else T.untraced
        out = {}
        with span("read", "plans", trace_id=trace_id):
            if traced:
                # the parse alone, timed from outside; execute() below
                # parses again as part of building the plan
                t = time.perf_counter()
                self.parse(sql)
                out["parse_ms"] = (time.perf_counter() - t) * 1e3
                out["deltas"] = S.view_layout(self.view.state_dir)[1]
            t = time.perf_counter()
            with span("build", "plans"):
                df = self.eng.execute(sql)
            out["build_ms"] = (time.perf_counter() - t) * 1e3
            with span("collect", "spark"):
                out["rows"] = [tuple(r) for r in df.collect()]
        out["done"] = time.perf_counter()
        return out


def _check(eng, produced: int, failures: list) -> dict:
    """Every produced event is in the stream exactly once, the view
    counts each of them, and the filter sink holds exactly the clicks."""
    rows = eng.execute("SELECT event_id, event_type FROM lev;").collect()
    ids = [r["event_id"] for r in rows]
    want_clicks = sum(r["event_type"] == "click" for r in rows)
    total = eng.execute("SELECT SUM(n) AS t FROM lv;").collect()[0]["t"]
    clicks = len(eng.execute("SELECT event_id FROM lf;").collect())
    out = {"produced": produced, "stream_rows": len(ids),
           "distinct_ids": len(set(ids)), "view_sum_n": total,
           "filter_rows": clicks}
    if len(ids) != produced or len(set(ids)) != produced:
        failures.append(f"stream holds {len(ids)} rows / {len(set(ids))} "
                        f"ids for {produced} produced")
    if total != produced:
        failures.append(f"view counts {total} events for {produced} produced")
    if clicks != want_clicks:
        failures.append(f"filter sink holds {clicks} of {want_clicks} clicks")
    return out


def _layers(ctx, eng, phase, gen_out, filter_q, view) -> dict:
    stats = T.SparkStats(ctx.spark)
    stats.drain_listener_bus()
    offset = time.time() - time.perf_counter()
    S.trigger_spans(ctx.tracer, filter_q, offset, "live_filter")
    S.trigger_spans(ctx.tracer, view.handle, offset, "live_view")
    traced = [r for r in phase.reads if r["traced"]]
    plain = [r for r in phase.reads if not r["traced"]]
    polls = phase.polls
    layers = {
        "plans.parse_ms_p50": T.median(r["parse_ms"] for r in traced),
        "plans.select_build_ms_p50": T.median(r["build_ms"] for r in traced),
        "runtime.view.live.deltas_at_read_p50": T.median(
            r["deltas"] for r in traced),
        "runtime.view.live.folds": float(max(
            S.view_layout(view.state_dir)[0], 0)),
        "runtime.view.live.state_mb": S.dir_mb(view.state_dir),
        "sources.produce_ms_p50": gen_out["produce_ms_p50"],
        "sources.poll_ms_p50": T.median(p["poll_ms"] for p in polls),
        "sources.poll_ms_max": max(p["poll_ms"] for p in polls),
        "sources.rows_per_poll": sum(p["rows"] for p in polls) / len(polls),
        "sources.lag_records_max": float(max(p["lag"] for p in polls)),
        "sources.stream_files_end": float(S.parquet_files(
            eng.streams["lev"].path)),
        "trace.overhead_frac": T.median(r["latency_ms"] for r in traced)
        / T.median(r["latency_ms"] for r in plain) - 1,
    }
    layers.update(S.runtime_layers("runtime.live_view", view.handle,
                                   view.state_dir))
    layers.update(S.runtime_layers("runtime.live_filter", filter_q,
                                   eng.streams["lf"].path))
    groups = {s.group for s in ctx.tracer.spans}
    groups |= {str(filter_q.runId), str(view.handle.runId)}
    sums = stats.stage_totals(stats.job_ids(groups))
    layers.update({f"spark.{k}": v for k, v in sums.items()})
    layers["spark.pinned_mb_end"] = stats.pinned_mb()
    layers["spark.pinned_mb_max"] = layers["spark.pinned_mb_end"]
    return layers
