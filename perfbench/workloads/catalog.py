"""``catalog``: closed loop, one client, over the batch catalog.

The entries run over the repository's own test data at scale 0.1
(``perfbench/data/sf0.1``, a copy of the driver-generated tables the
repository's bench reads), so text, embedding and key distributions
are the real ones.  The timed entries are every ``STRIDE``-th entry of
``REGISTRY`` in registration order, which samples each operator family
in proportion to its size, less ``UNTIMED``; the seed sets the order
they run in.  Every entry runs untimed in ``WARMUPS`` passes of the
timed kind (counted in set-up).  Then a fixed number of timed passes
follows, set by the run's seconds; each timed execution is
``builder()`` followed by a ``noop`` write.  ``cpu_s`` is the median
CPU a pass costs, and ``wall_s`` (``catalog_wall_s`` in the report)
sums each entry's fastest pass.  The cache is never cleared between
entries, as users do not clear it either.

After timing, each timed entry and a seed-chosen slice of the whole
catalog (the entries whose ``REGISTRY`` index is the seed modulo
``CHECK_STRIDE``) run once more at scale 0.01 (``tools/check.py``'s
scale, ``perfbench/data/sf0.01``), and their collected output is
compared with the entry's DuckDB oracle by ``tools/check.py``'s
``compare``.  Any ``CHECK_STRIDE`` consecutive seeds check every entry.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from perfbench import trace as T
from perfbench.workloads import Ctx, Outcome

STRIDE = 24
# Left out of the timed sample: warmed, dsir_select alone runs 2.3-3.5 s
# a pass at sf0.1 on 4 CPUs, longer than the other six together, and it
# is still getting faster after seven passes, so timing it would need
# more set-up than a run has.  Its output is checked in its seed's slice,
# like every entry's.
UNTIMED = ("dsir_select",)
# On a 4-CPU VM the other entries keep getting faster for about five
# passes (JIT and code-generation caches); set-up runs that many.
WARMUPS = 5
# A timed pass takes about PASS_S on an idle 4-CPU VM; a run times
# seconds / PASS_S passes (at least MIN_PASSES), a count that does not
# depend on how fast the host happens to be.
PASS_S = 2.0
MIN_PASSES = 3
CHECK_STRIDE = 24
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
DATA = os.path.join(ROOT, "perfbench", "data", "sf0.1")
CHECK_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def entry_names() -> list[str]:
    from hstream_spark.queries import REGISTRY

    return [n for n in list(REGISTRY)[::STRIDE] if n not in UNTIMED]


def check_slice(seed: int) -> list[str]:
    """The entries checked at scale 0.01 by the run with ``seed``."""
    from hstream_spark.queries import REGISTRY

    return list(REGISTRY)[seed % CHECK_STRIDE::CHECK_STRIDE]


def _execute(builder, spark, data: str, span=T.untraced) -> None:
    """One timed execution: ``builder()``, then a ``noop`` write."""
    with span("build", "queries"):
        df = builder(spark, data)
    with span("execute", "spark"):
        df.write.format("noop").mode("overwrite").save()


def _load_check_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:160]}"


def run(ctx: Ctx) -> Outcome:
    from hstream_spark.queries import REGISTRY

    spark = ctx.spark
    names = entry_names()
    random.Random(ctx.seed).shuffle(names)
    failures: list[str] = []

    # warm-up: untimed passes over the entries in the timed order, so
    # the timed passes meet compiled plans and JIT code already warmed
    # on the same interleaving of entries
    warm_s = dict.fromkeys(names, 0.0)
    live = list(names)
    for _ in range(WARMUPS):
        for name in list(live):
            t = time.perf_counter()
            try:
                _execute(REGISTRY[name].builder, spark, DATA)
            except Exception as exc:  # noqa: BLE001 — an entry error is a result
                failures.append(f"{name}: {_error(exc)}")
                live.remove(name)
            warm_s[name] += time.perf_counter() - t
    # Spark's listeners handle the warm-up's events asynchronously;
    # let them finish in set-up rather than in the first timed pass
    T.SparkStats(spark).drain_listener_bus()
    ctx.mark("warmup")

    tracer = ctx.tracer
    stats = T.SparkStats(spark) if ctx.traced else None
    passes: list[dict] = []
    traced_pass: list[bool] = []
    pinned_max = 0.0
    n_passes = max(MIN_PASSES, round(ctx.seconds / PASS_S))
    ctx.start_timing()
    while len(passes) < n_passes:
        # traced runs alternate untraced and traced passes, so the
        # tracing overhead is measured inside the same run
        on = ctx.traced and len(passes) % 2 == 1
        tracer.enabled = on
        cpu0 = T.cpu_seconds(spark)
        walls = {}
        for name in live:
            t = time.perf_counter()
            try:
                with tracer.span(name, "queries",
                                 trace_id=f"{name}#{len(passes)}"):
                    _execute(REGISTRY[name].builder, spark, DATA,
                             tracer.span)
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{name} (pass {len(passes)}): "
                                f"{type(exc).__name__}")
            walls[name] = time.perf_counter() - t
            if on:
                pinned_max = max(pinned_max, stats.pinned_mb())
        passes.append({"walls": walls, "cpu_s": T.cpu_seconds(spark) - cpu0,
                       "wall_s": sum(walls.values())})
        traced_pass.append(on)
    tracer.enabled = ctx.traced

    # correctness, outside the timed region, at scale 0.01: the timed
    # entries, then the seed's slice of the whole catalog
    t_check = time.perf_counter()
    check = _load_check_module()
    checked = {}
    con = _oracle_db(CHECK_DATA, check.TABLES)
    sliced = [n for n in check_slice(ctx.seed) if n not in names]
    check_entry_s = {}
    for name in names + sliced:
        t = time.perf_counter()
        try:
            got = REGISTRY[name].builder(spark, CHECK_DATA).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name} (sf0.01): {_error(exc)}")
            checked[name] = "error"
        else:
            checked[name] = _check(check, con, name, got, failures)
        check_entry_s[name] = time.perf_counter() - t
    con.close()
    check_s = time.perf_counter() - t_check

    plain = [p for p, on in zip(passes, traced_pass) if not on]
    # each entry's fastest timed pass: on a shared 4-CPU VM host CPU
    # steal comes in bursts of seconds that slow whole passes and only
    # ever add time, and warm-up has already run, so the fastest of the
    # passes spread over the run is the steadiest estimate of the cost
    entry_s = [min(p["walls"][n] for p in plain) for n in live]
    wall = sum(entry_s)
    attempted = (len(names) + len(live) * len(passes) + len(names)
                 + len(sliced))
    out = Outcome(
        attempted=attempted,
        failures=failures,
        e2e={"wall_s": wall, "cpu_s": T.median([p["cpu_s"] for p in plain])},
        report={"setup_s": (ctx.setup_s, "s"),
                "failed_frac": (len(failures) / attempted, "ratio"),
                "catalog_wall_s": (wall, "s"),
                "catalog_wall_median_s": (sum(
                    T.median([p["walls"][n] for p in plain]) for n in live),
                    "s"),
                "catalog_entry_p50_ms": (T.median(entry_s) * 1e3, "ms")},
        inputs={"data": os.path.relpath(DATA, ROOT),
                "check_data": os.path.relpath(CHECK_DATA, ROOT),
                "entries": names, "checked": names + sliced,
                "passes": len(passes)},
        detail={"warmup_s": warm_s, "passes": passes, "checks": checked,
                "check_s": check_s, "check_entry_s": check_entry_s},
    )
    if ctx.traced:
        out.layers = _layers(ctx, stats, passes, traced_pass, pinned_max)
    return out


def _oracle_db(data: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _check(check, con, name: str, got, failures: list) -> str:
    """Compare ``got`` with the entry's DuckDB oracle; returns the
    verdict and records a mismatch or oracle error as a failure."""
    from hstream_spark.queries import REGISTRY

    sql = REGISTRY[name].oracle
    if sql is None:
        return "rows-only"
    try:
        issues = check.compare(name, got, con.execute(sql).fetchdf())
    except Exception as exc:  # noqa: BLE001
        issues = [f"oracle error: {_error(exc)}"]
    if issues:
        failures.append(f"{name}: oracle mismatch: {issues[0][:160]}")
        return "; ".join(issues[:3])
    return "ok"


def _layers(ctx, stats, passes, traced_pass, pinned_max) -> dict:
    spans = ctx.tracer.spans
    n = max(1, sum(traced_pass))
    stats.drain_listener_bus()
    groups = {s.group for s in spans}
    jobs = stats.job_ids(groups)
    sums = stats.stage_totals(jobs)
    build = [s for s in spans if s.name == "build"]
    execute = [s for s in spans if s.name == "execute"]
    sent, recv = stats.python_boundary_mb(jobs)
    layers = {f"spark.{k}": v / n for k, v in sums.items()}
    layers.update({
        "spark.pinned_mb_max": pinned_max,
        "spark.pinned_mb_end": stats.pinned_mb(),
        "queries.build_s": sum(s.dur for s in build) / n,
        "queries.build_jobs": len(stats.job_ids({s.group for s in build})) / n,
        "queries.exec_s": sum(s.dur for s in execute) / n,
        "queries.python_sent_mb": sent / n,
        "queries.python_recv_mb": recv / n,
    })
    traced = [p["wall_s"] for p, on in zip(passes, traced_pass) if on]
    plain = [p["wall_s"] for p, on in zip(passes, traced_pass) if not on]
    layers["trace.overhead_frac"] = T.median(traced) / T.median(plain) - 1
    return layers
