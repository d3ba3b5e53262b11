"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Workloads: ``catalog`` and ``stream_live`` (see
perfbench/README.md).  With ``--trace 0`` the result carries every
end-to-end metric declared in BENCHMARK.json; with ``--trace 1`` every
per-layer metric.  A readable report with the named report metrics
is printed on the line before the result, and the full record (seed,
input sizes, environment, spans, per-entry detail) goes to a sidecar
under ``.perfbench/out/``.

Exit status is non-zero, with no result line, when the program under
test cannot be imported or a workload cannot run at all.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog", "stream_live")


def _declared() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop Spark, then end the driver JVM and wait until it has exited;
    the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    e2e_units, layer_units = _declared()

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        import hstream_spark  # noqa: F401 — fail fast without the program
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2

    from perfbench import trace as T
    from perfbench.workloads import Ctx, run_workload

    env_before = T.proc_stat()
    spark = None
    try:
        from hstream_spark import get_spark

        tmp = os.environ["TMPDIR"]
        spark = get_spark(
            f"perfbench-{args.workload}",
            **{"spark.local.dir": tmp,
               # the JVM writes its perf-data file to /tmp unless disabled
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
               "spark.ui.showConsoleProgress": "false"},
        )
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                  traced=bool(args.trace), work=work, t0=T0,
                  tracer=T.Tracer(bool(args.trace), spark))
        ctx.mark("session")
        out = run_workload(args.workload, ctx)
        env = T.cpu_env(env_before, T.proc_stat())
        env["cpus"] = len(os.sched_getaffinity(0))
        rss = T.rss_mb() + T.rss_mb(T.jvm_pid(spark))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "attempted": out.attempted, "failed": len(out.failures),
        "failures": out.failures[:50],
        "inputs": out.inputs,
        "setup_phases_s": ctx.phases,
        "env": {"cpus": env["cpus"], "steal_pct": env["steal_pct"],
                "busy_pct": env["busy_pct"],
                "gen_late_ms_max": out.lateness.get("gen"),
                "reader_late_ms_max": out.lateness.get("reader")},
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in out.report.items()},
    }
    if args.trace:
        layers = {"env.cpus": float(env["cpus"]),
                  "env.steal_pct": env["steal_pct"],
                  "env.busy_pct": env["busy_pct"],
                  "proc.driver_rss_mb": rss,
                  "gen.late_ms_max": out.lateness.get("gen", 0.0),
                  "reader.late_ms_max": out.lateness.get("reader", 0.0),
                  **out.layers}
        unknown = sorted(set(layers) - set(layer_units))
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {unknown}")
        # layers a workload does not exercise read 0 by definition
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in layer_units.items()}
    else:
        e2e = {"setup_s": ctx.setup_s, **out.e2e}
        missing = sorted(set(e2e_units) - set(e2e))
        if missing:
            raise KeyError(f"workload produced no value for {missing}")
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in e2e_units.items()}
    report["result_metrics"] = metrics

    side = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(side, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(side, stem + ".json"), "w") as fh:
        json.dump({**report, "detail": out.detail}, fh, indent=1)
    if args.trace:
        with open(os.path.join(side, stem + ".spans.json"), "w") as fh:
            json.dump(ctx.tracer.dump(), fh)
    print("report " + json.dumps(report))
    print(json.dumps({"correct": not out.failures,
                      "attempted": out.attempted,
                      "failed": len(out.failures),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
