"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_replay`` (broker and lake write path, then the read
path) and ``analytics`` (query suite classes); see perfbench/README.md. Spark runs
at ``local[<cores>]``, the load comes from this single-threaded process
in a closed loop, and every output is checked for correctness.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it (``detail``) names each workload figure with its unit. Each run also
writes its record to ``perfbench/out/``; traced runs include every span
and job, which ``perfbench/report.py`` turns into a per-layer table.

Everything the run writes (the broker store, lake tables, Spark scratch
space and temp files) stays under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ingest_replay", "analytics")


def _prepare_env(scratch: str) -> None:
    """Point every temp and scratch location at ``scratch`` before the
    JVM starts."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}"
    import tempfile

    tempfile.tempdir = tmp


def _spark_conf(scratch: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # The status store must keep every job of a run for attribution.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def _result(run, metrics: dict, units: dict) -> dict:
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tansu_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    scratch = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    _prepare_env(scratch)
    spark = None
    try:
        from perfbench import core
        from perfbench.sparkwatch import ProgressListener, jobs_and_stages
        from tansu_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(scratch))
        spark.sparkContext.setLogLevel("ERROR")
        workdir = os.path.join(scratch, "work")
        os.makedirs(workdir)
        run = core.Run(spark, args.seed, args.seconds, bool(args.trace), workdir)
        if run.traced:
            run.listener = ProgressListener()
            spark.streams.addListener(run.listener)
        wl = importlib.import_module(f"perfbench.{args.workload}").workload(run)
        wl.setup()
        run.setup_s = time.perf_counter() - t0

        t_measure = time.time()
        with run.span(args.workload):
            wl.measure()
        wl.check()
        e2e = wl.end_to_end()

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "master": spark.sparkContext.master,
            "attempted": run.attempted,
            "failed": run.failed,
            "failures": run.failures,
            "end_to_end": e2e,
            "figures": run.figures,
            "detail": run.detail,
            "latency_s": run.latency,
        }
        if run.traced:
            spans = run.tracer.to_json()
            jobs = [j for j in jobs_and_stages(spark) if j["submitted"] and j["submitted"] >= t_measure]
            layers = {k: 0.0 for k in core.PER_LAYER}
            layers.update(wl.per_layer(spans, jobs))
            layers.update(run.figures)
            record.update(per_layer=layers, spans=spans, jobs=jobs)
            result = _result(run, layers, core.PER_LAYER)
        else:
            result = _result(run, e2e, core.END_TO_END)

        name = f"{'trace' if run.traced else 'e2e'}-{args.workload}-{args.seed}.json"
        with open(os.path.join(OUT, name), "w") as fh:
            json.dump(record, fh, indent=1)
        for why in run.failures:
            print(f"failed: {why}")
        print(json.dumps({
            "detail": {
                "figures": {k: {"value": v, "unit": core.FIGURES[k]} for k, v in run.figures.items()},
                **run.detail,
            }
        }))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it started to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
