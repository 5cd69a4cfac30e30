#!/usr/bin/env python3
"""Benchmark of the deltoid_spark storage engine and query catalog.

Run from the repository root:

  python3 perfbench/run.py --workload codec --seed 1 --seconds 10 --trace 0

Workloads (see README.md): ``codec`` ingests a seeded code corpus and
reads it back; ``catalog`` runs the training-data query catalog's
near-duplicate queries on tables shaped like its sf0.1 fixture.  Spark runs at local[4] in this one process; all scratch
files live under ``.perfbench_work/`` in the current directory and are
removed at exit.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it holds the workload's detailed figures.  A failed output check
makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from tracing import RssSampler, Tracer, log, process_tree

CORES = 4
WORKLOADS = ("codec", "catalog")


def _confine_scratch(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.local.dir={os.environ['SPARK_LOCAL_DIRS']}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            # no hsperfdata file: the JVM would write it under /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    children = process_tree(os.getpid()) - {os.getpid()}
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deltoid_spark", "__init__.py")):
        print("perfbench: deltoid_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _confine_scratch(work)

    import catalog
    import codec
    from deltoid_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    module = {"codec": codec, "catalog": catalog}[args.workload]
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            inp = module.prepare(args.seed, work)
            inputs_s = time.perf_counter() - t0
            log(f"inputs {inputs_s:.1f}s")
            spark = get_spark(cores=CORES, app=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            log("spark session up")
            try:
                result = module.run(spark, work, inp, args.seconds, tracer)
                report = module.report(spark, result, tracer, bool(args.trace))
            finally:
                _stop_spark(spark)
                log("spark stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    failures = report["failures"]
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    peak_mb = rss.peak_bytes / 2**20
    detail = dict(report["detail"], inputs_s=inputs_s, peak_rss_mb=peak_mb)
    layers = dict(report["layers"], **{"process.peak_rss_mb": (peak_mb, "MiB")})
    metrics = layers if args.trace else report["e2e"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(json.dumps({
        "correct": not failures,
        "attempted": report["attempted"],
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
