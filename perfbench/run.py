"""Hudi table-engine benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload mor_scan --seed 1 --seconds 10 --trace 0

Run it from the repository root: the package under test
(``hudi_rs_spark``) is imported from there, by this process and by the
Spark Python workers. Without the package it exits with code 2 and
prints no result.

``--trace 0`` runs the timed closed loop and reports the end-to-end
metrics; ``--trace 1`` runs the traced replay (tracing.py) and reports the
per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Earlier stdout lines
are a human-readable report; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("mor_scan", "keyed_lookup", "upsert_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="bench", choices=("bench", "tiny"))
    return p.parse_args(argv)


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "hudi_rs_spark", "__init__.py"))


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let the Spark Python workers import the package from ROOT."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the heap is committed up front, so peak RSS measures what the program
    # holds beyond a fixed heap, not when the collector chose to grow it
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.driver.extraJavaOptions='{java_opts}'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from probes import tree_pids

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:
        pass  # the gateway broke mid-call (e.g. on SIGTERM): end the JVM below
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on stdin EOF
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
                os.waitpid(p, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.2)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's clean-up


def main(argv=None) -> int:
    args = _args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not _package_present():
        _log(f"package hudi_rs_spark not found under {ROOT}: run from the repository root")
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)

    import report
    from datagen import Generator
    from probes import JobCounter, RssSampler
    from workloads import SCALES, WORKLOADS, Table

    scale = SCALES[args.scale]
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from hudi_rs_spark.session import get_spark
            from hudi_rs_spark.sources.pyds import HudiPyDataSource

            spark = get_spark("perfbench", cpus=os.cpu_count())
            spark.sparkContext.setLogLevel("ERROR")
            spark.dataSource.register(HudiPyDataSource)
            table = Table(spark, os.path.join(work, "table"),
                          Generator(args.seed, scale.rows, scale.months))
            workload = WORKLOADS[args.workload](table, scale)
            workload.setup()
            setup_s = time.perf_counter() - t0
            _log(f"{args.workload} seed={args.seed}: set-up {setup_s:.2f}s")
            counter = JobCounter(spark)
            if args.trace:
                import tracing

                result = tracing.run(args.workload, workload, counter, work)
            else:
                from workloads import run_closed_loop

                ops = run_closed_loop(workload, counter, args.seconds)
                result = report.timed(args.workload, ops, table, setup_s)
            rss.sample()
        result.finish(rss.peak_mb, setup_s)
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there
    result.print_report(args)
    print(json.dumps(result.line()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
