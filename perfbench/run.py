"""Closed-loop benchmark of ukis_kafka_spark: one client, one operation
at a time, in one process with one ``local[N]`` session.

    python3 perfbench/run.py --workload feature_ingest --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a
separate run with the tracing wrappers and the Spark event log on, and
reports the per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are the same numbers for people, and each run also writes one record
to ``perfbench/results/``. See README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def _configure_env(work: str, trace: bool) -> int:
    """Environment the Spark JVM and the package read at start-up; must
    run before pyspark launches the JVM. Every path stays in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=tmp,
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def _clear_build_caches() -> None:
    """Every set-up starts from the same state: no build-once corpora
    (the package keeps them in ``<repo>/.tmp/replay_cache``) and an
    empty per-query scratch root."""
    shutil.rmtree(os.path.join(ROOT, ".tmp", "replay_cache"), ignore_errors=True)
    shutil.rmtree(os.environ["SPARK_GRAFT_SCRATCH"], ignore_errors=True)


class Session:
    """The benchmark's one SparkSession, created through the package's
    ``plans.get_spark``, with the streaming tracker attached."""

    def __init__(self, tracker) -> None:
        self.tracker = tracker
        self.spark = None

    def start(self):
        from ukis_kafka_spark import plans

        self.spark = plans.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.streams.addListener(self.tracker)
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            # detach the Python listener before the context goes away,
            # or the JVM calls back into a closing gateway
            self.spark.streams.removeListener(self.tracker)
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_op(spark, tracker, op, group: str, trace: bool, wrappers, check: bool = True) -> dict:
    """One timed operation, then its (untimed) output check."""
    from perfbench.trace import job_ids

    if trace:
        spark.sparkContext.setJobGroup(group, op.name)
        wrappers.parent = group
    tracker.begin_op(group)
    err = out = None
    t0 = time.perf_counter()
    try:
        out = op.run()
    except Exception as e:  # a failed operation is counted, never fatal
        err = f"{type(e).__name__}: {str(e)[:300]}"
    seconds = time.perf_counter() - t0
    try:
        runs = tracker.end_op()
    except TimeoutError as e:
        runs, err = {}, err or str(e)
    if err is None and check:
        try:
            err = op.check(out)
        except Exception as e:
            err = f"check raised {type(e).__name__}: {str(e)[:300]}"
    rec = {
        "op": op.name,
        "group": group,
        "seconds": seconds,
        "records": op.records,
        "error": err,
        "streams": [
            {"run_id": rid, "name": r.name, "triggers": r.triggers} for rid, r in runs.items()
        ],
    }
    if trace:
        rec["jobs"] = len(job_ids(spark, group))
        for s in rec["streams"]:
            s["jobs"] = len(job_ids(spark, s["run_id"]))
    return rec


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ukis_kafka_spark", "__init__.py")):
        print(f"error: no ukis_kafka_spark package next to {BENCH}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    try:
        _run(args, WORKLOADS[args.workload](), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _run(args, wl, work: str) -> None:
    from perfbench import report

    trace = bool(args.trace)
    cpus = _configure_env(work, trace)
    load_before = os.getloadavg()

    from perfbench.trace import StreamTracker, Wrappers, pinned_mb

    wl.prepare(args.seed, work)
    tracker = StreamTracker()
    session = Session(tracker)
    wrappers = Wrappers()
    try:
        # set-up_s: session start (JVM launch included) plus one warm
        # pass over the workload, from empty build-once caches
        _clear_build_caches()
        if trace:
            report.install_wrappers(wrappers, wl)
        t0 = time.perf_counter()
        spark = session.start()
        if trace:
            spark.sparkContext.setJobGroup("setup", "setup")
        for op in wl.ops(spark, random.Random(args.seed)):
            rec = run_op(spark, tracker, op, f"setup:{op.name}", False, wrappers, check=False)
            if rec["error"]:
                print(f"setup: {rec['op']} failed: {rec['error']}", file=sys.stderr)
        setup_s = time.perf_counter() - t0

        rng = random.Random(args.seed)
        records, passes = [], []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            recs = [
                run_op(spark, tracker, op, f"{op.name}#{len(records) + i}", trace, wrappers)
                for i, op in enumerate(wl.ops(spark, rng))
            ]
            records += recs
            passes.append(sum(r["seconds"] for r in recs))
        pinned = pinned_mb(spark)
        app_id = spark.sparkContext.applicationId
        if trace:
            wrappers.assert_fired()
            wrappers.uninstall()
    finally:
        session.shutdown()
    load_after = os.getloadavg()

    result = report.build(
        wl, args, records, passes, setup_s, pinned, tracker, wrappers,
        os.path.join(work, "eventlog", app_id) if trace else None,
    )
    import pyspark

    result["host"] = {
        "cpus_affinity": cpus,
        "os_cpu_count": os.cpu_count(),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "platform": platform.platform(),
    }
    results_dir = os.path.join(BENCH, "results")
    result["tracing_overhead"] = report.tracing_overhead(results_dir, result) if trace else None
    report.print_human(result)
    report.write_record(results_dir, result)
    print(json.dumps(result["contract"]))


if __name__ == "__main__":
    sys.exit(main())
