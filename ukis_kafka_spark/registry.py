"""Query registry: the single source of truth for the engine's declared
operator inventory (SURVEY.md §2.2).

Every operator registers itself with :func:`query`; the driver-facing
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
``QUERIES`` / ``ORACLE``.  A registered callable takes
``(spark, sf_dir)`` and returns a DataFrame; its oracle is the
equivalent DuckDB SQL (omitted for non-SQL-expressible operators,
which the driver then checks rows-only).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .cache import _SCRATCH, table_fingerprint

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _ship_package(spark: SparkSession) -> None:
    """Make ``ukis_kafka_spark`` importable inside Python workers.

    Worker processes do not inherit the driver's sys.path, so any
    pandas UDF / mapInPandas closure that references the package (WKB
    codec, envelope, multimodal decode) would fail when the driver runs
    from a different cwd. Shipping the package zip via addPyFile puts
    it on every worker's path regardless of launch directory."""
    if getattr(spark, "_ukis_pkg_shipped", False):
        return
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(_SCRATCH, exist_ok=True)
    zpath = os.path.join(_SCRATCH, "ukis_kafka_spark_pkg.zip")
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest_src:
        # build in a process-unique temp file and os.replace() it in:
        # concurrent drivers (pytest + tools/check.py) must never
        # addPyFile a half-written archive
        import tempfile

        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=_SCRATCH)
        os.close(fd)
        try:
            with zipfile.ZipFile(tmp, "w") as z:
                for root, _, files in os.walk(pkg_dir):
                    for f in sorted(files):
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
            os.replace(tmp, zpath)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
    spark.sparkContext.addPyFile(zpath)
    spark._ukis_pkg_shipped = True


def _tune(spark: SparkSession) -> None:
    """Runtime confs every query depends on for oracle hash-parity.

    The driver owns the SparkSession, so these must be applied at call
    time (they are all runtime-settable).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # events.ts is TIMESTAMP(NANOS) in parquet, which Spark 4 refuses by
    # default; read as long and convert in sources.load_table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _ship_package(spark)


def checkpoint_df(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate lineage for a table carried across iterations.

    Default is ``localCheckpoint()`` — correct and fast on ``local[*]``
    but cluster-fragile: blocks live only in executor block managers,
    so it pins executors (blocks dynamic deallocation) and an executor
    death loses partitions mid-job.  On a real cluster set
    ``UKIS_CHECKPOINT_DIR`` (env) or ``spark.ukis.checkpointDir``
    (runtime conf) to an HDFS/S3 path and the SAME plan switches to
    reliable ``checkpoint()`` into that directory.  Results are
    identical either way (tests/test_graph.py pins equal hashes both
    modes); only fault-tolerance changes.

    ``eager=False`` still compiles the plan to ONE pinned RDD (the
    plan shows the same ExistingRDD scan and every consumer shares the
    one frozen shuffle dependency — the round-6 partition-map fix is
    about plan-compilation count, not about WHEN blocks materialize),
    but defers block storage to the first downstream action, fusing
    the materialization job into work that runs anyway.  Measured on
    with_global_order: one job saved per call (q_rfm 1.94 → 1.67 s at
    sf0.1).  Keep the default EAGER for iterative loops, where the
    point is to stop the next iteration's planner from re-executing
    the carried lineage at staging time.
    """
    import os

    spark = df.sparkSession
    ckdir = os.environ.get("UKIS_CHECKPOINT_DIR") or spark.conf.get(
        "spark.ukis.checkpointDir", None
    )
    if ckdir:
        sc = spark.sparkContext
        if not sc.getCheckpointDir():
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def session_memo(table: str) -> Callable[[Callable], Callable]:
    """Memoize ``fn(spark, sf_dir)`` for the life of ``spark``.

    For shared fits and pinned frames that several operators read: the
    first caller builds, the rest reuse. The key is the fingerprint
    (path, size, mtime) of the corpus ``table`` the build reads, so a
    table rewritten at the same path is rebuilt, never served stale.
    In-session only: nothing is persisted."""

    def deco(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def memoized(spark: SparkSession, sf_dir: str):
            memo = spark.__dict__.setdefault("_ukis_memo", {})
            key = (fn.__module__, fn.__qualname__, table_fingerprint(sf_dir, table))
            if key not in memo:
                memo[key] = fn(spark, sf_dir)
            return memo[key]

        return memoized

    return deco


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; optionally attach its DuckDB twin."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            # a silent overwrite once masked a new operator behind an
            # old one of the same name (q_unpivot, round 4) — fail loud
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
