"""SparkSession construction and tuning.

One place for the scale-relevant knobs so every entry point (tests,
bench, driver) runs the same configuration.  Values target the
driver's local[32] harness but are chosen to be the right defaults on
a real multi-executor cluster too (AQE, skew-join handling, Arrow
batching) — see SURVEY.md §4.2.

Python workers start through ``wikiextractor_spark.daemon``
(``spark.python.daemon.module``).  Spark's default puts its own
pyspark, py4j and spark-core archives on every worker's ``sys.path``,
and every task's ``importlib.invalidate_caches()`` then re-reads each
archive's central directory, 0.1–0.25 s per task; the daemon drops
the archives when the installed pyspark and py4j are the same
versions.  The conf is static, so it is set only here: sessions built
elsewhere (the driver harness, ``tools/driver_sim.py`` and
``tools/slot_check.py``, and those passed to ``tune()``) keep Spark's
default daemon.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_import_package() -> bool:
    """Whether a local worker (started in this process's directory with
    its ``PYTHONPATH``) imports this package, and so its daemon."""
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return _PACKAGE_ROOT in {os.path.abspath(r) for r in roots if r}


def get_spark(app_name: str = "wikiextractor-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # finer input splits than the 128m default: the wiki pipeline
        # is Python-UDF-bound, so more splits = more parallel Arrow
        # workers even on medium-sized single files
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        # the events table stores TIMESTAMP(NANOS) parquet, which Spark
        # rejects unless read as raw nanos (converted in tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if _workers_import_package():
        builder = builder.config("spark.python.daemon.module", "wikiextractor_spark.daemon")
    spark = builder.getOrCreate()
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tunings to an externally-created session
    (the round driver builds its own SparkSession; queries call this
    defensively so timezone/Arrow behavior is deterministic)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # right-size shuffles for the local harness (the default 200
        # adds pure latency at test scale; AQE coalesces upward fine)
        ("spark.sql.shuffle.partitions", cpus),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # read-only in some deployments; defaults still fine
    return spark
