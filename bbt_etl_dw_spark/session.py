"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the
same configs are the right starting point on a multi-executor cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and plan
  re-optimization replace hand-tuned shuffle partition counts at 100TB.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
  set it ~2-3x total cores on a real cluster.
- Session timezone pinned to UTC so date/timestamp semantics are stable
  across driver environments (and match the DuckDB oracle).
- Arrow enabled for the few Pandas-UDF operators (similarity, multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bbt_etl_dw_spark.jvm import jvm_class

RUNTIME_CONF = {
    # Settable on a live session (e.g. one the test driver built for us).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) is unreadable by Spark's vectorized reader;
    # read as long and convert in the catalog (events.ts).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read parquet TIMESTAMP without isAdjustedToUTC as TIMESTAMP_LTZ at
    # the scan itself (incl. nested fields) so timestamp filters keep
    # predicate pushdown / row-group pruning — instead of post-hoc casts
    # in the catalog (which remain only as a fallback).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


_SCRATCH_WAREHOUSE: list[str] = []


def _scratch_warehouse_dir() -> str:
    """Per-process scratch dir for ``spark.sql.warehouse.dir``, cleaned at
    exit. Memoized: get_spark() is called many times per process (tests,
    bench, probes) and getOrCreate ignores the config after the first
    session anyway — one dir and one atexit handler, not one per call.
    Overridable via SPARK_GRAFT_WAREHOUSE_DIR for a persistent warehouse."""
    override = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR")
    if override:
        return override
    if not _SCRATCH_WAREHOUSE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="bbt_spark_wh_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _SCRATCH_WAREHOUSE.append(path)
    return _SCRATCH_WAREHOUSE[0]


def get_spark(
    app_name: str = "bbt-etl-dw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep saveAsTable by-products out of the launch cwd: the default
        # warehouse dir is ./spark-warehouse, which litters whatever repo
        # the process starts in. Static conf — only effective when WE build
        # the session (a pre-existing session keeps its own warehouse).
        .config("spark.sql.warehouse.dir", _scratch_warehouse_dir())
        # Reliable checkpoints (operators/ckpt.materialize) are never
        # cleaned by default — an N-round iterative job leaves N full
        # copies of its label frame in the checkpoint dir (ADVICE r08).
        # This makes the ContextCleaner delete a checkpoint's files once
        # its RDD is GC'd. Static conf: deployments that build their own
        # session must set it themselves (documented in ckpt.py).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


_TUNED_SESSIONS: set[int] = set()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (including one we did
    not build, e.g. the verification driver's). Never raises. Memoized
    per underlying JVM session: catalog.table() calls this on EVERY load,
    which multiplied into dozens of redundant py4j conf/system-property
    round trips per suite enumeration (review finding)."""
    try:
        token = spark._jsparkSession.hashCode()
    except Exception:
        token = id(spark)
    if token in _TUNED_SESSIONS:
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # Embedded Derby (JDBC source/sink tests) writes derby.log into the
    # JVM's user.dir unless derby.system.home is set BEFORE the engine
    # boots. Point it at the JVM temp dir; a no-op if the caller already
    # set it or Derby is never loaded.
    try:
        system = jvm_class(spark, "java.lang.System")
        if system.getProperty("derby.system.home") is None:
            system.setProperty("derby.system.home", system.getProperty("java.io.tmpdir"))
    except Exception:
        pass
    _TUNED_SESSIONS.add(token)
    return spark
