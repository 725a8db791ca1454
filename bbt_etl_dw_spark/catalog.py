"""Table catalog over the synthetic parquet test tables.

The engine's catalog in production would be a metastore; here it is a thin
path-based loader (mirroring the reference's path-as-catalog medallion
layout, reference ``scripts/etl_extract.py:13-14``) over
``$SPARK_GRAFT_SF_DIR/{table}.parquet``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bbt_etl_dw_spark.session import tune
from bbt_etl_dw_spark.sources.parquet import read_parquet_versioned

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@functools.lru_cache(maxsize=256)
def _needs_spread(path: str, identity: tuple | None) -> bool:
    """True when the parquet file cannot split into enough tasks: Spark's
    input splits align to row groups, so a non-trivial single-row-group
    file runs every downstream narrow computation single-threaded. On a
    real lake (many files / many row groups) this returns False and the
    spread is a no-op. Cached per file version (``identity``, from
    :func:`~bbt_etl_dw_spark.sources.parquet.path_identity`): a table
    rewritten at the same path is looked at again."""
    try:
        import pyarrow.parquet as pq

        if os.path.getsize(path) < 512 * 1024:  # broadcast-dim sized: skip
            return False
        return pq.ParquetFile(path).num_row_groups < 4
    except Exception:
        return False


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one table. Columnar parquet scan => pushdown + pruning free.

    ``spread=True`` is for queries whose per-row compute dominates their
    shuffle cost (hash signatures, exact-decimal folds): when the file
    cannot split into enough row groups, a round-robin repartition to
    defaultParallelism moves the (pruned) columns once so the heavy map
    work runs on every core instead of one. Deterministic filters still
    push down through the exchange into the scan. Shuffle-bound queries
    should keep the default — the extra exchange only adds latency. On a
    real lake (many files/row groups) the spread is a no-op."""
    tune(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df, identity = read_parquet_versioned(spark, path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # nanos-as-long (see session.RUNTIME_CONF): truncate to micros with
        # integer division (exact on int64; float division would lose
        # precision above 2^53) — same truncation DuckDB applies to ns.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet TIMESTAMP without isAdjustedToUTC reads as TIMESTAMP_LTZ via
    # inferTimestampNTZ=false (session.RUNTIME_CONF) — normalization happens
    # at the scan, keeping pushdown/row-group pruning. This cast is a
    # fallback for sessions where that conf could not be applied; one
    # withColumns so it stacks a single Project (backtick-quoted names
    # guard against dots in column names).
    ntz = {
        field.name: F.col(f"`{field.name}`").cast("timestamp")
        for field in df.schema.fields
        if isinstance(field.dataType, T.TimestampNTZType)
    }
    if ntz:
        df = df.withColumns(ntz)
    if spread and _needs_spread(path, identity):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() queries."""
    for n in TABLES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)


def save_table(
    df: DataFrame,
    name: str,
    partition_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a MANAGED parquet table in the session
    catalog (``spark.table(name)`` / ``spark.sql`` see it immediately) —
    the writable-catalog sink of SURVEY §7 phase 4. Partitioned managed
    tables get directory-level partition pruning exactly like path-based
    snapshots (gated in tests); in production the same call lands in the
    configured metastore (Hive/Glue/Unity) — nothing here is local-only."""
    w = df.write.format("parquet").mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.saveAsTable(name)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Session-catalog read-back twin of :func:`save_table`."""
    return spark.table(name)
