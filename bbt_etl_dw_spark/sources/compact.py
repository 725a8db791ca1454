"""Size-targeted compaction — small-files management for the lake.

A 100TB table accumulated from streaming micro-batches or per-round
appends degrades into millions of small files: every scan pays per-file
open cost and the driver pays listing cost. Compaction rewrites a
directory into files near a target size.

The engine computes the target file count from the data itself (sampled
average row width x row count / target bytes) rather than guessing a
partition number, then round-robin repartitions — one shuffle, evenly
sized outputs. With ``sort_by``, files are additionally range-partitioned
and sorted so min/max parquet statistics become selective (the poor-man's
Z-order for a single key)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bbt_etl_dw_spark.jvm import jvm_class


def estimate_row_bytes(
    df: DataFrame, sample_rows: int = 1000, sample_fraction: float = 0.05
) -> float:
    """Average serialized row width from a bounded sample (never a full
    scan): JSON length is a stable proxy for parquet-decoded width.

    Rows are drawn via ``sample(fraction)`` BEFORE the limit so the sample
    spans partitions/files instead of taking the head of the first file —
    on sorted or heterogeneous layouts (e.g. a corpus whose short-doc
    files sort first) a head sample biases the width estimate and hence
    the file count. Tiny tables (where the fraction yields nothing) fall
    back to a plain head sample."""
    from pyspark.sql import functions as F

    def avg_width(d: DataFrame):
        row = d.limit(sample_rows).select(
            F.avg(F.length(F.to_json(F.struct("*")))).alias("w"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row["w"], row["n"]

    w, n = avg_width(df.sample(fraction=sample_fraction, seed=42))
    if n == 0:
        w, _ = avg_width(df)
    return float(w or 64.0)


def compact_to_target(
    df: DataFrame,
    path: str,
    target_file_mb: int = 128,
    sort_by: str | None = None,
    parquet_ratio: float = 4.0,
    total_bytes: float | None = None,
) -> int:
    """Rewrite ``df`` as parquet files near ``target_file_mb`` each.
    Returns the file count chosen. Row count comes from a count() action
    (cheap columnar metadata scan for parquet inputs).

    The JSON-width sample measures DECODED text width; parquet's encoding
    + compression lands well below that, so the estimate divides by
    ``parquet_ratio`` (typical dictionary+snappy ratio; tune per table —
    or pass ``total_bytes`` directly when the true on-disk size is known,
    as :func:`compact_directory` does, which needs no estimate at all)."""
    if total_bytes is None:
        total_bytes = df.count() * estimate_row_bytes(df) / parquet_ratio
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    if sort_by:
        out = df.repartitionByRange(n_files, sort_by).sortWithinPartitions(sort_by)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(path)
    return n_files


def compact_directory(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 128,
    sort_by: str | None = None,
) -> int:
    """Compact an existing parquet directory into ``dst``. Sizes from the
    ACTUAL on-disk bytes — exact, no sampling.

    The listing goes through Hadoop's FileSystem API (resolved from the
    path's own scheme), so sizing works wherever the table actually lives
    at 100TB — hdfs://, s3a://, file:// — not just the driver-local disk a
    ``glob`` would see. An empty listing RAISES instead of silently
    compacting "0 bytes" into a single file (the failure mode of a wrong
    path or an unmounted scheme: n_files = max(1, round(0)) = 1 would
    funnel the whole table through one writer)."""
    on_disk = _on_disk_bytes(spark, src)
    if on_disk <= 0:
        raise ValueError(
            f"compact_directory: no data files found under {src!r} — "
            "wrong path, empty table, or unreadable filesystem scheme"
        )
    return compact_to_target(
        spark.read.parquet(src),
        dst,
        target_file_mb,
        sort_by=sort_by,
        total_bytes=float(on_disk),
    )


def _on_disk_bytes(spark: SparkSession, src: str) -> int:
    """Recursive byte count of the data files under ``src`` via the Hadoop
    FileSystem API. Hidden/metadata files (_SUCCESS, .crc, _committed
    markers) are excluded — they are not table bytes."""
    jpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(src)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(f"compact_directory: path does not exist: {src!r}")
    total = 0
    files = fs.listFiles(jpath, True)  # recursive
    while files.hasNext():
        status = files.next()
        name = status.getPath().getName()
        if status.isFile() and not name.startswith(("_", ".")):
            total += status.getLen()
    return total


# --- Z-order clustering (multi-column data skipping) ----------------------
# The FILE-SIZING compaction entry point: it picks the file count the way
# compact_to_target does and hands the layout to operators/zorder.py, the
# one Morton encoder (k columns, NULL/NaN policy, the SQL-replayable key
# layout the events_zorder_keys oracle verifies).


def compact_zorder(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    target_file_mb: int = 128,
    parquet_ratio: float = 4.0,
    total_bytes: float | None = None,
    bits: int = 16,
) -> int:
    """Rewrite ``df`` as parquet files clustered by the Z-order of two
    numeric columns. File count follows the same sizing as
    :func:`compact_to_target`; rows are range-partitioned AND sorted by
    the Morton key, so every file covers a compact rectangle in
    (cols[0], cols[1]) space and point/range filters on EITHER column
    prune most files via footer statistics (the poor man's multi-column
    clustering index; see tests/test_sources.py for the measured span
    contraction vs a linear sort). One min/max aggregate + one range
    shuffle; the key column is dropped before write. Rows with a NULL
    (or NaN) key column cluster together ahead of every other row; an
    all-NULL key column raises ``ValueError``
    (:func:`~bbt_etl_dw_spark.operators.zorder.zorder_key`)."""
    from bbt_etl_dw_spark.operators.zorder import write_zordered

    if total_bytes is None:
        total_bytes = df.count() * estimate_row_bytes(df) / parquet_ratio
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    write_zordered(df, path, list(cols), bits=bits, num_files=n_files)
    return n_files


def compact_partitions(
    spark,
    path: str,
    part_col: str,
    values: list,
    target_file_mb: int = 128,
) -> None:
    """Rewrite the NAMED partitions of a partitioned parquet table into
    size-targeted files — the maintenance pass a CDC-updated table needs:
    every operators/diff.apply_changes touch appends at least one file per
    churned partition, so hot partitions fragment over time while cold
    ones stay compact. Compacting only the churned values keeps the
    maintenance cost O(churn), the same contract as the writer.

    Reads prune to the named partitions (PartitionFilter via isin), the
    rewrite is coalesced to ceil(bytes / target) files per the sampled row
    width, and the write uses per-write dynamic partition overwrite so
    every other partition's files are untouched. The rewrite is
    localCheckpoint-ed first (Spark refuses to overwrite a path it is
    lazily reading)."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Explicit schema with the partition column as STRING: directory-name
    # type re-inference would read 'part=01' back as int 1 and rewrite it
    # into a NEW part=1 directory, duplicating the partition (the same
    # hazard operators/diff.apply_changes defends against). Data-column
    # types come from the parquet footers via a names/types probe; the
    # string partition value round-trips to the identical directory name.
    probe = spark.read.parquet(path)
    explicit = T.StructType(
        [
            T.StructField(f.name, T.StringType() if f.name == part_col else f.dataType)
            for f in probe.schema.fields
        ]
    )
    df = spark.read.schema(explicit).parquet(path)
    str_values = [str(v) for v in values]
    sel = df.filter(F.col(part_col).isin(str_values))
    n_rows = sel.count()
    if n_rows == 0:
        return
    row_bytes = estimate_row_bytes(sel)
    per_part = max(
        1,
        math.ceil((n_rows * row_bytes) / (len(values) * target_file_mb * 1024 * 1024)),
    )
    # repartition by part_col ALONE would hash each partition value into a
    # single task -> one giant file per partition and a single-task write;
    # a deterministic row-hash salt spreads each partition over per_part
    # tasks so the size target actually holds (xxhash64, never rand()).
    # Hashable columns only (operators/skew._content_hash_cols): a MapType
    # payload column would otherwise fail analysis (r08 review, same class
    # as the salted-join fix); part_col is kept out of the hash either way.
    from bbt_etl_dw_spark.operators.ckpt import materialize
    from bbt_etl_dw_spark.operators.skew import _content_hash_cols

    data_cols = _content_hash_cols(df.drop(part_col))
    salt = F.pmod(F.xxhash64(*data_cols), F.lit(per_part))
    out = materialize(sel.repartition(
        len(values) * per_part, F.col(part_col), salt
    ))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )
