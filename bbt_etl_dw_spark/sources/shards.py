"""Training-shard export: materialize a curated corpus as size-bounded
parquet shards with a verifiable manifest — the hand-off point between the
data pipeline and a training job's data loader.

Loaders (WebDataset/MDS-style) want: (a) shards of roughly equal row/token
size so data-parallel workers stay balanced, (b) a manifest with per-shard
counts for length-based sampling and resumable iteration, and (c) checksums
so a torn copy between object stores is caught before it poisons a run.

Scale shape:
- shard assignment derives from :func:`~bbt_etl_dw_spark.operators.
  textstats.hash_uniform` (the repo's ONE md5 sampling primitive) — stable
  under rerun and at any parallelism (never ``rand()``, never
  ``monotonically_increasing_id``), so a re-export after a node failure
  produces byte-identical shard membership;
- the upstream pipeline executes TWICE (the sizing count and the write);
  the manifest aggregates over the WRITTEN files instead of a third
  upstream pass — a cheap columnar scan that also validates the write;
- per-shard stats carry an ORDER-INDEPENDENT content checksum (sum of
  per-row xxhash64 as decimal) — verifiable by any engine without
  re-sorting;
- manifest read/write goes through the Hadoop FileSystem API
  (scheme-resolved: file://, hdfs://, s3a://), the same pattern as
  operators/diff.apply_changes — a local ``open()`` would break every
  remote lake path this module exists for;
- ``verify_shards`` recomputes counts/checksums from the written files and
  compares against the manifest: a silently truncated or duplicated copy
  fails loudly.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bbt_etl_dw_spark.jvm import jvm_class
from bbt_etl_dw_spark.sources.parquet import _hadoop_fs

MANIFEST_NAME = "_shard_manifest.json"


def _shard_expr(id_col: str, n_shards: int):
    """Deterministic shard id in [0, n_shards): md5-uniform fraction
    scaled to the shard count (hash_uniform is strictly < 1, so the floor
    is always <= n_shards - 1)."""
    from bbt_etl_dw_spark.operators.textstats import hash_uniform

    return F.floor(hash_uniform(id_col, salt="shard") * n_shards).cast("int")


def _row_checksum(cols: list[str]):
    """Order-independent content checksum: per-row xxhash64 over all
    exported columns (cast to string with a NULL sentinel so NULL != ''),
    summed as decimal (no overflow at any shard size)."""
    encoded = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cols
    ]
    return F.sum(F.xxhash64(*encoded).cast("decimal(38,0)")).alias("checksum")


def _manifest_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path``'s manifest."""
    fs, jpath, _ = _hadoop_fs(spark, f"{path.rstrip('/')}/{MANIFEST_NAME}")
    return fs, jpath


def _write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    fs, jpath = _manifest_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(json.dumps(manifest, indent=1, sort_keys=True).encode())
    finally:
        out.close()


def _read_manifest(spark: SparkSession, path: str) -> dict:
    fs, jpath = _manifest_fs(spark, path)
    stream = fs.open(jpath)
    try:
        # the JVM drains the stream (as sources.publish reads manifests):
        # py4j passes byte[] buffers by value
        text = jvm_class(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def _per_shard_stats(
    written: DataFrame, data_cols: list[str], text_col: str | None
):
    aggs = [F.count(F.lit(1)).alias("n_rows"), _row_checksum(data_cols)]
    if text_col is not None:
        from bbt_etl_dw_spark.operators.textstats import whitespace_token_count

        aggs.append(F.sum(whitespace_token_count(text_col)).alias("n_tokens"))
    return written.groupBy("shard").agg(*aggs).orderBy("shard").collect()


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    target_rows_per_shard: int = 100_000,
    n_shards: int | None = None,
) -> dict:
    """Export ``df`` as ``shard=N/`` parquet directories plus a manifest.

    Returns the manifest dict (also written to ``path/_shard_manifest.json``).
    Token counts use the whitespace tokenizer when ``text_col`` is given.
    """
    spark = df.sparkSession
    data_cols = df.columns
    if n_shards is None:
        total = df.count()
        n_shards = max(1, -(-total // target_rows_per_shard))
        empty = total == 0
    else:
        empty = df.isEmpty()
    if empty:
        # A partitioned write of zero rows creates zero partition
        # directories, so the manifest pass's read-back would fail with
        # unable-to-infer-schema (ADVICE r05). Write the empty frame
        # UNPARTITIONED (footer carries the schema, incl. the shard
        # column so verify_shards still reads it) and emit an empty
        # manifest — a curated corpus can legitimately filter to nothing.
        df.withColumn("shard", F.lit(None).cast("int")).write.mode(
            "overwrite"
        ).parquet(path)
        manifest = {
            "format": "parquet",
            "n_shards": 0,
            "id_col": id_col,
            "text_col": text_col,
            "columns": data_cols,
            "total_rows": 0,
            "shards": [],
        }
        _write_manifest(spark, path, manifest)
        return manifest
    staged = df.withColumn("shard", _shard_expr(id_col, n_shards))
    # one file per shard: repartition BY the shard column so each write
    # task holds exactly one shard's rows
    (
        staged.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )

    # Manifest from the WRITTEN files: no third pass over the upstream
    # pipeline, and the stats describe what actually landed on disk.
    per_shard = _per_shard_stats(spark.read.parquet(path), data_cols, text_col)

    shards = []
    for r in per_shard:
        entry = {
            "shard": r["shard"],
            "n_rows": r["n_rows"],
            "checksum": str(r["checksum"]),
        }
        if text_col is not None:
            entry["n_tokens"] = int(r["n_tokens"] or 0)
        shards.append(entry)
    manifest = {
        "format": "parquet",
        "n_shards": n_shards,
        "id_col": id_col,
        "text_col": text_col,
        "columns": data_cols,
        "total_rows": int(sum(s["n_rows"] for s in shards)),
        "shards": shards,
    }
    _write_manifest(spark, path, manifest)
    return manifest


def verify_shards(spark: SparkSession, path: str) -> DataFrame:
    """Recompute per-shard counts/checksums from the WRITTEN files and
    diff against the manifest. Returns one row per discrepancy (empty =
    intact); missing shards and extra shards both surface."""
    manifest = _read_manifest(spark, path)
    data_cols = [c for c in manifest["columns"]]
    actual = (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"), _row_checksum(data_cols))
    )
    expected = spark.createDataFrame(
        [
            (s["shard"], s["n_rows"], s["checksum"])
            for s in manifest["shards"]
        ],
        "shard int, m_rows long, m_checksum string",
    ).withColumn("m_checksum", F.col("m_checksum").cast("decimal(38,0)"))
    return (
        actual.join(expected, "shard", "full_outer")
        .filter(
            F.col("n_rows").isNull()
            | F.col("m_rows").isNull()
            | (F.col("n_rows") != F.col("m_rows"))
            | ~F.col("checksum").eqNullSafe(F.col("m_checksum"))
        )
        .select("shard", "n_rows", "m_rows", "checksum", "m_checksum")
    )
