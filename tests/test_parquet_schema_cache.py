"""sources.parquet.read_parquet: each parquet schema is inferred once per
file version and session type-mapping confs, so warm catalog and snapshot
reads plan without a Spark job — and the schema they use is always the
one a fresh inference returns."""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bbt_etl_dw_spark import catalog
from bbt_etl_dw_spark.sources import parquet as pqs
from bbt_etl_dw_spark.sources.parquet import read_parquet
from bbt_etl_dw_spark.sources.publish import (
    publish_tables,
    read_published,
    rollback_published,
)

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by job group on the status
    tracker."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _cached_equals_fresh(spark, path: str):
    """Read ``path`` twice through the cache (the second read must be a
    hit: no job) and return its schema next to a fresh inference."""
    read_parquet(spark, path)
    assert _jobs(spark, lambda: read_parquet(spark, path)) == 0
    return read_parquet(spark, path).schema, spark.read.parquet(path).schema


def _rel(root: str, version: int, name: str) -> str:
    with open(os.path.join(root, f"_MANIFEST.v{version:08d}.json")) as f:
        return f"{root}/{json.load(f)['tables'][name]}"


def test_warm_catalog_kpi_build_runs_no_job(spark, sf_dir):
    from bbt_etl_dw_spark.suite import load_all

    reg = load_all()
    for name in ("kpi_sales_by_client_value", "kpi_product_status", "sales_by_region"):
        builder = reg[name].builder
        builder(spark, sf_dir)  # cold: infers each table's schema once
        assert _jobs(spark, lambda: builder(spark, sf_dir)) == 0, name
    catalog.table(spark, sf_dir, "part", spread=True)
    assert _jobs(spark, lambda: catalog.table(spark, sf_dir, "part", spread=True)) == 0


def test_warm_read_published_runs_no_job(spark, tmp_path):
    root = str(tmp_path / "wh")
    publish_tables({"fact": spark.range(10), "dim": spark.range(3)}, root)
    read_published(spark, root, "fact")
    assert _jobs(spark, lambda: read_published(spark, root, "fact")) == 0
    assert read_published(spark, root, "fact").count() == 10


def test_ntz_written_columns(spark, tmp_path):
    """A parquet TIMESTAMP without isAdjustedToUTC from a non-Spark writer
    infers as LTZ under RUNTIME_CONF; Spark's own NTZ column keeps its
    footer type, which the catalog casts. The cache agrees with a fresh
    inference on both."""
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"t": pa.array([0], pa.timestamp("us"))}), f"{sf}/arrow.parquet"
    )
    spark.sql(
        "SELECT timestamp_ntz'2020-01-02 03:04:05' AS t, 1 AS x"
    ).write.parquet(f"{sf}/spark.parquet")
    for name, inferred in (("arrow", T.TimestampType), ("spark", T.TimestampNTZType)):
        cached, fresh = _cached_equals_fresh(spark, f"{sf}/{name}.parquet")
        assert cached == fresh
        assert isinstance(cached["t"].dataType, inferred), name
        t = catalog.table(spark, sf, name).schema["t"].dataType
        assert isinstance(t, T.TimestampType), name


def test_toggling_infer_ntz_gives_fresh_inference(spark, tmp_path):
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"t": pa.array([0], pa.timestamp("us"))}), path
    )  # isAdjustedToUTC=false
    prev = spark.conf.get(NTZ_CONF)
    try:
        for value, want in (
            ("false", T.TimestampType),
            ("true", T.TimestampNTZType),
            ("false", T.TimestampType),
        ):
            spark.conf.set(NTZ_CONF, value)
            got = read_parquet(spark, path).schema
            assert got == spark.read.parquet(path).schema
            assert isinstance(got["t"].dataType, want), value
    finally:
        spark.conf.set(NTZ_CONF, prev)


def test_nanos_events_table_schema(spark, tmp_path):
    sf = str(tmp_path)
    ns = 1_600_000_000_123_456_789
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([ns], pa.timestamp("ns"))}),
        f"{sf}/events.parquet",
    )
    cached, fresh = _cached_equals_fresh(spark, f"{sf}/events.parquet")
    assert cached == fresh
    assert isinstance(cached["ts"].dataType, T.LongType)  # nanosAsLong
    events = catalog.table(spark, sf, "events")
    assert isinstance(events.schema["ts"].dataType, T.TimestampType)
    got = events.select(F.unix_micros("ts").alias("us")).collect()[0].us
    assert got == ns // 1000


def test_published_snapshots_partitioned_carried_and_rolled_back(spark, tmp_path):
    root = str(tmp_path / "wh")
    fact = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("shard")
    )
    dim = spark.range(2).select(F.col("id").alias("k"), F.lit("a").alias("label"))
    assert publish_tables(
        {"fact": fact, "dim": dim}, root, partition_by={"fact": ["shard"]}
    ) == 1
    cached, fresh = _cached_equals_fresh(spark, _rel(root, 1, "fact"))
    assert cached == fresh and cached.names == ["k", "shard"]
    assert read_published(spark, root, "fact").schema == fresh

    # v2 rewrites the fact (a new column) and carries the dim dir forward
    assert publish_tables(
        {"fact": fact.withColumn("extra", F.lit(1.5))},
        root,
        partition_by={"fact": ["shard"]},
        carry_forward=["dim"],
    ) == 2
    assert _rel(root, 2, "dim") == _rel(root, 1, "dim")
    cached, fresh = _cached_equals_fresh(spark, _rel(root, 2, "dim"))
    assert cached == fresh
    assert read_published(spark, root, "fact").schema == spark.read.parquet(
        _rel(root, 2, "fact")
    ).schema

    # a rollback re-references v1's directories: v1's schema again
    assert rollback_published(spark, root, 1) == 3
    for name in ("fact", "dim"):
        got = read_published(spark, root, name).schema
        assert got == spark.read.parquet(_rel(root, 1, name)).schema, name
    assert "extra" not in read_published(spark, root, "fact").columns


def test_overwriting_a_file_invalidates(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": pa.array(["x"], pa.string())}), path)
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns == ["b"] and got.collect()[0].b == "x"


def test_overwriting_a_spark_directory_invalidates(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(5).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(5).select(F.col("id").cast("string").alias("s")).write.mode(
        "overwrite"
    ).parquet(path)
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns == ["s"] and got.count() == 5


def test_spread_decision_follows_a_rewrite(spark, tmp_path):
    """_needs_spread is keyed on the file version: a table rewritten at
    the same path with enough row groups stops being spread."""
    sf = str(tmp_path)
    path = f"{sf}/wide.parquet"
    rng = np.random.default_rng(0)
    data = pa.table({"v": pa.array(rng.integers(0, 2**62, 100_000))})
    pq.write_table(data, path)  # ~800 KB, one row group

    def spread() -> bool:
        df = catalog.table(spark, sf, "wide", spread=True)
        return "Repartition" in df._jdf.queryExecution().logical().toString()

    assert spread()
    pq.write_table(data, path, row_group_size=10_000)
    assert not spread()


def test_cache_is_a_bounded_lru(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pqs, "_SCHEMA_CACHE_SIZE", 2)
    monkeypatch.setattr(pqs, "_SCHEMAS", type(pqs._SCHEMAS)())
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": pa.array([i])}), paths[-1])
    read_parquet(spark, paths[0])
    read_parquet(spark, paths[1])
    read_parquet(spark, paths[0])  # refresh: t1 is now the oldest
    read_parquet(spark, paths[2])
    assert [k[0] for k in pqs._SCHEMAS] == [paths[0], paths[2]]
    assert _jobs(spark, lambda: read_parquet(spark, paths[0])) == 0


def test_missing_path_raises_the_usual_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "nope"))
