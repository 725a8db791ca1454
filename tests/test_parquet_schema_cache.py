"""sources.parquet.read_parquet: each parquet relation is resolved once per
file version, session type-mapping confs and JVM session, so warm catalog
and snapshot reads plan without a Spark job or a listing — and the schema
they use is always the one a fresh inference returns."""

from __future__ import annotations

import json
import os
import threading
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


def _round_trips(spark, fn, monkeypatch) -> int:
    """py4j commands ``fn`` sends from this thread (py4j's finalizer
    thread releases dropped objects on its own schedule)."""
    client = spark._jvm._gateway_client
    real, me, sent = client.send_command, threading.get_ident(), []

    def counted(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return real(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counted)
        fn()
    return len(sent)


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


def test_warm_reads_stay_within_a_round_trip_budget(spark, sf_dir, tmp_path, monkeypatch):
    """The parent commit made 97 py4j round trips per warm read_published
    of a six-table snapshot (a package walk per Hadoop Path, a call per
    listed table directory, a manifest parse, a re-resolved relation)
    and 36 per warm catalog.table."""
    root = str(tmp_path / "wh")
    publish_tables({f"t{i}": spark.range(10 + i) for i in range(6)}, root)
    budgets = {
        "read_published": (lambda: read_published(spark, root, "t0"), 32),
        "catalog.table": (lambda: catalog.table(spark, sf_dir, "customer"), 24),
    }
    for name, (read, budget) in budgets.items():
        read()
        assert _jobs(spark, read) == 0, name
        assert _round_trips(spark, read, monkeypatch) <= budget, name
    assert read_published(spark, root, "t5").count() == 15


def test_self_join_of_published_reads_matches_fresh_reads(spark, tmp_path):
    """Every read gets its own attribute ids: a self-join of a cold and
    two warm reads of one table equals the join over fresh reads."""
    root = str(tmp_path / "wh")
    t = spark.range(6).select(F.col("id").alias("k"), (F.col("id") % 3).alias("g"))
    publish_tables({"t": t}, root)
    path = _rel(root, 1, "t")

    def pairs(a, b):
        return sorted(
            a.join(b, a.g == b.g).select(a.k.alias("l"), b.k.alias("r")).collect()
        )

    cold, warm, warm2 = (read_published(spark, root, "t") for _ in range(3))
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert len(want) == 12
    assert pairs(cold, warm) == want
    assert pairs(warm, warm2) == want


def test_a_new_session_never_gets_another_sessions_relation(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    read_parquet(spark, path)
    read_parquet(spark, path)
    other = spark.newSession()
    for df in (read_parquet(other, path), read_parquet(other, path)):
        owner = df._jdf.queryExecution().analyzed().relation().sparkSession()
        assert owner.equals(other._jsparkSession)
        assert not owner.equals(spark._jsparkSession)
        assert df.count() == 3


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
