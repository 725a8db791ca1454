"""Sources layer tests: dirty-CSV ingestion parity (dup headers, ragged
rows, quoted commas), medallion parquet snapshots, report round-trip."""

import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from bbt_etl_dw_spark.operators.audit import audit, rule_positive_number
from bbt_etl_dw_spark.sources.csv import dedup_headers, read_csv, read_headers
from bbt_etl_dw_spark.sources.jdbc import DERBY_DRIVER, jdbc_options, read_jdbc, write_jdbc
from bbt_etl_dw_spark.sources.parquet import read_snapshot, write_snapshot
from bbt_etl_dw_spark.sources.report import read_audit_json, write_audit_json, write_audit_txt

DIRTY_CSV = """OrderID,CustomerID,ShipAddress,Freight,OrderID,UnitPrice
1,ALFKI,"Rua do Paço, 67",12.5,1,9.99
2,ANATR,Main St 5,-3.0,2,15.00
3,BERGS,Short row,4.2
4,BONAP,"Quote ""inner"" test",8.0,4,20.5
"""


def _write_tmp(content: str) -> str:
    d = tempfile.mkdtemp()
    p = Path(d) / "sales.csv"
    p.write_text(content)
    return str(p)


def test_dedup_headers():
    assert dedup_headers(["OrderID", "A", "OrderID"]) == ["OrderID0", "A", "OrderID2"]
    assert dedup_headers(["a", "b"]) == ["a", "b"]


def test_read_headers_quoted(spark):
    path = _write_tmp(DIRTY_CSV)
    assert read_headers(spark, path) == [
        "OrderID0",
        "CustomerID",
        "ShipAddress",
        "Freight",
        "OrderID4",
        "UnitPrice",
    ]


def test_read_csv_dirty(spark):
    path = _write_tmp(DIRTY_CSV)
    df = read_csv(spark, path)
    rows = {r["OrderID0"]: r for r in df.collect()}
    assert len(rows) == 4
    # quoted comma preserved
    assert rows["1"]["ShipAddress"] == "Rua do Paço, 67"
    # embedded escaped quotes
    assert rows["4"]["ShipAddress"] == 'Quote "inner" test'
    # ragged row null-padded (PERMISSIVE)
    assert rows["3"]["OrderID4"] is None and rows["3"]["UnitPrice"] is None
    # audit over the ingested strings sees the dup column + bad freight
    rep = audit(df, "sales", id_col="OrderID0", rules=[rule_positive_number("Freight")])
    assert rep.duplicate_columns == {"OrderID": ["OrderID0", "OrderID4"]}
    assert rep.inconsistencies["Freight"]["count"] == 1


def test_parquet_snapshot_roundtrip(spark):
    root = tempfile.mkdtemp()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    write_snapshot(df, root, "bronze", "t", "2024-01-01")
    write_snapshot(df.withColumn("v", F.upper("v")), root, "bronze", "t", "2024-01-02")
    day1 = read_snapshot(spark, root, "bronze", "t", "2024-01-01")
    allrows = read_snapshot(spark, root, "bronze", "t")
    assert day1.count() == 2 and allrows.count() == 4
    assert {r["v"] for r in day1.collect()} == {"a", "b"}
    # dynamic overwrite replaces only its own partition
    write_snapshot(df.limit(1), root, "bronze", "t", "2024-01-02")
    assert read_snapshot(spark, root, "bronze", "t").count() == 3


def test_report_roundtrip(spark):
    df = spark.createDataFrame([("x", -1.0), ("y", 2.0)], "id string, amt double")
    rep = audit(df, "src", id_col="id", rules=[rule_positive_number("amt")])
    d = tempfile.mkdtemp()
    write_audit_json([rep], f"{d}/audit.json")
    write_audit_txt([rep], f"{d}/audit.txt")
    loaded = read_audit_json(f"{d}/audit.json")
    assert loaded[0]["source"] == "src"
    assert loaded[0]["inconsistencies"]["amt"]["count"] == 1
    assert "inconsistent amt" in Path(f"{d}/audit.txt").read_text()


def test_jdbc_options():
    opts = jdbc_options("jdbc:sqlserver://h:1433;db=dw", "FactSales", user="u", num_partitions=8)
    assert opts["dbtable"] == "FactSales" and opts["numPartitions"] == "8"


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S4 executed end to end: write a gold-shaped table over real JDBC
    (embedded Derby — same DataFrameWriter path as SQL Server, different
    dialect) and read it back via a partitioned parallel scan."""
    url = f"jdbc:derby:{tmp_path}/dw;create=true"
    gold = spark.range(100).select(
        F.col("id").alias("SalesID"),
        (F.col("id") % 7).alias("ClientID"),
        (F.col("id") * 1.5).alias("TotalAmount"),
        F.concat(F.lit("P"), F.col("id") % 5).alias("ProductRef"),
    )
    opts = jdbc_options(url, "FactSales", driver=DERBY_DRIVER, batchsize=50)
    write_jdbc(gold, mode="overwrite", **opts)
    # appends accumulate, like the reference's etl_load append mode
    write_jdbc(gold.limit(10), mode="append", **opts)

    back = read_jdbc(
        spark, **opts, partitionColumn="SalesID", lowerBound="0",
        upperBound="100", numPartitions="4",
    )
    assert back.count() == 110
    assert back.rdd.getNumPartitions() == 4
    got = {
        (r["SalesID"], r["ClientID"], r["TotalAmount"], r["ProductRef"])
        for r in back.filter(F.col("SalesID") < 10).distinct().collect()
    }
    want = {(i, i % 7, i * 1.5, f"P{i % 5}") for i in range(10)}
    assert got == want


def test_snapshot_partition_pruning_plan(spark, tmp_path):
    """Directory-level partition pruning: filtering on snapshot_date must
    appear as PartitionFilters on the scan (pruned before any IO), and the
    pruned read must touch only the matching partition."""
    import contextlib
    import io

    root = str(tmp_path)
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("k"))
    write_snapshot(df, root, "silver", "sales", "2024-01-01")
    write_snapshot(df, root, "silver", "sales", "2024-01-02")

    pruned = read_snapshot(spark, root, "silver", "sales", "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "2024-01-02" in plan  # the literal reached the scan's pruning
    assert pruned.count() == 100

    # dynamic overwrite of one day leaves the other day intact
    write_snapshot(df.limit(10), root, "silver", "sales", "2024-01-02")
    assert read_snapshot(spark, root, "silver", "sales", "2024-01-02").count() == 10
    assert read_snapshot(spark, root, "silver", "sales", "2024-01-01").count() == 100


def test_jsonl_roundtrip_with_quarantine(spark, tmp_path):
    """JSONL read: explicit schema, clean rows parse, malformed lines land
    in quarantine verbatim; write round-trips values."""
    from pyspark.sql import types as T

    from bbt_etl_dw_spark.sources.jsonl import read_jsonl, write_jsonl

    src = tmp_path / "corpus.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello world", "extra": true}\n'
        '{"doc_id": 2, "text": "zwei"}\n'
        "{not json at all}\n"
        '{"doc_id": "not-an-int", "text": "bad type"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad = read_jsonl(spark, str(src), schema)
    rows = {(r.doc_id, r.text) for r in good.collect()}
    assert rows == {(1, "hello world"), (2, "zwei")}
    bad_lines = [r.raw_line for r in bad.collect()]
    assert len(bad_lines) == 2 and "{not json at all}" in bad_lines

    out = tmp_path / "out"
    write_jsonl(good, str(out), partitions=1)
    back, back_bad = read_jsonl(spark, str(out), schema)
    assert {(r.doc_id, r.text) for r in back.collect()} == rows
    assert back_bad.count() == 0


def test_compaction_hits_target_file_count(spark, sf_dir, tmp_path):
    """Compaction rewrites a fragmented table into the computed number of
    files; sort_by additionally makes per-file min/max stats selective."""
    import glob

    from bbt_etl_dw_spark.catalog import table
    from bbt_etl_dw_spark.sources.compact import compact_to_target

    li = table(spark, sf_dir, "lineitem")
    fragmented = str(tmp_path / "fragmented")
    li.repartition(40).write.parquet(fragmented)  # small-files disease
    assert len(glob.glob(f"{fragmented}/*.parquet")) == 40

    compacted = str(tmp_path / "compacted")
    n = compact_to_target(
        spark.read.parquet(fragmented), compacted, target_file_mb=1, sort_by="l_orderkey"
    )
    files = glob.glob(f"{compacted}/*.parquet")
    assert len(files) == n < 40
    back = spark.read.parquet(compacted)
    assert back.count() == li.count()
    # range partitioning: files cover disjoint key ranges => min/max stats prune
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        mins = min(md.row_group(g).column(col_idx).statistics.min for g in range(md.num_row_groups))
        maxs = max(md.row_group(g).column(col_idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((mins, maxs))
    ranges.sort()
    assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))


def test_jsonl_rejects_reserved_column_and_quotes_dotted_names(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import types as T

    from bbt_etl_dw_spark.sources.jsonl import read_jsonl

    src = tmp_path / "d.jsonl"
    src.write_text('{"user.id": 7, "text": "x"}\n')
    with _pytest.raises(ValueError, match="_corrupt_record"):
        read_jsonl(
            spark,
            str(src),
            T.StructType([T.StructField("_corrupt_record", T.StringType())]),
        )
    dotted = T.StructType(
        [T.StructField("user.id", T.LongType()), T.StructField("text", T.StringType())]
    )
    good, bad = read_jsonl(spark, str(src), dotted)
    assert [tuple(r) for r in good.collect()] == [(7, "x")]
    assert bad.count() == 0


def test_compact_directory_sizes_from_disk(spark, sf_dir, tmp_path):
    import glob

    from bbt_etl_dw_spark.catalog import table
    from bbt_etl_dw_spark.sources.compact import compact_directory

    src = str(tmp_path / "src")
    table(spark, sf_dir, "orders").repartition(20).write.parquet(src)
    dst = str(tmp_path / "dst")
    n = compact_directory(spark, src, dst, target_file_mb=1)
    files = glob.glob(f"{dst}/*.parquet")
    assert len(files) == n
    assert spark.read.parquet(dst).count() == table(spark, sf_dir, "orders").count()


def test_compact_directory_hadoop_fs_scheme_and_empty_guard(spark, sf_dir, tmp_path):
    """Sizing goes through the Hadoop FileSystem API: an explicit file://
    URI (the same resolution path hdfs:// and s3a:// take on a cluster)
    works, and a missing or file-less source RAISES instead of silently
    compacting '0 bytes' into one file."""
    import glob

    import pytest as _pytest

    from bbt_etl_dw_spark.catalog import table
    from bbt_etl_dw_spark.sources.compact import _on_disk_bytes, compact_directory

    src = str(tmp_path / "src")
    table(spark, sf_dir, "orders").repartition(10).write.parquet(src)

    # scheme-qualified URI resolves through Hadoop's FS, not local glob
    uri = f"file://{src}"
    sized = _on_disk_bytes(spark, uri)
    import os

    local = sum(
        os.path.getsize(f)
        for f in glob.glob(f"{src}/**", recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    )
    assert sized == local > 0

    dst = str(tmp_path / "dst")
    n = compact_directory(spark, uri, dst, target_file_mb=1)
    assert len(glob.glob(f"{dst}/*.parquet")) == n
    assert spark.read.parquet(dst).count() == table(spark, sf_dir, "orders").count()

    with _pytest.raises(ValueError, match="does not exist"):
        compact_directory(spark, str(tmp_path / "nope"), str(tmp_path / "d2"))

    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(ValueError, match="no data files"):
        compact_directory(spark, str(empty), str(tmp_path / "d3"))


def test_estimate_row_bytes_samples_across_partitions(spark):
    """The width estimate must not be dominated by the head of the first
    file: a frame whose first partition holds only short rows and later
    partitions hold long rows should estimate well above the short-row
    width."""
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.sources.compact import estimate_row_bytes

    short = spark.range(0, 2000, 1, 1).select(F.lit("x").alias("payload"))
    long_ = spark.range(0, 2000, 1, 4).select(F.lit("y" * 400).alias("payload"))
    df = short.unionByName(long_).coalesce(5)
    w = estimate_row_bytes(df)
    # head-of-first-partition sampling would report ~16 bytes; a spread
    # sample must see a meaningful share of the 400-byte rows
    assert w > 100

    # tiny-table fallback still returns a sane width
    tiny = spark.range(0, 3).select(F.lit("abc").alias("p"))
    assert estimate_row_bytes(tiny) > 0


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """Z-order compaction must shrink per-file min/max spans on BOTH
    columns (each file ≈ a rectangle), where a linear sort leaves the
    secondary column's span at ~the full range (thin full-height
    stripes). This is exactly the property parquet footer pruning feeds
    on for two-column predicates."""
    import pyspark.sql.functions as F

    from bbt_etl_dw_spark.sources.compact import compact_to_target, compact_zorder

    n = 1 << 14
    grid = 1 << 7
    df = (
        spark.range(n)
        .select(
            # x, y decorrelated uniform over a 128x128 grid
            (F.xxhash64(F.col("id")) % grid + grid) % grid,
            (F.xxhash64(F.col("id"), F.lit(1)) % grid + grid) % grid,
        )
        .toDF("x", "y")
    )

    def avg_spans(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
            .collect()[0]
        )
        return per_file["ax"], per_file["ay"]

    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    # Force ~16 files via total_bytes so the geometry is comparable.
    nf = compact_zorder(df, zpath, ("x", "y"), target_file_mb=1,
                        total_bytes=16 * 1024 * 1024)
    compact_to_target(df, lpath, target_file_mb=1, sort_by="x",
                      total_bytes=16 * 1024 * 1024)
    assert nf == 16

    zx, zy = avg_spans(zpath)
    lx, ly = avg_spans(lpath)
    # Linear sort: x tightly clustered, y spans the whole range.
    assert lx < grid * 0.2 and ly > grid * 0.9
    # Z-order: BOTH dims contract well below the full range. 16 files over
    # a 128x128 grid ideally gives 32x64 rectangles; allow generous slack.
    assert zx < grid * 0.6 and zy < grid * 0.6, (zx, zy, lx, ly)
    # And the secondary dimension must beat the linear layout decisively.
    assert zy < ly * 0.7


def test_compact_zorder_all_null_column_raises(spark, tmp_path):
    """An all-NULL key column has no range to scale: compact_zorder
    refuses it by name instead of writing an unclustered layout."""
    import pytest as _pytest

    from bbt_etl_dw_spark.sources.compact import compact_zorder

    df = spark.createDataFrame([(1, None), (2, None)], "x long, y double")
    with _pytest.raises(ValueError, match="'y'"):
        compact_zorder(df, str(tmp_path / "z"), ("x", "y"), total_bytes=1.0)


def test_writable_session_catalog_partition_pruning(spark, sf_dir):
    """save_table registers a managed partitioned table that spark.sql /
    spark.table can query, and a filter on the partition column reaches
    the scan as a PartitionFilter (directory pruning, same as path-based
    snapshots)."""
    import pyspark.sql.functions as F

    from bbt_etl_dw_spark.catalog import read_table, save_table, table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    save_table(li, "li_by_flag", partition_by="l_returnflag")
    try:
        back = read_table(spark, "li_by_flag")
        assert back.count() == li.count()

        pruned = spark.sql(
            "SELECT COUNT(*) AS n FROM li_by_flag WHERE l_returnflag = 'R'"
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split(
            "PartitionFilters:"
        )[1].split("]")[0], plan
        want = li.filter(F.col("l_returnflag") == "R").count()
        assert pruned.collect()[0]["n"] == want
    finally:
        spark.sql("DROP TABLE IF EXISTS li_by_flag")


def test_read_resilient_survives_corrupt_file(spark, tmp_path):
    """A truncated parquet file must not kill the scan: read_resilient
    skips it (per-read options, not session conf) and returns the intact
    rows; a plain read of the same directory fails."""
    import glob

    import pytest as _pytest

    from bbt_etl_dw_spark.sources.parquet import read_resilient

    path = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(4).write.parquet(
        path
    )
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) == 4
    # corrupt one file: keep the magic header, destroy the footer
    with open(files[1], "r+b") as f:
        f.truncate(16)

    plain = spark.read.schema("id long, v long").parquet(path)
    with _pytest.raises(Exception):
        plain.count()

    report = {}
    df = read_resilient(spark, path, schema="id long, v long", report=report)
    got = df.count()
    assert 0 < got < 1000          # the corrupt file's rows are gone...
    assert report["files"] == 4    # ...and the shrinkage is observable
    assert df.selectExpr("max(v - 2*id)").first()[0] == 0  # intact rows correct


def test_write_jsonl_shuffle_variant_same_data(spark, tmp_path):
    """write_jsonl(shuffle=True) repartitions instead of coalescing (the
    heavy-narrow-upstream case): same rows, same requested file count —
    only the exchange strategy differs."""
    import glob

    from pyspark.sql import types as T

    from bbt_etl_dw_spark.sources.jsonl import read_jsonl, write_jsonl

    df = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    for shuffle in (False, True):
        out = str(tmp_path / f"out_{shuffle}")
        write_jsonl(df, out, partitions=2, shuffle=shuffle)
        files = [
            f
            for f in glob.glob(f"{out}/part-*")
            if not f.endswith(".crc")
        ]
        assert len(files) == 2
        back, bad = read_jsonl(spark, out, schema)
        assert bad.count() == 0
        assert {(r.doc_id, r.text) for r in back.collect()} == {
            (i, str(i)) for i in range(100)
        }
