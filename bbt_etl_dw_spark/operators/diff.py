"""Snapshot diff (CDC extraction): compare two snapshots of a keyed table
and emit the change set — insert / delete / update rows with the list of
changed columns.

The reference's warehouse loads are full overwrites (SURVEY §2.1 S2,
reference ``etl_load.py``); real incremental pipelines instead derive a
change-data feed by diffing the new extract against the previous snapshot,
then feed updates into SCD2 (operators/scd2.py) or a MERGE. This operator
is that diff, built scale-first:

- ONE full-outer hash join on the key columns — both sides shuffle once,
  co-partitioned by key; no window, no collect.
- Column comparison is a pure expression (null-safe equality per compared
  column), evaluated inside whole-stage codegen.
- Unchanged rows are dropped BEFORE the result materializes, so the output
  is O(|changes|), not O(|table|) — the property that makes daily diffs of
  a 100 TB dimension viable when churn is low.

At cluster scale both snapshots would be bucketed on the key to make the
join shuffle-free; the operator only requires key-partitionable inputs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bbt_etl_dw_spark.jvm import jvm_class


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Diff two snapshots keyed by ``keys``.

    Returns one row per inserted / deleted / changed key:
    ``keys..., op ('insert'|'delete'|'update'), changed_cols (array<string>,
    registration order), old_<col> and new_<col> for every compared column``.
    Unchanged keys are omitted. Key columns must be non-null (enforced by
    the join semantics: a null key never matches and would surface as a
    spurious insert+delete pair).
    """
    if compare_cols is None:
        keyset = set(keys)
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keyset
        ]
    o = old.select(
        *[F.col(k).alias(k) for k in keys],
        F.lit(1).alias("_old_present"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(k) for k in keys],
        F.lit(1).alias("_new_present"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, on=list(keys), how="full_outer")

    diffs = [
        (c, ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))) for c in compare_cols
    ]
    changed_cols = F.filter(
        F.array(*[F.when(d, F.lit(c)) for c, d in diffs]),
        lambda x: x.isNotNull(),
    )
    any_diff = F.size(changed_cols) > 0
    op = (
        F.when(F.col("_old_present").isNull(), F.lit("insert"))
        .when(F.col("_new_present").isNull(), F.lit("delete"))
        .when(any_diff, F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .withColumn(
            "changed_cols",
            F.when(F.col("op") == "update", changed_cols).otherwise(
                F.array().cast("array<string>")
            ),
        )
        .select(
            *keys,
            "op",
            "changed_cols",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def apply_changes(
    spark,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    part_col: str,
) -> None:
    """Apply a :func:`snapshot_diff`-style change set to a partitioned
    parquet target — the write half of the CDC loop.

    Scale shape (the Delta-replaceWhere pattern on plain parquet):

    - Only partitions CONTAINING a change are rewritten. Affected
      partition values are collected (bounded by the change set, which is
      O(churn), not O(table)) and pushed into the target read as a
      PartitionFilter, so the job scans |affected partitions| — at 100 TB
      with daily churn touching 1% of partitions, 1% of the table moves.
    - The rewrite = surviving old rows (left-anti on changed keys) union
      upserted rows, written with dynamic partition overwrite — requested
      as a PER-WRITE option, never by toggling the session conf (a
      concurrent writer in the same session could race a conf toggle into
      a static overwrite that truncates every untouched partition).
    - The target is read with an EXPLICIT schema whose partition-column
      type comes from the change set: partition directory names otherwise
      re-infer their type ('part=01' would come back as int 1 and
      fragment the partition into 1 and 01 on rewrite).
    - ``changes`` is localCheckpoint-ed up front: it is consulted three
      times (affected values, anti-join keys, upserts) and is typically an
      expensive full-outer diff — and Spark (correctly) refuses to
      overwrite a path a plan is still lazily reading from, so the output
      is materialized the same way. On a real lake, a reliable checkpoint
      dir or staging-location swap replaces this — same plan, different
      durability.

    ``changes`` must carry the key columns, ``op``, and ``new_<col>`` /
    ``old_<col>`` columns as produced by snapshot_diff; the partition
    column must be one of the preserved columns (key or compared)."""
    from bbt_etl_dw_spark.operators.ckpt import materialize

    changes = materialize(changes)

    def change_side(c: str, prefix: str) -> str:
        return c if c in set(keys) else f"{prefix}{c}"

    # Names from a cheap schema-only read; TYPES from the change set (the
    # original snapshot types) so partition-directory type re-inference
    # can never corrupt values.
    names = spark.read.parquet(target_path).columns
    ch_types = {f.name: f.dataType for f in changes.schema.fields}
    explicit = T.StructType(
        [T.StructField(c, ch_types[change_side(c, "new_")]) for c in names]
    )
    target = spark.read.schema(explicit).parquet(target_path)

    # Both sides of every change touch a partition: the NEW value places
    # inserts/updates, the OLD value locates deletes and the source
    # partition of an update that moved the row across partitions.
    if part_col in set(keys):
        sides = changes.select(F.col(part_col).alias("p"))
    else:
        sides = changes.select(
            F.col(change_side(part_col, "new_")).alias("p")
        ).union(changes.select(F.col(change_side(part_col, "old_")).alias("p")))
    # Collect each affected value TWICE: raw (for the .isin pruning filter)
    # and Catalyst's own string rendering (for partition-path cleanup below
    # — Python str() diverges from Spark's rendering for timestamp/float
    # partition columns, e.g. 1e-7 → '1e-07' vs '1.0E-7', so a stale
    # directory would survive).
    affected_rows = (
        sides.distinct().select("p", F.col("p").cast("string").alias("ps")).collect()
    )
    # NULL partition values are REAL: they live in __HIVE_DEFAULT_PARTITION__
    # and must be pruned-for, rewritten, and cleaned up like any other value
    # (dropping them silently skipped deletes there — and an upsert landing
    # in the NULL partition would dynamic-overwrite away its survivors).
    affected = [r["p"] for r in affected_rows if r["p"] is not None]
    has_null_part = any(r["p"] is None for r in affected_rows)
    affected_str = {r["ps"] for r in affected_rows}  # None stands for NULL
    if not affected and not has_null_part:
        return

    touched_keys = changes.filter(F.col("op").isin("delete", "update")).select(*keys)
    upserts = changes.filter(F.col("op").isin("insert", "update")).select(
        *[F.col(change_side(c, "new_")).alias(c) for c in names]
    )
    part_pred = F.col(part_col).isin(affected) if affected else F.lit(False)
    if has_null_part:
        part_pred = part_pred | F.col(part_col).isNull()
    survivors = target.filter(part_pred).join(
        F.broadcast(touched_keys), on=list(keys), how="left_anti"
    )
    out = materialize(survivors.unionByName(upserts))

    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(target_path)
    )

    # Dynamic overwrite only replaces partitions PRESENT in the output: an
    # affected partition whose rows all deleted writes nothing and its
    # stale files would survive. Drop those directories explicitly via the
    # Hadoop FS API (scheme-resolved — file://, hdfs://, s3a://), building
    # each directory name with Spark's own partition-path escaping so
    # values containing ':' '/' '%' etc. resolve to the real directory.
    remaining = {
        r[0]
        for r in out.select(F.col(part_col).cast("string")).distinct().collect()
    }
    emptied = [p for p in affected_str if p not in remaining]
    if emptied:
        conf = spark._jsc.hadoopConfiguration()
        esc = jvm_class(spark, "org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils")
        path_cls = jvm_class(spark, "org.apache.hadoop.fs.Path")
        for p in emptied:
            dirname = esc.getPartitionPathString(
                part_col, "__HIVE_DEFAULT_PARTITION__" if p is None else p
            )
            jpath = path_cls(f"{target_path.rstrip('/')}/{dirname}")
            fs = jpath.getFileSystem(conf)
            if fs.exists(jpath):
                fs.delete(jpath, True)
