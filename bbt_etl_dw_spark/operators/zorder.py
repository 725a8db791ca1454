"""Z-order (Morton-curve) layout: multi-dimensional data clustering so
parquet row-group min/max statistics prune on SEVERAL columns at once.

A table sorted on one column prunes scans filtered on that column only; a
rectangle predicate (``user_id BETWEEN a AND b AND value BETWEEN c AND d``)
over a single-sorted layout still reads almost every row group, because the
second column is uniformly spread within each group. Interleaving the bits
of both columns into one Morton key and range-sorting the write on that key
gives every row group a small min/max box in BOTH dimensions — the same
layout lever as Delta/Iceberg ``OPTIMIZE ZORDER BY``, on plain parquet
(reference has no layout story at all; its loads are full overwrites,
``etl_load.py`` — cited for parity scope, not design).

Scale shape:
- the per-column scaling bounds come from ONE tiny min/max aggregate
  (collected as literals — no window, no rank, no global sort of raw data);
- the Morton key is a pure bit-arithmetic expression (whole-stage codegen,
  no UDF, no shuffle of its own);
- the write is ``repartitionByRange`` on the key (one range shuffle — the
  same cost any sorted write pays) + ``sortWithinPartitions``, so file AND
  row-group boundaries both respect the curve.

Linear min-max scaling is used (deliberately): it is replayable bit-exactly
in any engine with integer ops (the suite oracle re-derives keys in SQL).
For heavily skewed columns, pre-transform (e.g. log-bucket) before calling
— quantile scaling would need a sketch whose bucket boundaries are not
portable across engines.

Relationship to ``sources/compact.py``: ``compact_zorder`` there is the
FILE-SIZING entry point used inside lake compaction jobs — it chooses the
file count from the table's bytes and target-file-MB, then calls
:func:`write_zordered` here. This module is the package's one Morton
encoder: k columns, bounds inferred from the data, explicit NULL/NaN
policy, row-group-size control, and an SQL-replayable key layout (bit i
of column j at position ``i*k + j``) — which is what the
``events_zorder_keys`` oracle checks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(cols: Sequence[Column], bits: int = 10) -> Column:
    """Morton-interleave ``bits`` low bits of each (non-negative integer)
    column: bit ``i`` of column ``j`` lands at position ``i*k + j`` of the
    key (k = number of columns). Pure bitwise expression — codegen'd,
    shuffle-free. ``k * bits`` must fit a signed long (<= 62)."""
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits overflows a signed long")
    out = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        x = c.cast("long")
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return out


def scaled_ints(
    df: DataFrame, cols: Sequence[str], bits: int = 10
) -> tuple[dict[str, Column], dict[str, tuple[float, float]]]:
    """Linearly scale each column into [0, 2^bits) using its global
    min/max (one tiny agg, collected once and inlined as literals).
    Returns (scaled-column expressions, collected bounds)."""
    float_cols = {
        f.name for f in df.schema.fields if f.dataType.typeName() in ("float", "double")
    }
    aggs = []
    for c in cols:
        # Spark sorts NaN ABOVE every real double, so a bare max() over a
        # column with one NaN row returns NaN -> span=NaN -> every Morton
        # key NULL (clustering silently disabled). Exclude NaN from the
        # bounds; zorder_key buckets NaN rows with NULLs at key -1.
        v = F.when(~F.isnan(c), F.col(c)) if c in float_cols else F.col(c)
        aggs += [F.min(v).alias(f"_min_{c}"), F.max(v).alias(f"_max_{c}")]
    row = df.agg(*aggs).first()
    n_buckets = (1 << bits) - 1
    exprs: dict[str, Column] = {}
    bounds: dict[str, tuple[float, float]] = {}
    for c in cols:
        lo, hi = row[f"_min_{c}"], row[f"_max_{c}"]
        if lo is None:
            raise ValueError(f"z-order column {c!r} is all NULL/NaN")
        span = float(hi) - float(lo)
        bounds[c] = (float(lo), float(hi))
        if span == 0.0:
            exprs[c] = F.lit(0).cast("long")
        else:
            # floor((x - lo) * n / span): integer result in [0, n]
            exprs[c] = F.floor(
                (F.col(c).cast("double") - F.lit(float(lo)))
                * F.lit(float(n_buckets))
                / F.lit(span)
            ).cast("long")
    return exprs, bounds


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 10) -> Column:
    """Morton key expression for ``cols`` over ``df``'s value ranges.
    NULLs (and, for float/double columns, NaNs) in any key column sort
    first (key -1, below every real key) so they cluster into their own
    row groups instead of widening real ones."""
    exprs, _ = scaled_ints(df, cols, bits)
    float_cols = {
        f.name for f in df.schema.fields if f.dataType.typeName() in ("float", "double")
    }
    any_null = None
    for c in cols:
        n = F.col(c).isNull()
        if c in float_cols:
            n = n | F.isnan(c)
        any_null = n if any_null is None else (any_null | n)
    return F.when(any_null, F.lit(-1).cast("long")).otherwise(
        interleave_bits([exprs[c] for c in cols], bits)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 10,
    num_files: int | None = None,
    rowgroup_bytes: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the Morton curve of ``cols``:
    range-partition on the key (one shuffle), sort within partitions, drop
    the key before writing. ``rowgroup_bytes`` caps parquet row-group size
    (small values make pruning granularity visible on small test data; at
    scale leave the 128 MB default)."""
    key = zorder_key(df, cols, bits)
    staged = df.withColumn("__z", key)
    if num_files:
        staged = staged.repartitionByRange(num_files, "__z")
    else:
        staged = staged.repartitionByRange("__z")
    writer = staged.sortWithinPartitions("__z").drop("__z").write.mode("overwrite")
    if rowgroup_bytes:
        writer = writer.option("parquet.block.size", rowgroup_bytes)
    writer.parquet(path)
