"""Report-driven cleaning engine.

The reference's signature capability (``scripts/etl_transform/
data_cleaning.py:64-193``): an audit report (operators/audit.py) drives a
*dynamic* cleaning plan — the plan's shape depends on what the audit found.
All fixes are pure column expressions (the reference's Python UDFs U1,
``data_cleaning.py:49-61``, are re-expressed as regexp_replace + try_cast —
JVM-side, codegen-friendly, ~100x less per-row overhead at scale).

Fix semantics (reference ``data_cleaning.py``):
- fillna defaults per column (text -> "Unknown", money -> 0.0, qty -> 1,
  dates stay null)                                 (:80-105)
- dropDuplicates when the report counted any       (:107-111)
- duplicate suffixed columns: drop extras, strip the suffix back off
                                                   (:113-137)
- numeric strip-and-cast with clamps: negatives -> 0.0 for money,
  non-positives -> 1 for quantities                (:139-164)
- charset repairs: invalid phone/fax -> "Unknown", empty string ->
  "Unknown", non-alphabetic country -> "Unknown"   (:166-179)
- date normalization: multi-format parse to DateType (:180-191). The
  reference nulls ANY date not in M/d/yy form — including already-valid ISO
  dates (SURVEY §7 risk 3); we fix that by trying formats in order.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bbt_etl_dw_spark.operators.audit import AuditReport

STRIP_NON_NUMERIC = r"[^0-9.\-]"
DATE_FORMATS = ("M/d/yy", "M/d/yyyy", "yyyy-MM-dd")


def strip_cast_float(col: str, default: float = 0.0, clamp_negative: bool = True,
                     strip: str = STRIP_NON_NUMERIC) -> Column:
    """Reference U1 float variant as a pure expression: strip junk chars,
    cast, default, clamp negatives to 0.0. ``strip`` defaults to keeping
    the sign; pass ``r"[^0-9.]"`` for the reference's sign-dropping strip
    (data_cleaning.py:54 — '-25' becomes '25')."""
    c = F.regexp_replace(F.col(col).cast("string"), strip, "").try_cast("double")
    c = F.coalesce(c, F.lit(default))
    if clamp_negative:
        c = F.when(c < 0, F.lit(0.0)).otherwise(c)
    return c


def strip_cast_int(col: str, default: int = 0, clamp_non_positive_to: int | None = 1,
                   strip: str = STRIP_NON_NUMERIC) -> Column:
    """Reference U1 int variant: strip, cast, default, non-positive -> 1.
    Goes through double first: int("12.5") truncates toward zero like the
    reference's int(float(x)) (try_cast straight to long nulls on "12.5")."""
    c = (
        F.regexp_replace(F.col(col).cast("string"), strip, "")
        .try_cast("double")
        .try_cast("long")
    )
    c = F.coalesce(c, F.lit(default).cast("long"))
    if clamp_non_positive_to is not None:
        c = F.when(c <= 0, F.lit(clamp_non_positive_to).cast("long")).otherwise(c)
    return c


def parse_date_multi(col: str, formats: Sequence[str] = DATE_FORMATS) -> Column:
    """First-successful-format date parse (fixes the reference's
    null-everything-not-M/d/yy bug, data_cleaning.py:184-190).
    try_to_date keeps ANSI mode from throwing on unparseable rows."""
    attempts = [F.try_to_date(F.col(col), fmt) for fmt in formats]
    return F.coalesce(*attempts)


def repair_charset(col: str, regex: str, replacement: str = "Unknown") -> Column:
    return F.when(
        F.col(col).isNotNull() & ~F.col(col).rlike(regex), F.lit(replacement)
    ).otherwise(F.col(col))


def repair_empty(col: str, replacement: str = "Unknown") -> Column:
    return F.when(
        F.col(col).isNotNull() & (F.trim(F.col(col)) == ""), F.lit(replacement)
    ).otherwise(F.col(col))


@dataclass
class CleaningConfig:
    """Per-source declarative cleaning policy (what the reference hard-codes
    per script, data_cleaning.py:64-105)."""

    fill_text: Sequence[str] = ()        # -> "Unknown"
    fill_money: Sequence[str] = ()       # -> 0.0
    fill_quantity: Sequence[str] = ()    # -> 1
    money_cols: Sequence[str] = ()       # strip-cast float, clamp negatives
    quantity_cols: Sequence[str] = ()    # strip-cast int, non-positive -> 1
    phone_cols: Sequence[str] = ()       # charset repair
    country_cols: Sequence[str] = ()     # alphabetic repair
    non_empty_cols: Sequence[str] = ()   # empty -> "Unknown"
    date_cols: Sequence[str] = ()        # multi-format parse -> DateType
    date_formats: Sequence[str] = DATE_FORMATS
    strip_regex: str = STRIP_NON_NUMERIC  # junk-strip charset for numeric fixes


@dataclass
class CleaningPlan:
    """A concrete plan: config policy × audit findings. ``apply`` builds one
    lazy Catalyst plan — no intermediate materialization."""

    config: CleaningConfig
    drop_duplicates: bool = False
    drop_columns: Sequence[str] = ()
    rename_columns: dict[str, str] = field(default_factory=dict)
    # (keep, extra) pairs behind drop_columns, so apply can verify the
    # "duplicate" columns really are value-identical before dropping
    duplicate_pairs: Sequence[tuple[str, str]] = ()

    @classmethod
    def from_report(cls, report: AuditReport | dict, config: CleaningConfig) -> CleaningPlan:
        rep = report.to_dict() if isinstance(report, AuditReport) else report
        drops: list[str] = []
        renames: dict[str, str] = {}
        pairs: list[tuple[str, str]] = []
        for base, cols in rep.get("duplicate_columns", {}).items():
            keep, *extra = cols
            drops.extend(extra)
            pairs.extend((keep, e) for e in extra)
            renames[keep] = base
        return cls(
            config=config,
            drop_duplicates=rep.get("duplicate_rows", 0) > 0,
            drop_columns=drops,
            rename_columns=renames,
            duplicate_pairs=pairs,
        )

    def apply(self, df: DataFrame, verify_duplicate_columns: bool = False) -> DataFrame:
        cfg = self.config
        if self.drop_columns:
            # The duplicate-column report is a NAME heuristic (Spark's
            # position-suffixed header dedup shape) — legitimately
            # distinct columns like Address1/Address2 can match it, and
            # dropping one of those would be silent data loss (review
            # finding). ``verify_duplicate_columns=True`` value-checks
            # each pair with one early-exit (LIMIT 1) probe before
            # dropping. It is OFF by default for reference parity: the
            # reference drops the later duplicate unconditionally, and
            # its own dirty CSV has a ragged row where the two OrderID
            # copies genuinely differ — the goldens pin that behavior.
            # Enable it for any non-parity pipeline.
            if verify_duplicate_columns:
                for keep, extra in self.duplicate_pairs:
                    if keep not in df.columns or extra not in df.columns:
                        continue
                    diff = df.filter(
                        ~F.col(keep).eqNullSafe(F.col(extra))
                    ).take(1)
                    if diff:
                        raise ValueError(
                            f"cleaning plan would drop column {extra!r} as a "
                            f"duplicate of {keep!r}, but their values differ "
                            f"(first differing row: {diff[0]}) — the "
                            "position-suffix name match was a false "
                            "positive; rename the columns or drop "
                            "explicitly"
                        )
            df = df.drop(*self.drop_columns)
        for old, new in self.rename_columns.items():
            df = df.withColumnRenamed(old, new)
        if self.drop_duplicates:
            df = df.dropDuplicates()

        fills: dict[str, object] = {}
        for c in cfg.fill_text:
            if c in df.columns:
                fills[c] = "Unknown"
        for c in cfg.fill_money:
            if c in df.columns:
                fills[c] = 0.0
        for c in cfg.fill_quantity:
            if c in df.columns:
                fills[c] = 1
        if fills:
            df = df.fillna(fills)

        exprs: dict[str, Column] = {}
        for c in cfg.money_cols:
            if c in df.columns:
                exprs[c] = strip_cast_float(c, strip=cfg.strip_regex)
        for c in cfg.quantity_cols:
            if c in df.columns:
                exprs[c] = strip_cast_int(c, strip=cfg.strip_regex)
        for c in cfg.phone_cols:
            if c in df.columns:
                exprs[c] = repair_charset(c, r"^[0-9.()\- ]*$")
        for c in cfg.country_cols:
            if c in df.columns:
                exprs[c] = repair_charset(c, r"^[a-zA-Z ]+$")
        for c in cfg.non_empty_cols:
            if c in df.columns:
                exprs[c] = repair_empty(c)
        for c in cfg.date_cols:
            if c in df.columns:
                exprs[c] = parse_date_multi(c, cfg.date_formats)
        if exprs:
            df = df.withColumns(exprs)
        return df


def winsorize(
    df: DataFrame,
    cols: Sequence[str],
    lower_pct: float = 0.01,
    upper_pct: float = 0.99,
    accuracy: int = 10000,
    exact: bool = False,
) -> DataFrame:
    """Cap numeric outliers at their percentile bounds (winsorization) —
    the standard pre-aggregation defense against fat-fingered magnitudes
    that survive type cleaning (a 10^6x price typo still parses as a
    valid double and would dominate every mean/sum downstream).

    Bounds come from ONE bounds pass over all columns at once, collected
    as a single tiny row and inlined as literals into one clip
    projection. Two narrow passes total at any scale. Rows are never
    dropped — capping preserves row counts and join keys, unlike
    filter-based outlier removal.

    Two bounds modes:

    - ``exact=False`` (default): ``percentile_approx`` with ``accuracy``
      — a mergeable GK sketch, memory O(accuracy) per column regardless
      of data size. The 100 TB path. NOT deterministic to the exact rank:
      even with ``accuracy >= row count`` (every value retained), merging
      per-partition summaries introduces nonzero rank deltas, so the
      returned element can sit one rank off the ANSI percentile_disc
      element (observed at sf0.1: n=600000, q=0.01 -> rank 5999 instead
      of 6000; caught by the r13 full-registry sweep at sf0.1 after
      sf0.001/0.01 probes happened to agree).
    - ``exact=True``: ANSI ``percentile_disc`` (smallest element with
      cume_dist >= q, i.e. rank ceil(q*n)) — exact at any row count and
      identical to DuckDB's quantile_disc, at memory O(distinct values)
      per column (Spark's value->count map implementation). Use when a
      downstream contract pins the exact bound element; prefer the
      sketch when the column's distinct count is unbounded."""
    from pyspark.sql import types as T

    pcts = F.array(F.lit(float(lower_pct)), F.lit(float(upper_pct)))
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    def _bounds_input(c: str):
        # NaN sorts ABOVE every real value, so a NaN fraction exceeding
        # 1-upper_pct would make the upper bound itself NaN; least(x, NaN)
        # then leaves x unchanged — silently disabling upper capping for
        # the column. Exclude NaN from the bounds pass (it is already
        # excluded from clipping below).
        if isinstance(dtypes[c], (T.DoubleType, T.FloatType)):
            return F.when(~F.isnan(c), F.col(c))
        return F.col(c)

    if exact:
        # percentile_disc is WITHIN GROUP syntax only (no DataFrame
        # function); the ORDER BY expression mirrors _bounds_input's
        # NaN exclusion (the aggregate already skips NULLs, so CASE
        # WHEN yields the same inlier set).
        def _disc(c: str, q: float):
            quoted = "`" + c.replace("`", "``") + "`"
            src = (
                f"CASE WHEN NOT isnan({quoted}) THEN {quoted} END"
                if isinstance(dtypes[c], (T.DoubleType, T.FloatType))
                else quoted
            )
            return F.expr(
                f"percentile_disc(CAST({q!r} AS DOUBLE)) "
                f"WITHIN GROUP (ORDER BY {src})"
            )

        raw = df.agg(
            *[
                b
                for c in cols
                for b in (
                    _disc(c, float(lower_pct)).alias(f"{c}__lo"),
                    _disc(c, float(upper_pct)).alias(f"{c}__hi"),
                )
            ]
        ).first()
        bounds_row = {c: (raw[f"{c}__lo"], raw[f"{c}__hi"]) for c in cols}
    else:
        bounds_row = df.agg(
            *[
                F.percentile_approx(_bounds_input(c), pcts, accuracy).alias(c)
                for c in cols
            ]
        ).first()
    clips = {}
    for c in cols:
        b = bounds_row[c]
        if b is None or b[0] is None:  # all-null column: leave untouched
            continue
        lo, hi = float(b[0]), float(b[1])
        dt = dtypes[c]
        # least/greatest SKIP nulls AND sort NaN above everything (a null
        # would come back as the bound, a NaN would be rewritten into a
        # plausible upper-bound inlier) — both invalid-value encodings
        # must pass through untouched.
        invalid = F.col(c).isNull()
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            invalid = invalid | F.isnan(c)
        clip = F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
        # cast back: the float bound literals would silently promote
        # integer columns to double (schema fork on append)
        clips[c] = F.when(~invalid, clip.cast(dt)).otherwise(F.col(c))
    return df.withColumns(clips) if clips else df
