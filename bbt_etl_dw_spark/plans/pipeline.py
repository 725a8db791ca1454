"""End-to-end reference-lifecycle pipeline: the reference's nine-script DAG
(``etl_extract.py`` -> ``audit_report.py`` -> ``data_cleaning.py`` ->
``add_columns.py`` -> ``sales_tax.py`` -> ``sales_currency.py`` ->
``anomalies.py``; SURVEY §0/§3) as ONE composable call over DataFrames.

Where the reference materializes a parquet directory between every script,
this builds a single lazy Catalyst plan per output: the only eager step is
the audit (2 metrics jobs + 3 duplicate-count jobs under AQE, plus one per
violated rule: 9 jobs at sf0.005 with 4 violated rules; see
``operators.audit.audit``), because its counts DRIVE the cleaning plan — that
report-driven dynamic planning is the reference's signature behavior
(``data_cleaning.py:64-105``). Everything downstream (enrich, tax,
currency, anomaly flagging) stays unmaterialized until the caller sinks
it, so Catalyst sees the whole DAG and prunes/pushes across stage
boundaries the reference's script splits made impossible.

Scale: the tax dim broadcasts (bounded: countries); the exchange-rate
as-of join partitions by its `by` keys (never a global series); audit is
a single aggregate pass with capped ID arrays.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bbt_etl_dw_spark.functions.geo import with_geo
from bbt_etl_dw_spark.operators.anomalies import (
    AnomalyRule,
    anomaly_summary,
    flag_anomalies,
)
from bbt_etl_dw_spark.operators.asof import asof_join
from bbt_etl_dw_spark.operators.audit import (
    AuditReport,
    AuditRule,
    audit,
    rule_charset,
    rule_not_iso_date,
    rule_positive_number,
)
from bbt_etl_dw_spark.operators.clean import CleaningConfig, CleaningPlan
from bbt_etl_dw_spark.operators.enrich import total_amount


@dataclass
class PipelineResult:
    """Every intermediate a reference user could read off disk, as lazy
    DataFrames (except ``report``, which is computed to plan the clean)."""

    report: AuditReport
    cleaned: DataFrame     # silver/cleaned        (data_cleaning.py)
    enriched: DataFrame    # silver/enrichment + tax + currency
    flagged: DataFrame     # enriched + anomaly_type column
    anomalies: DataFrame   # per-type counts       (anomalies.py summary)


def default_sales_rules(
    date_col: str, country_col: str
) -> list[AuditRule]:
    """The reference's sales audit rule set (``audit_report.py:60-140``)."""
    return [
        rule_not_iso_date(date_col),
        rule_positive_number("UnitPrice"),
        rule_positive_number("Quantity", "int"),
        rule_positive_number("Freight"),
        rule_charset(country_col, r"^[a-zA-Z ]+$", "alphabetic"),
    ]


def default_sales_config(date_col: str, country_col: str) -> CleaningConfig:
    """The reference's hard-coded sales cleaning policy
    (``data_cleaning.py:64-105``) as declarative config."""
    return CleaningConfig(
        # Discount is in money_cols as well as fill_money: on the raw
        # all-string CSV read a numeric fillna is a silent no-op for a
        # string column, so without the strip-cast (whose null default is
        # the same 0.0) a missing discount left TotalAmount NULL (review
        # finding)
        money_cols=("UnitPrice", "Freight", "Discount"),
        quantity_cols=("Quantity",),
        fill_money=("Discount",),
        country_cols=(country_col,),
        date_cols=(date_col,),
    )


def _with_rate_date_col(exchange_rates: DataFrame, date_col: str) -> DataFrame:
    """Align the rate series' date column name to ``date_col``. The
    autodetect is guarded: no '*date' column raises a named error instead
    of a bare StopIteration, and several candidates raise instead of
    silently picking one (review finding)."""
    if date_col in exchange_rates.columns:
        return exchange_rates
    candidates = [
        c for c in exchange_rates.columns if c.lower().endswith("date")
    ]
    if len(candidates) != 1:
        raise ValueError(
            f"exchange_rates needs a {date_col!r} column or exactly one "
            f"'*date' column to rename; found {candidates or 'none'} in "
            f"{exchange_rates.columns}"
        )
    return exchange_rates.withColumnRenamed(candidates[0], date_col)


def run_sales_pipeline(
    sales_raw: DataFrame,
    tax_rates: DataFrame | None = None,
    exchange_rates: DataFrame | None = None,
    id_col: str | None = None,
    date_col: str = "OrderDate",
    country_col: str = "ShipCountry",
    rate_by: Sequence[str] = ("ShipCountry",),
    audit_rules: Sequence[AuditRule] | None = None,
    config: CleaningConfig | None = None,
    anomaly_rules: Sequence[AnomalyRule] | None = None,
) -> PipelineResult:
    """audit -> report-driven clean -> enrich (TotalAmount, geo) ->
    tax broadcast join -> exchange-rate as-of join -> anomaly flagging.

    ``tax_rates``: optional dim keyed by ``country_col`` with a ``TaxRate``
    column (``sales_tax.py``'s join, with the rate actually KEPT — the
    reference drops it before computing anything, sales_tax.py:76-77).
    ``exchange_rates``: optional series (``rate_by`` keys, ``date_col``,
    ``Rate``) resolved backward-inclusive as-of the order date
    (``sales_currency.py``'s exact-date-then-last-known semantics, as one
    window instead of its join + fallback recompute).
    """
    rules = list(
        default_sales_rules(date_col, country_col)
        if audit_rules is None
        else audit_rules
    )
    if id_col is None:
        id_col = sales_raw.columns[0]
    report = audit(sales_raw, "sales", id_col=id_col, rules=rules)

    plan = CleaningPlan.from_report(
        report, default_sales_config(date_col, country_col) if config is None else config
    )
    cleaned = plan.apply(sales_raw)

    enriched = with_geo(
        cleaned.withColumn("TotalAmount", total_amount()),
        country_col,
        iso_col="CountryCode",
        continent_col="ContinentCode",
    )
    if tax_rates is not None:
        enriched = enriched.join(
            F.broadcast(tax_rates), country_col, "left"
        ).withColumns(
            {
                "TaxRate": F.coalesce(F.col("TaxRate"), F.lit(0.0)),
                "TaxAmount": F.col("TotalAmount")
                * F.coalesce(F.col("TaxRate"), F.lit(0.0)),
            }
        )
    if exchange_rates is not None:
        enriched = asof_join(
            enriched,
            _with_rate_date_col(exchange_rates, date_col),
            on=date_col,
            by=list(rate_by),
        ).withColumn(
            "AmountUSD", F.col("TotalAmount") / F.coalesce(F.col("Rate"), F.lit(1.0))
        )

    a_rules = (
        [
            AnomalyRule("non_positive_amount", F.col("TotalAmount") <= 0),
            # NOT negative_freight: anomaly rules run POST-clean, where
            # strip_cast has already clamped negative freight to 0.0 — a
            # Freight < 0 rule is provably dead here (review finding).
            # Raw negative freight is the pre-clean audit's job
            # (rule_positive_number("Freight") in default_sales_rules).
            AnomalyRule("missing_total_amount", F.col("TotalAmount").isNull()),
            AnomalyRule("missing_order_date", F.col(date_col).isNull()),
        ]
        if anomaly_rules is None
        else list(anomaly_rules)
    )
    flagged = flag_anomalies(enriched, a_rules)
    return PipelineResult(
        report=report,
        cleaned=cleaned,
        enriched=enriched,
        flagged=flagged,
        anomalies=anomaly_summary(enriched, a_rules),
    )
