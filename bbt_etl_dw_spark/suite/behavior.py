"""Behavioral analytics over the events table: ordered funnels, cohort
retention, and PII scrubbing — the product-analytics layer a warehouse
serves on top of the raw event stream.

Timezone discipline: week-level bucketing via ``date_trunc('week', ts)``
is NOT portable — a session timezone with a non-zero offset moves events
near Monday-midnight across week boundaries and shifts the truncated
value itself (hour truncation survives only because offsets are whole
hours). Cohort weeks here are derived from pure epoch-microsecond
arithmetic (``unix_micros`` / DuckDB ``epoch_us``), which no session
timezone touches, then rendered as real DATEs with date-only arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bbt_etl_dw_spark.catalog import table
from bbt_etl_dw_spark.jvm import jvm_class
from bbt_etl_dw_spark.operators.ckpt import materialize
from bbt_etl_dw_spark.operators.behavior import WEEK_ANCHOR_DAY as _EPOCH_ANCHOR_DAY
from bbt_etl_dw_spark.suite import register

# --- ordered funnel -------------------------------------------------------

_FUNNEL_STEPS = ("signup", "click", "purchase")

_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'signup' AS stage, (SELECT COUNT(*) FROM s1) AS n_users
UNION ALL
SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
ORDER BY stage_idx
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup → click → purchase): a user reaches
    step k only with an event of that type STRICTLY AFTER reaching step
    k-1. ONE shuffle total: the step-type filter pushes to the scan, then
    three chained min-over-user windows share a single hash partitioning
    on user_id (Catalyst plans one Exchange, three Window operators) —
    versus the naive three-join formulation's three shuffles. The final
    stage counts collapse through a tiny per-user distinct."""
    from bbt_etl_dw_spark.operators.behavior import funnel_stage_counts

    ev = table(spark, sf_dir, "events")
    return funnel_stage_counts(ev, _FUNNEL_STEPS)


# --- weekly cohort retention ---------------------------------------------

# Monday 2024-01-01 = epoch day 19723 anchors week indexing; the index is
# pure integer epoch arithmetic, immune to session timezones on BOTH
# engines, and renders back to a DATE with date-only (+days) arithmetic.
# FLOOR divisions mirror operators/behavior.week_index: DuckDB's `//`
# truncates toward zero exactly like Spark's `div` (-3 // 7 = 0), so the
# same truncation-to-floor correction — subtract a non-negative remainder
# first — is applied on both sides; a bare `//` misbuckets every
# pre-anchor (2024-01-01) timestamp.
_DAY_SQL = (
    "((epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000)"
    " % 86400000000) // 86400000000)"
)
_WEEK_NUM = f"({_DAY_SQL} - {_EPOCH_ANCHOR_DAY})"
_WEEK_SQL = (
    f"(({_WEEK_NUM}) - ((({_WEEK_NUM}) % 7) + 7) % 7) // 7"
)

_RETENTION_ORACLE = f"""
WITH wk AS (
  SELECT user_id, CAST({_WEEK_SQL} AS BIGINT) AS w FROM events
),
first_wk AS (SELECT user_id, MIN(w) AS cw FROM wk GROUP BY user_id),
cohort_sizes AS (SELECT cw, COUNT(*) AS n_cohort FROM first_wk GROUP BY cw),
active AS (SELECT DISTINCT user_id, w FROM wk),
ret AS (
  SELECT f.cw, a.w - f.cw AS week_offset, COUNT(*) AS n_users
  FROM active a JOIN first_wk f ON a.user_id = f.user_id
  GROUP BY f.cw, a.w - f.cw
)
SELECT DATE '2024-01-01' + CAST(r.cw * 7 AS INT) AS cohort_week,
       r.week_offset,
       r.n_users,
       s.n_cohort
FROM ret r JOIN cohort_sizes s ON r.cw = s.cw
ORDER BY cohort_week, week_offset
"""


@register("events_retention_cohorts", oracle=_RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week; n_users active at each week offset, with the cohort size for
    rate computation. Three user-keyed shuffles (first-week, distinct
    activity, the retention join) — at 100TB the first-event table is a
    maintained incremental dimension and the join co-partitions on
    user_id; the output is cohorts × offsets, tiny at any scale."""
    from bbt_etl_dw_spark.operators.behavior import retention_cohorts

    ev = table(spark, sf_dir, "events")
    return retention_cohorts(ev).orderBy("cohort_week", "week_offset")


# --- PII scrubbing --------------------------------------------------------

_SCRUB_ORACLE = """
SELECT event_id,
       regexp_replace(props, '[0-9]+', '#', 'g') AS props_masked,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
FROM events
ORDER BY event_id
"""


@register("events_props_scrub", oracle=_SCRUB_ORACLE)
def events_props_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-run masking over the raw props payload (the numeric-PII
    fallback of functions/redact.py, whose structured email/IP/SSN/phone
    patterns are pattern-tested in pytest): every digit run replaced by
    '#', with a per-row masking count for the audit trail. Pure
    regexp_replace/regexp_count projection — narrow, codegen'd, no
    shuffle but the determinism sort."""
    from bbt_etl_dw_spark.functions.redact import count_digit_runs, mask_digit_runs

    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        mask_digit_runs("props").alias("props_masked"),
        count_digit_runs("props").alias("n_masked"),
    ).orderBy("event_id")


# --- skew diagnostics -----------------------------------------------------

_SKEW_ORACLE = """
WITH counts AS (
  SELECT user_id AS key_value, COUNT(*) AS n_rows FROM events GROUP BY user_id
),
tot AS (SELECT COUNT(*) AS t FROM events)
SELECT key_value, n_rows,
       n_rows / (SELECT CAST(t AS DOUBLE) FROM tot) AS row_share,
       n_rows / GREATEST((SELECT t FROM tot) / 32.0, 1.0) AS skew_ratio
FROM counts ORDER BY n_rows DESC, key_value LIMIT 10
"""


@register("events_key_skew_report", oracle=_SKEW_ORACLE)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic over the events user_id key: top-10 heaviest keys
    with row share and the per-task overload factor a shuffle on this key
    would see — the measurement that justifies the salted operators
    (events_salted_dim_join / events_user_counts_salted). One hash
    aggregate + TakeOrdered."""
    from bbt_etl_dw_spark.operators.skew import key_skew_report

    ev = table(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id", top_k=10, n_partitions=32).orderBy(
        F.col("n_rows").desc(), "key_value"
    )


# --- frequency sketch (count-min) ----------------------------------------
# Completes the sketch family's driver-checked contracts: HLL
# (cardinality), quantile sketch (ranks), count-min (frequency). The CMS
# VALUE is engine-specific, but its one-sided guarantee is not: estimates
# never undercount, and overcount at most eps*N (fixed seed => the
# outcome is deterministic for a given dataset, so the flag is stable).

_FREQ_SKETCH_ORACLE = """
SELECT user_id, COUNT(*) AS n_rows, TRUE AS within_bound
FROM events GROUP BY user_id
ORDER BY n_rows DESC, user_id LIMIT 10
"""


@register("events_frequency_sketch_check", oracle=_FREQ_SKETCH_ORACLE)
def events_frequency_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch contract check over heavy-hitter users: the CMS
    estimate for each exact top-10 user must satisfy
    exact <= estimate <= exact + eps*N (the sketch's one-sided error
    bound). Exact counts are value-checked against DuckDB; a broken
    sketch flips within_bound and reds the row. The sketch is single-pass
    mergeable map-side state — the 100TB path for approximate frequency
    without a per-key shuffle."""
    ev = table(spark, sf_dir, "events")
    eps = 0.02
    total = ev.count()
    # The count_min_sketch SQL aggregate is the distributed single-pass
    # path (partial sketches merge map-side); the driver deserializes the
    # ~11KB blob once to answer point queries.
    blob = ev.agg(
        F.expr(f"count_min_sketch(user_id, {eps}d, 0.9999d, 42)")
    ).collect()[0][0]
    cms = jvm_class(spark, "org.apache.spark.util.sketch.CountMinSketch").readFrom(
        bytes(blob)
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(10)
        .collect()
    )
    rows = []
    for r in top:
        est = cms.estimateCount(r["user_id"])
        ok = r["n_rows"] <= est <= r["n_rows"] + eps * total
        rows.append((r["user_id"], r["n_rows"], bool(ok)))
    return spark.createDataFrame(
        rows, "user_id long, n_rows long, within_bound boolean"
    ).orderBy(F.col("n_rows").desc(), "user_id")


# --- z-order (Morton) layout keys ----------------------------------------

def _zbits_sql(su: str, sv: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({su} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({sv} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


_ZORDER_ORACLE = f"""
WITH b AS (
    SELECT CAST(MIN(user_id) AS DOUBLE) AS lo_u, CAST(MAX(user_id) AS DOUBLE) AS hi_u,
           MIN(value) FILTER (WHERE NOT isnan(value)) AS lo_v,
           MAX(value) FILTER (WHERE NOT isnan(value)) AS hi_v
    FROM events
), s AS (
    SELECT e.event_id, e.user_id, e.value,
           CAST(FLOOR((CAST(e.user_id AS DOUBLE) - b.lo_u) * 255.0 / (b.hi_u - b.lo_u)) AS BIGINT) AS su,
           CAST(FLOOR((e.value - b.lo_v) * 255.0 / (b.hi_v - b.lo_v)) AS BIGINT) AS sv
    FROM events e, b
)
SELECT event_id,
       CASE WHEN user_id IS NULL OR value IS NULL OR isnan(value) THEN CAST(-1 AS BIGINT)
            ELSE {_zbits_sql('su', 'sv', 8)} END AS zkey
FROM s
ORDER BY event_id
"""


@register("events_zorder_keys", oracle=_ZORDER_ORACLE)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) layout keys over (user_id, value) —
    operators/zorder.py, the multi-dimensional clustering key behind
    write_zordered: rows close in BOTH dimensions get close keys, so a
    range-sorted write gives every parquet row group a small min/max box
    in both columns and a rectangle predicate prunes row groups on both
    at once (single-column sort prunes only one). The key is pure
    bit-arithmetic in whole-stage codegen — the oracle replays the
    min-max scaling and the full bit interleave in SQL, value-exact.
    NULL (and NaN — excluded from the bounds, since Spark sorts NaN
    above every real double) in either dimension keys to -1 (such rows
    cluster, never widen a real box). Layout evidence (row-group boxes
    from written footers,
    z-order vs single-sort) is pytest: tests/test_zorder.py."""
    from bbt_etl_dw_spark.operators.zorder import zorder_key

    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", zorder_key(ev, ["user_id", "value"], bits=8).alias("zkey")
    ).orderBy("event_id")


# --- conversion latency percentiles per signup cohort ---------------------

from bbt_etl_dw_spark.operators.stats import (  # noqa: E402
    exact_group_percentiles,
    sql_percentile_exprs,
)

_LAT_FRAGS = ",\n       ".join(
    sql_percentile_exprs({"p50_latency_us": 0.5, "p90_latency_us": 0.9})
)

# cohort = epoch-week integer of the FIRST signup (pure epoch-µs
# arithmetic — no date_trunc, per the module's timezone discipline)
_WEEK_US = 7 * 24 * 3600 * 1000000

_CONVERSION_LATENCY_ORACLE = f"""
WITH s AS (
  SELECT user_id, MIN(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS pt
  FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.st
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
lat AS (
  SELECT epoch_us(s.st) // {_WEEK_US} AS cohort_week,
         CAST(epoch_us(p.pt) - epoch_us(s.st) AS DOUBLE) AS latency_us
  FROM p JOIN s USING (user_id)
),
ranked AS (
  SELECT cohort_week, latency_us AS _v,
         ROW_NUMBER() OVER (
             PARTITION BY cohort_week ORDER BY latency_us) - 1 AS _rn,
         COUNT(*) OVER (PARTITION BY cohort_week) AS _cnt
  FROM lat
  WHERE latency_us IS NOT NULL AND NOT isnan(latency_us)
)
SELECT cohort_week,
       CAST(MAX(_cnt) AS BIGINT) AS n_converted,
       {_LAT_FRAGS}
FROM ranked
GROUP BY cohort_week
ORDER BY cohort_week
"""


@register("signup_conversion_latency", oracle=_CONVERSION_LATENCY_ORACLE)
def signup_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per signup cohort: for each user the
    first purchase STRICTLY AFTER the first signup, latency in epoch
    microseconds, then exact p50/p90 per signup epoch-week. Composes the
    funnel's min-over-user pattern with the exact-percentile machinery
    (one keyed shuffle for the mins, one ranked shuffle per-cohort —
    cohort cardinality is calendar-scale, users never collect). All time
    arithmetic is epoch-µs (timezone-immune)."""
    ev = table(spark, sf_dir, "events")
    # `s` (first signup per user) feeds the purchase filter AND the
    # latency join; `lat` feeds the percentile AND count rollups — both
    # user-grain aggregates, materialized once each (r14 plan audit:
    # events scanned 6x in this builder, 2x is irreducible).
    s = materialize(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    lat = p.join(s, "user_id").select(
        F.expr(f"unix_micros(st) div {_WEEK_US}").alias("cohort_week"),
        (F.unix_micros("pt") - F.unix_micros("st"))
        .cast("double")
        .alias("latency_us"),
    )
    lat = materialize(lat)
    pcts = exact_group_percentiles(
        lat, ["cohort_week"], "latency_us",
        {"p50_latency_us": 0.5, "p90_latency_us": 0.9},
    )
    counts = lat.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_converted")
    )
    return (
        counts.join(pcts, "cohort_week")
        .select("cohort_week", "n_converted", "p50_latency_us", "p90_latency_us")
        .orderBy("cohort_week")
    )


# --- last-touch attribution ----------------------------------------------

from bbt_etl_dw_spark.functions.numeric import dsum as _dsum, sql_dsum as _sql_dsum
from bbt_etl_dw_spark.operators.attribution import (
    attribute_conversions,
    sql_attribution_cte,
)

_ATTR_LOOKBACK_DAYS = 7

_ATTRIBUTION_ORACLE = f"""
WITH {sql_attribution_cte(
    touch_sql="event_type IN ('click', 'view')",
    conv_sql="event_type = 'purchase'",
    label_sql="event_type",
    lookback_days=_ATTR_LOOKBACK_DAYS,
    position="last",
)}
SELECT channel,
       COUNT(*) AS n_conversions,
       {_sql_dsum('value', 'attributed_value')}
FROM attributed
GROUP BY channel
ORDER BY channel
"""


@register("events_last_touch_attribution", oracle=_ATTRIBUTION_ORACLE)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: every purchase credits the latest
    click/view by the same user within a 7-day lookback, else 'direct'.
    ONE user-keyed shuffle — the nearest-preceding-touch is a running
    ignorenulls-last over a rows frame sharing the funnel queries'
    partitioning, NOT an events⋈events self-join (which shuffles the
    fact twice and explodes on active users); the channel rollup is
    channels-sized. Lookback compares epoch microseconds, immune to
    session timezones; attributed revenue is an exact-decimal sum
    (operators/attribution.py)."""
    ev = table(spark, sf_dir, "events")
    attr = attribute_conversions(
        ev,
        touch_pred=F.col("event_type").isin("click", "view"),
        conv_pred=F.col("event_type") == "purchase",
        touch_label=F.col("event_type"),
        lookback_days=_ATTR_LOOKBACK_DAYS,
        keep_cols=("value",),
    )
    return (
        attr.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            _dsum(F.col("value"), "attributed_value"),
        )
        .orderBy("channel")
    )


# --- Markov event-transition matrix --------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, COUNT(*) AS n_transitions
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY event_type) AS DOUBLE)
         AS p_transition
FROM c
ORDER BY event_type, next_type
"""


@register("events_markov_transitions", oracle=_TRANSITIONS_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: counts
    and row-normalized probabilities of event_type → next event_type per
    user session order (ts, event_id tie-break). ONE user-keyed shuffle
    for the lead window — same partitioning family as the funnel — then
    a hash-agg onto the types×types matrix; the normalizing window runs
    over that dim-sized matrix, never the fact. The single division is
    one correctly-rounded IEEE op (bit-exact oracle)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wt = Window.partitionBy("event_type")
    p = F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wt).cast(
        "double"
    )
    return c.select(
        "event_type", "next_type", "n_transitions", p.alias("p_transition")
    ).orderBy("event_type", "next_type")


# --- gap-based batch sessionization --------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

_SESSIONS_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value,
         LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us, value,
         CASE WHEN prev_us IS NULL OR us - prev_us > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
numbered AS (
  SELECT user_id, event_id, us, value,
         SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events,
       MIN(us) AS start_us,
       MAX(us) AS end_us,
       MAX(us) - MIN(us) AS duration_us,
       {_sql_dsum('value', 'session_value')}
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


@register("events_gap_sessionization", oracle=_SESSIONS_ORACLE)
def events_gap_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap: the batch
    twin of the streaming session windows (events_session_windows),
    computed as lag-flag + running-sum session numbering — BOTH windows
    and the closing per-session aggregation share ONE user_id hash
    partitioning (a single Exchange; gaps-and-islands without a
    self-join). All time arithmetic is epoch-µs (session-TZ immune);
    per-session value is an exact-decimal sum."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    worder = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    flagged = ev.select(
        "user_id",
        "event_id",
        us.alias("us"),
        "value",
        F.when(
            F.lag(us).over(worder).isNull()
            | ((us - F.lag(us).over(worder)) > _SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.withColumn(
        "session_seq", F.sum("new_s").over(wrun).cast("long")
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            (F.max("us") - F.min("us")).alias("duration_us"),
            _dsum(F.col("value"), "session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


# --- day-of-week seasonality ---------------------------------------------

# epoch day 0 (1970-01-01) was a Thursday; (day + 3) % 7 makes Monday 0.
_SEASON_DAY_SQL = "(epoch_us(ts) // 86400000000)"

_SEASONALITY_ORACLE = f"""
WITH daily AS (
  SELECT {_SEASON_DAY_SQL} AS day,
         CAST((({_SEASON_DAY_SQL}) + 3) % 7 AS BIGINT) AS dow,
         {_sql_dsum('value', 'day_value')}
  FROM events GROUP BY day, dow
),
overall AS (
  SELECT {_sql_dsum('day_value', 'tot')}, COUNT(*) AS n_days FROM daily
),
per_dow AS (
  SELECT dow, COUNT(*) AS n_days, {_sql_dsum('day_value', 'dow_tot')}
  FROM daily GROUP BY dow
)
SELECT p.dow, p.n_days,
       p.dow_tot / CAST(p.n_days AS DOUBLE) AS dow_mean,
       (p.dow_tot / CAST(p.n_days AS DOUBLE))
         / (o.tot / CAST(o.n_days AS DOUBLE)) AS seasonal_index
FROM per_dow p CROSS JOIN overall o
ORDER BY p.dow
"""


@register("events_dow_seasonality", oracle=_SEASONALITY_ORACLE)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of event value: per-dow mean daily
    total over the grand mean daily total — the multiplicative seasonal
    profile a forecaster divides out first. ONE fact shuffle to daily
    grain (epoch-day integer arithmetic — no date functions, no session
    TZ exposure; dow from (day+3)%7 on the nonnegative day index);
    everything after is 7-row / 1-row scale with exact-decimal sums and
    a fixed IEEE closing sequence."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    daily = ev.groupBy(
        day.alias("day"), ((day + 3) % 7).cast("long").alias("dow")
    ).agg(_dsum(F.col("value"), "day_value"))
    overall = daily.agg(
        _dsum(F.col("day_value"), "tot"), F.count(F.lit(1)).alias("n_days")
    )
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"), _dsum(F.col("day_value"), "dow_tot")
    )
    dow_mean = F.col("dow_tot") / F.col("n_days").cast("double")
    grand_mean = F.col("tot") / F.col("n_days_overall").cast("double")
    return (
        per_dow.crossJoin(
            F.broadcast(
                overall.select(
                    "tot", F.col("n_days").alias("n_days_overall")
                )
            )
        )
        .select(
            "dow",
            "n_days",
            dow_mean.alias("dow_mean"),
            (dow_mean / grand_mean).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


# --- chi-square independence: event_type x day-of-week --------------------

_INDEP_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST((({_SEASON_DAY_SQL}) + 3) % 7 AS BIGINT) AS dow,
         COUNT(*) AS n_obs
  FROM events GROUP BY event_type, dow
),
tot AS (
  SELECT event_type, dow, n_obs,
         SUM(n_obs) OVER (PARTITION BY event_type) AS row_tot,
         SUM(n_obs) OVER (PARTITION BY dow) AS col_tot,
         SUM(n_obs) OVER () AS grand_tot
  FROM cells
)
SELECT event_type, dow, n_obs,
       CAST(row_tot * col_tot AS DOUBLE) / CAST(grand_tot AS DOUBLE) AS expected,
       (CAST(n_obs AS DOUBLE)
          - CAST(row_tot * col_tot AS DOUBLE) / CAST(grand_tot AS DOUBLE))
       * (CAST(n_obs AS DOUBLE)
          - CAST(row_tot * col_tot AS DOUBLE) / CAST(grand_tot AS DOUBLE))
       / (CAST(row_tot * col_tot AS DOUBLE) / CAST(grand_tot AS DOUBLE)) AS chisq_term
FROM tot
ORDER BY event_type, dow
"""


@register("events_type_dow_independence", oracle=_INDEP_ORACLE)
def events_type_dow_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and day of
    week: the contingency-table sibling of the goodness-of-fit drift
    check (doc_token_drift_chisq). One hash-agg collapses the fact to
    the types×7 cell matrix; row/column/grand totals are windows over
    that matrix (dim-sized, no second fact pass); expected counts and
    chi-square terms are exact-integer products until one division —
    every step correctly rounded, bit-exact oracle. The statistic is
    SUM(chisq_term); dof = (types-1)*(dows-1)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    cells = ev.groupBy(
        "event_type", ((day + 3) % 7).cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wg = Window.partitionBy()
    tot = cells.select(
        "event_type",
        "dow",
        "n_obs",
        F.sum("n_obs").over(wr).alias("row_tot"),
        F.sum("n_obs").over(wc).alias("col_tot"),
        F.sum("n_obs").over(wg).alias("grand_tot"),
    )
    n_d = F.col("n_obs").cast("double")
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col(
        "grand_tot"
    ).cast("double")
    return tot.select(
        "event_type",
        "dow",
        "n_obs",
        e.alias("expected"),
        ((n_d - e) * (n_d - e) / e).alias("chisq_term"),
    ).orderBy("event_type", "dow")


# --- time-boxed conversion funnel ----------------------------------------

_DAY_US = 86_400_000_000

_FUNNEL_24H_ORACLE = f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
   AND e.ts > s1.t1
   AND epoch_us(e.ts) - epoch_us(s1.t1) <= {_DAY_US}
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
   AND e.ts > s2.t2
   AND epoch_us(e.ts) - epoch_us(s2.t2) <= {_DAY_US}
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'signup' AS stage, (SELECT COUNT(*) FROM s1) AS n_users
UNION ALL
SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
ORDER BY stage_idx
"""


@register("events_funnel_24h", oracle=_FUNNEL_24H_ORACLE)
def events_funnel_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed ordered funnel: signup → click → purchase where every
    step must land within 24 HOURS of the previous stage (the
    conversion-window variant of events_funnel — the number product
    teams actually quote). Same single-exchange plan: the gap test is an
    epoch-µs comparison added to each chained min-over-user window, not
    a join; the oracle replays the equivalent chained-CTE formulation."""
    from bbt_etl_dw_spark.operators.behavior import funnel_stage_counts

    ev = table(spark, sf_dir, "events")
    return funnel_stage_counts(ev, _FUNNEL_STEPS, max_gap_us=_DAY_US)


# --- daily autocorrelation -------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT {_SEASON_DAY_SQL} AS day, CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY day
),
stats AS (
  SELECT {_sql_dsum('x', 's')},
         COUNT(TRY_CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18))) AS n
  FROM daily
),
dev AS (
  SELECT day, x - (s / n) AS d FROM daily CROSS JOIN stats
),
den AS (SELECT {_sql_dsum('d * d', 'den')} FROM dev),
lags AS (SELECT CAST(unnest(generate_series(1, {_ACF_MAX_LAG})) AS BIGINT) AS lag),
pairs AS (
  SELECT l.lag, a.d AS d1, b.d AS d2
  FROM dev a CROSS JOIN lags l JOIN dev b ON b.day = a.day + l.lag
),
nums AS (
  SELECT lag, COUNT(*) AS n_pairs, {_sql_dsum('d1 * d2', 'num')}
  FROM pairs GROUP BY lag
)
SELECT lag, CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs, num / den AS acf
FROM lags LEFT JOIN nums USING (lag) CROSS JOIN den
ORDER BY lag
"""


@register("events_daily_acf", oracle=_ACF_ORACLE)
def events_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..7 — the diagnostic that tells a pipeline owner whether traffic
    has weekly structure before they commit to a seasonal model (its
    partner ``events_dow_seasonality`` then quantifies the shape).
    Never sorts the series globally: each lag is an EQUI self-join of
    the 30-row daily rollup on ``day + lag`` with the lag dimension
    broadcast, and the full-series mean/denominator attach as 1-row
    broadcast scalars (textbook estimator: constant denominator, so
    lag 0 would read exactly 1). Exact-decimal sums throughout; the
    closing division is one IEEE op."""
    from bbt_etl_dw_spark.operators.timeseries import autocorrelation

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    return autocorrelation(daily, "day", "x", range(1, _ACF_MAX_LAG + 1))


# --- sequence-pattern mining (MATCH_RECOGNIZE-lite) ------------------------

# single-char alphabet for the per-user chronological type string
_SEQ_ALPHABET = {
    "signup": "s", "click": "c", "view": "v", "purchase": "p", "error": "e",
}

# (name, regex) — regexes restricted to constructs with identical
# non-overlapping leftmost-match semantics in java.util.regex and RE2
_SEQ_PATTERNS = (
    ("browse_burst", "v{3,}"),
    ("error_streak", "e{2,}"),
    ("error_then_purchase", "ep"),
    ("signup_to_first_purchase", "s[^p]*p"),
)

_SEQ_CASE_SQL = "CASE event_type " + " ".join(
    f"WHEN '{t}' THEN '{c}'" for t, c in _SEQ_ALPHABET.items()
) + " END"

_SEQ_PATTERN_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         string_agg({_SEQ_CASE_SQL}, '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
),
m AS (
  {" UNION ALL ".join(
      f"SELECT '{name}' AS pattern, "
      f"CAST(len(regexp_extract_all(s, '{rx}')) AS BIGINT) AS c FROM seq"
      for name, rx in _SEQ_PATTERNS
  )}
)
SELECT pattern,
       CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
       CAST(SUM(c) AS BIGINT) AS n_matches
FROM m GROUP BY pattern ORDER BY pattern
"""


@register("events_sequence_patterns", oracle=_SEQ_PATTERN_ORACLE, bench=True)
def events_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex sequence mining over per-user chronological event strings
    (MATCH_RECOGNIZE-lite): each user's history collapses to a
    single-char-per-event string once
    (``operators/behavior.user_event_sequences`` — ONE user-keyed
    shuffle, ordering inside the aggregated array, epoch-µs + event-id
    tie-break), then every pattern is a constant-cost ``regexp_count``
    map stage unpivoted with ``stack`` — adding a pattern adds zero
    shuffles. Patterns stay inside the regex subset whose
    non-overlapping leftmost-match counts agree between java.util.regex
    and RE2, so the DuckDB replay is exact."""
    from bbt_etl_dw_spark.operators.behavior import user_event_sequences

    ev = table(spark, sf_dir, "events")
    seqs = user_event_sequences(ev, _SEQ_ALPHABET)
    stack_args = ", ".join(
        f"'{name}', cast(regexp_count(seq, '{rx}') as bigint)"
        for name, rx in _SEQ_PATTERNS
    )
    per_user = seqs.select(
        F.expr(f"stack({len(_SEQ_PATTERNS)}, {stack_args}) as (pattern, c)")
    )
    return (
        per_user.groupBy("pattern")
        .agg(
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0)).cast("bigint")
            .alias("n_users"),
            F.sum("c").cast("bigint").alias("n_matches"),
        )
        .orderBy("pattern")
    )


# --- cumulative distinct users ---------------------------------------------

_CUMULATIVE_USERS_ORACLE = f"""
WITH fd AS (
  SELECT user_id, MIN({_SEASON_DAY_SQL}) AS day
  FROM events GROUP BY user_id
),
per AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM per ORDER BY day
"""


@register("events_cumulative_users", oracle=_CUMULATIVE_USERS_ORACLE)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve. Expanding
    COUNT(DISTINCT) is unshuffleable as stated; the standard rewrite
    charges each user to their FIRST-seen day (one user-keyed shuffle,
    same substrate as retention) and runs one running sum over the
    DAY-level rollup. That final window is single-partition by
    construction but dim-scale (days, not users — the same bounded
    global window as nation_ordered_ids); everything user-scale is
    hash-partitioned. Epoch-day integers end-to-end."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    fd = (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("day"))
    )
    per = fd.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    ).orderBy("day")


# --- purchase/error lead-lag cross-correlation ------------------------------

_XCORR_MAX_LAG = 3

_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT {_SEASON_DAY_SQL} AS day,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS x,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS DOUBLE) AS y
  FROM events GROUP BY day
),
stats AS (
  SELECT {_sql_dsum('x', 'sx')}, {_sql_dsum('y', 'sy')},
         COUNT(TRY_CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18))) AS nx,
         COUNT(TRY_CAST(CAST(y AS VARCHAR) AS DECIMAL(38,18))) AS ny
  FROM daily
),
dev AS (
  SELECT day, x - (sx / nx) AS dx, y - (sy / ny) AS dy
  FROM daily CROSS JOIN stats
),
den AS (
  SELECT {_sql_dsum('dx * dx', 'den_x')}, {_sql_dsum('dy * dy', 'den_y')}
  FROM dev
),
lags AS (
  SELECT CAST(unnest(generate_series(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG}))
              AS BIGINT) AS lag
),
pairs AS (
  SELECT l.lag, a.dx, b.dy
  FROM dev a CROSS JOIN lags l JOIN dev b ON b.day = a.day + l.lag
),
nums AS (
  SELECT lag, COUNT(*) AS n_pairs, {_sql_dsum('dx * dy', 'num')}
  FROM pairs GROUP BY lag
)
SELECT lag, CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
       num / sqrt(den_x * den_y) AS xcorr
FROM lags LEFT JOIN nums USING (lag) CROSS JOIN den
ORDER BY lag
"""


@register("events_purchase_error_xcorr", oracle=_XCORR_ORACLE)
def events_purchase_error_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily purchase and error
    counts at lags -3..+3 (negative lag = errors LEAD purchases — the
    'do incidents depress next-day conversion' diagnostic; its
    single-series partner is events_daily_acf). One fact shuffle to the
    day rollup, then equi self-joins on day+lag with the 7-row lag
    dimension broadcast; means/denominators are 1-row broadcast
    scalars; closing sqrt/division are correctly-rounded IEEE ops over
    exact-decimal sums."""
    from bbt_etl_dw_spark.operators.timeseries import cross_correlation

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"), "event_type"
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("double").alias("x"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("double").alias("y"),
        )
    )
    return cross_correlation(
        daily, "day", "x", "y", range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)
    )


# --- audience overlap (event-type co-audience Jaccard) ----------------------

_AUDIENCE_ORACLE = """
WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
aud AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY event_type),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, x.n AS n_a, y.n AS n_b, n_both,
       CAST(n_both AS DOUBLE) / CAST(x.n + y.n - n_both AS DOUBLE) AS jaccard
FROM p
JOIN aud x ON p.type_a = x.event_type
JOIN aud y ON p.type_b = y.event_type
ORDER BY type_a, type_b
"""


@register("events_audience_overlap", oracle=_AUDIENCE_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the user
    audiences of every event-type pair — the segment-overlap readout
    behind 'do purchasers also hit errors?'. The fact reduces to the
    distinct (user, type) incidence ONCE (one shuffle); the pair
    expansion is a user-keyed equi self-join bounded by each user's own
    type count (<= alphabet size, so per-user fan-out is a constant,
    never quadratic in users); the two audience attaches broadcast the
    5-row type rollup. Jaccard is one IEEE division of exact longs."""
    ev = table(spark, sf_dir, "events")
    # the distinct incidence feeds both self-join sides AND the audience
    # rollup — materialized so the fact reduces once, as the docstring
    # promises (r14 plan audit: the distinct ran 3x)
    d = materialize(ev.select("user_id", "event_type").distinct())
    a = d.select("user_id", F.col("event_type").alias("type_a"))
    b = d.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    aud = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = (
        pairs.join(
            F.broadcast(aud.select(F.col("event_type").alias("type_a"),
                                   F.col("n").alias("n_a"))), "type_a")
        .join(
            F.broadcast(aud.select(F.col("event_type").alias("type_b"),
                                   F.col("n").alias("n_b"))), "type_b")
    )
    return out.select(
        "type_a", "type_b", "n_a", "n_b", "n_both",
        (F.col("n_both").cast("double")
         / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"))
        .alias("jaccard"),
    ).orderBy("type_a", "type_b")


# --- DAU / MAU-28 stickiness -------------------------------------------------

_MAU_WINDOW_DAYS = 28

_STICKINESS_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id, {_SEASON_DAY_SQL} AS day FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
t AS (
  SELECT user_id,
         CAST(unnest(generate_series(day, day + {_MAU_WINDOW_DAYS - 1}))
              AS BIGINT) AS tday
  FROM ud
),
mau AS (SELECT tday, COUNT(DISTINCT user_id) AS mau FROM t GROUP BY tday)
SELECT d.day, d.dau, m.mau,
       CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
FROM dau d JOIN mau m ON d.day = m.tday
ORDER BY d.day
"""


@register("events_dau_mau_stickiness", oracle=_STICKINESS_ORACLE)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-28-day-MAU stickiness per observed day — the
    engagement ratio product teams track. Sliding COUNT(DISTINCT) has no
    shuffle-safe window form; the standard rewrite CHARGES each (user,
    day) incidence forward to the 28 target days it supports (a
    constant-bounded explode of the deduplicated incidence — never of
    the raw fact), then one distinct-count per target day. Early days
    report the partial window they actually have. Epoch-day integers
    end-to-end."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    ud = ev.select("user_id", day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    t = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (_MAU_WINDOW_DAYS - 1))
        ).alias("tday"),
    )
    mau = t.groupBy("tday").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, dau.day == mau.tday)
        .select(
            "day", "dau", "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double"))
            .alias("stickiness"),
        )
        .orderBy("day")
    )


# --- top conversion paths ----------------------------------------------------

_PATHS_TOP_K = 10
_PATH_START = "(start)"

_CONVERSION_PATHS_ORACLE = f"""
WITH lagged AS (
  SELECT event_type,
         lag(event_type, 1) OVER w AS prev1,
         lag(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT COALESCE(prev2, '{_PATH_START}') || '>' ||
       COALESCE(prev1, '{_PATH_START}') || '>purchase' AS path,
       COUNT(*) AS n
FROM lagged WHERE event_type = 'purchase'
GROUP BY path
ORDER BY n DESC, path
LIMIT {_PATHS_TOP_K}
"""


@register("events_conversion_paths", oracle=_CONVERSION_PATHS_ORACLE)
def events_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step paths INTO a purchase (the Sankey-feeding 'how
    do users arrive' readout; its transition-matrix twin is
    events_markov_transitions). Two lag windows share ONE user-keyed
    exchange (epoch-µs + event-id ordering, so same-microsecond ties
    can't flip paths between engines); session starts surface as an
    explicit '(start)' label rather than dropped rows; the cut is a
    per-partition heap (TakeOrderedAndProject) tie-broken on the path
    string."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    lagged = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    start = F.lit(_PATH_START)
    path = F.concat_ws(
        ">",
        F.coalesce(F.col("prev2"), start),
        F.coalesce(F.col("prev1"), start),
        F.lit("purchase"),
    )
    return (
        lagged.filter(F.col("event_type") == "purchase")
        .groupBy(path.alias("path"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATHS_TOP_K)
    )


# --- two-proportion z-test (conversion A/B) ---------------------------------

_ZTEST_ORACLE = """
WITH users AS (
  SELECT user_id,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM users GROUP BY arm
),
wide AS (
  SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
         MAX(CASE WHEN arm = 'A' THEN c END) AS conv_a,
         MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
         MAX(CASE WHEN arm = 'B' THEN c END) AS conv_b
  FROM arms
),
rates AS (
  SELECT n_a, conv_a, n_b, conv_b,
         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
         CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
  FROM wide
)
SELECT n_a, conv_a, n_b, conv_b, p_a, p_b,
       CASE WHEN pp > 0.0 AND pp < 1.0 THEN
         (p_a - p_b) / sqrt(pp * (1.0 - pp)
             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       END AS z_stat
FROM rates
"""


@register("purchase_conversion_ab_ztest", oracle=_ZTEST_ORACLE)
def purchase_conversion_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on HIGH-VALUE purchase conversion (any
    purchase of value >= 150 — at this event density every user makes
    SOME purchase, which would pool to p=1 and a zero standard error)
    between md5-parity
    experiment arms — the PROPORTIONS leg of the A/B toolkit (means:
    Welch t; distributions: Mann-Whitney U). Arm assignment is the same
    hash-decision discipline as the split/sampling operators (stable
    under reruns and appends, no RNG state); ONE user-keyed shuffle to
    per-user conversion flags, a 2-row arm rollup, then a fixed IEEE
    closing sequence (pooled rate, sqrt standard error) identical on
    both engines."""
    ev = table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
        .isin(*"01234567"), "A"
    ).otherwise("B")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 150.0), 1
                ).otherwise(0)
            ).alias("conv")
        )
        .select(arm.alias("arm"), "conv")
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").cast("bigint").alias("c")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("c"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("c"))).alias("conv_b"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    p_a = (F.col("conv_a").cast("double") / n_a).alias("p_a")
    p_b = (F.col("conv_b").cast("double") / n_b).alias("p_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    rates = wide.select("n_a", "conv_a", "n_b", "conv_b", p_a, p_b, pp.alias("pp"))
    se = F.sqrt(
        F.col("pp") * (F.lit(1.0) - F.col("pp"))
        * (F.lit(1.0) / F.col("n_a").cast("double")
           + F.lit(1.0) / F.col("n_b").cast("double"))
    )
    defined = (F.col("pp") > 0.0) & (F.col("pp") < 1.0)
    return rates.select(
        "n_a", "conv_a", "n_b", "conv_b", "p_a", "p_b",
        F.when(defined, (F.col("p_a") - F.col("p_b")) / se).alias("z_stat"),
    )


# --- linear multi-touch attribution ------------------------------------------

_LINEAR_ATTR_ORACLE = f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
c AS (
  SELECT user_id, event_id AS cid, epoch_us(ts) AS c_us, value
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.cid, c.value, t.channel
  FROM c JOIN t ON c.user_id = t.user_id
   AND t.t_us <= c.c_us
   AND t.t_us >= c.c_us - {_ATTR_LOOKBACK_DAYS} * 86400000000
),
ntot AS (SELECT cid, COUNT(*) AS n FROM pairs GROUP BY cid),
per_cc AS (
  SELECT cid, channel, COUNT(*) AS cnt, ANY_VALUE(value) AS value
  FROM pairs GROUP BY cid, channel
),
credited AS (
  SELECT channel,
         CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS share,
         value * (CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS credit
  FROM per_cc JOIN ntot USING (cid)
),
touched AS (
  SELECT channel, {_sql_dsum('share', 'fractional_conversions')},
         {_sql_dsum('credit', 'attributed_value')}
  FROM credited GROUP BY channel
),
direct AS (
  SELECT 'direct' AS channel,
         CAST(COUNT(*) AS DOUBLE) AS fractional_conversions,
         {_sql_dsum('value', 'attributed_value')}
  FROM c WHERE cid NOT IN (SELECT cid FROM pairs)
  HAVING COUNT(*) > 0
)
SELECT * FROM touched UNION ALL SELECT * FROM direct
ORDER BY channel
"""


@register("events_linear_attribution", oracle=_LINEAR_ATTR_ORACLE)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits its value
    EVENLY across every click/view in its 7-day lookback (vs the
    winner-take-all events_last_touch_attribution on the same window) —
    the model marketing uses when no single touch deserves full credit.
    The touch set per conversion is a user-keyed equi-join with a range
    predicate whose fan-out is bounded by per-user activity, never
    users²; normalizer and rollup are conversion-/channel-keyed
    aggregates; credits close as exact-decimal sums
    (operators/attribution.linear_attribution)."""
    from bbt_etl_dw_spark.operators.attribution import linear_attribution

    ev = table(spark, sf_dir, "events")
    return linear_attribution(
        ev,
        touch_pred=F.col("event_type").isin("click", "view"),
        conv_pred=F.col("event_type") == "purchase",
        touch_label=F.col("event_type"),
        lookback_days=_ATTR_LOOKBACK_DAYS,
    ).orderBy("channel")


# --- daily bounce rate --------------------------------------------------------

_BOUNCE_ORACLE = f"""
WITH s AS ({_SESSIONS_ORACLE})
SELECT (start_us // 86400000000) AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
FROM s GROUP BY day ORDER BY day
"""


@register("events_daily_bounce_rate", oracle=_BOUNCE_ORACLE)
def events_daily_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-min-gap sessions that contain a
    single event, keyed to the session's START day — the engagement
    health metric on top of the sessionization substrate (this query
    and events_gap_sessionization share the identical single-Exchange
    gaps-and-islands plan; the day rollup that follows is dim-scale).
    Sessions that straddle midnight count once, on their start day —
    the convention the oracle replays."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    worder = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    new_s = F.when(
        F.lag(us).over(worder).isNull()
        | ((us - F.lag(us).over(worder)) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    wnum = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = ev.select(
        "user_id", "event_id", us.alias("us"), new_s.alias("new_s")
    ).withColumn("session_seq", F.sum("new_s").over(wnum))
    sessions = numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"), F.min("us").alias("start_us")
    )
    day = F.expr("start_us div 86400000000")
    return (
        sessions.groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_bounces"),
        )
        .select(
            "day", "n_sessions", "n_bounces",
            (F.col("n_bounces").cast("double")
             / F.col("n_sessions").cast("double")).alias("bounce_rate"),
        )
        .orderBy("day")
    )


# --- within-session funnel ---------------------------------------------------

_SESSION_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
),
numbered AS (
  SELECT user_id, event_id, event_type, ts, us,
         SUM(CASE WHEN prev_us IS NULL OR us - prev_us > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM e
),
s1 AS (
  SELECT user_id, session_seq, MIN(ts) AS t1 FROM numbered
  WHERE event_type = 'signup' GROUP BY user_id, session_seq
),
s2 AS (
  SELECT n.user_id, n.session_seq, MIN(n.ts) AS t2
  FROM numbered n JOIN s1
    ON n.user_id = s1.user_id AND n.session_seq = s1.session_seq
   AND n.ts > s1.t1
  WHERE n.event_type = 'click' GROUP BY n.user_id, n.session_seq
),
s3 AS (
  SELECT n.user_id, n.session_seq, MIN(n.ts) AS t3
  FROM numbered n JOIN s2
    ON n.user_id = s2.user_id AND n.session_seq = s2.session_seq
   AND n.ts > s2.t2
  WHERE n.event_type = 'purchase' GROUP BY n.user_id, n.session_seq
)
SELECT 1 AS stage_idx, 'signup' AS stage,
       (SELECT COUNT(*) FROM s1) AS n_sessions
UNION ALL
SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
ORDER BY stage_idx
"""


@register("events_session_funnel", oracle=_SESSION_FUNNEL_ORACLE)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel scoped WITHIN a 30-minute-gap session: a step only
    counts if it happens in the SAME session as (and strictly after) the
    previous stage — the 'converted in one sitting' variant of
    events_funnel, which scopes per lifetime, and events_funnel_24h,
    which time-boxes each step. Composition of the two substrates: the
    gaps-and-islands numbering shares one user exchange, then the
    chained min-over-(user, session) funnel windows share one more —
    depth adds windows, never joins. Counts are SESSIONS reaching each
    stage."""
    from pyspark.sql import Window

    from bbt_etl_dw_spark.operators.behavior import funnel_stage_counts

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    worder = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    new_s = F.when(
        F.lag(us).over(worder).isNull()
        | ((us - F.lag(us).over(worder)) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    wnum = (
        Window.partitionBy("user_id")
        .orderBy(us, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = ev.select(
        "user_id", "event_id", "event_type", "ts", new_s.alias("new_s")
    ).withColumn(
        "session_key",
        F.concat_ws("#", F.col("user_id"), F.sum("new_s").over(wnum)),
    )
    out = funnel_stage_counts(
        numbered, _FUNNEL_STEPS, user_col="session_key"
    )
    return out.withColumnRenamed("n_users", "n_sessions")


# --- seasonally-adjusted daily anomalies -------------------------------------

_SEASADJ_ORACLE = f"""
WITH daily AS (
  SELECT {_SEASON_DAY_SQL} AS day,
         CAST((({_SEASON_DAY_SQL}) + 3) % 7 AS BIGINT) AS dow,
         {_sql_dsum('value', 'day_value')}
  FROM events GROUP BY day, dow
),
overall AS (
  SELECT {_sql_dsum('day_value', 'tot')}, COUNT(*) AS n_days FROM daily
),
per_dow AS (
  SELECT dow, COUNT(*) AS n_days, {_sql_dsum('day_value', 'dow_tot')}
  FROM daily GROUP BY dow
),
adjusted AS (
  SELECT d.day, d.dow, d.day_value,
         d.day_value / ((p.dow_tot / CAST(p.n_days AS DOUBLE))
                        / (o.tot / CAST(o.n_days AS DOUBLE))) AS adj
  FROM daily d
  JOIN per_dow p ON d.dow = p.dow
  CROSS JOIN overall o
),
stats AS (
  SELECT COUNT(*) AS n, {_sql_dsum('adj', 's')}, {_sql_dsum('adj * adj', 'ss')}
  FROM adjusted
)
SELECT a.day, a.dow, a.day_value, a.adj,
       (a.adj - s / n)
         / sqrt((ss - (s * s) / n) / (CAST(n AS DOUBLE) - 1.0)) AS z
FROM adjusted a CROSS JOIN stats
ORDER BY a.day
"""


@register("events_seasonal_adjusted_anomalies", oracle=_SEASADJ_ORACLE)
def events_seasonal_adjusted_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonally-adjusted daily anomaly scores: divide each day's value
    by its day-of-week seasonal index (the events_dow_seasonality
    multiplicative model) BEFORE z-scoring, so a strong Saturday doesn't
    read as an anomaly and a weak Saturday does — the detector raw
    z-scores get wrong on weekly-patterned traffic. One fact shuffle to
    the day rollup; the 7-row dow index joins broadcast; the global
    mean/std attach as a 1-row scalar over the dim-scale adjusted
    series; exact-decimal sums, fixed IEEE close."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    # day-grain rollup feeds three consumers (overall, per-dow, the
    # adjusted projection) and `adjusted` two more — materialized, the
    # fact contributes one scan + one shuffle (r14 plan audit: 6x)
    daily = materialize(
        ev.select(day.alias("day"), "value")
        .groupBy("day")
        .agg(_dsum(F.col("value"), "day_value"))
        .withColumn("dow", ((F.col("day") + 3) % 7).cast("bigint"))
    )
    overall = daily.agg(
        _dsum(F.col("day_value"), "tot"), F.count(F.lit(1)).alias("n_days")
    )
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days_dow"),
        _dsum(F.col("day_value"), "dow_tot"),
    )
    idx = (F.col("dow_tot") / F.col("n_days_dow").cast("double")) / (
        F.col("tot") / F.col("n_days").cast("double")
    )
    adjusted = materialize(
        daily.join(F.broadcast(per_dow), "dow")
        .crossJoin(F.broadcast(overall))
        .select("day", "dow", "day_value", (F.col("day_value") / idx).alias("adj"))
    )
    stats = adjusted.agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("adj"), "s"),
        _dsum(F.col("adj") * F.col("adj"), "ss"),
    )
    z = (F.col("adj") - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("ss") - (F.col("s") * F.col("s")) / F.col("n"))
        / (F.col("n").cast("double") - F.lit(1.0))
    )
    return (
        adjusted.crossJoin(F.broadcast(stats))
        .select("day", "dow", "day_value", "adj", z.alias("z"))
        .orderBy("day")
    )


# --- cohort LTV curve ---------------------------------------------------------

_LTV_ORACLE = f"""
WITH wk AS (
  SELECT user_id, CAST({_WEEK_SQL} AS BIGINT) AS w, event_type, value
  FROM events
),
first_wk AS (SELECT user_id, MIN(w) AS cw FROM wk GROUP BY user_id),
cohort_sizes AS (SELECT cw, COUNT(*) AS n_cohort FROM first_wk GROUP BY cw),
rev AS (
  SELECT f.cw, k.w - f.cw AS week_offset, {_sql_dsum('k.value', 'wk_rev')}
  FROM wk k JOIN first_wk f ON k.user_id = f.user_id
  WHERE k.event_type = 'purchase'
  GROUP BY f.cw, k.w - f.cw
),
cum AS (
  SELECT cw, week_offset, wk_rev,
         CAST(CAST(SUM(TRY_CAST(CAST(wk_rev AS VARCHAR) AS DECIMAL(38,18)))
              OVER (PARTITION BY cw ORDER BY week_offset
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS VARCHAR) AS DOUBLE) AS cum_rev
  FROM rev
)
SELECT DATE '2024-01-01' + CAST(c.cw * 7 AS INT) AS cohort_week,
       c.week_offset, s.n_cohort, c.wk_rev, c.cum_rev,
       c.cum_rev / CAST(s.n_cohort AS DOUBLE) AS ltv_per_user
FROM cum c JOIN cohort_sizes s ON c.cw = s.cw
ORDER BY cohort_week, week_offset
"""


@register("events_cohort_ltv_curve", oracle=_LTV_ORACLE)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative LTV curve per weekly signup cohort: purchase revenue
    charged to (first-activity week, week offset), accumulated along
    each cohort's timeline and normalized per cohort member — the MONEY
    companion of events_retention_cohorts (same epoch-week integer
    substrate, same user-keyed shuffles; the cumulative window runs
    over the cohorts x offsets rollup, dim-scale at any corpus).
    Exact-decimal revenue sums re-accumulate through the window, so the
    curve is order-independent bit-exact."""
    from pyspark.sql import Window

    from bbt_etl_dw_spark.operators.behavior import week_index

    ev = table(spark, sf_dir, "events")
    wk = ev.select("user_id", week_index("ts").alias("w"), "event_type", "value")
    # user-grain first-week dimension feeds the cohort sizes AND the
    # revenue join — materialized once (r14 plan audit: events x3 -> x2)
    first_wk = materialize(wk.groupBy("user_id").agg(F.min("w").alias("cw")))
    sizes = first_wk.groupBy("cw").agg(F.count(F.lit(1)).alias("n_cohort"))
    rev = (
        wk.filter(F.col("event_type") == "purchase")
        .join(first_wk, "user_id")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("week_offset"))
        .agg(_dsum(F.col("value"), "wk_rev"))
    )
    wcum = (
        Window.partitionBy("cw")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.select(
        "cw", "week_offset", "wk_rev",
        F.sum(F.col("wk_rev").try_cast("decimal(38,18)")).over(wcum)
        .cast("string").cast("double").alias("cum_rev"),
    )
    return (
        cum.join(F.broadcast(sizes), "cw")
        .select(
            F.date_add(
                F.to_date(F.lit("2024-01-01")), (F.col("cw") * 7).cast("int")
            ).alias("cohort_week"),
            "week_offset", "n_cohort", "wk_rev", "cum_rev",
            (F.col("cum_rev") / F.col("n_cohort").cast("double"))
            .alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --- multiplicative seasonal decomposition ------------------------------------

_DECOMP_ORACLE = f"""
WITH daily AS (
  SELECT {_SEASON_DAY_SQL} AS day,
         CAST((({_SEASON_DAY_SQL}) + 3) % 7 AS BIGINT) AS dow,
         {_sql_dsum('value', 'val')}
  FROM events GROUP BY day, dow
),
ma AS (
  SELECT day, dow, val,
         CASE WHEN COUNT(*) OVER w = 7 THEN
           CAST(CAST(SUM(TRY_CAST(CAST(val AS VARCHAR) AS DECIMAL(38,18)))
                OVER w AS VARCHAR) AS DOUBLE) / 7.0
         END AS trend
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
season AS (
  SELECT dow, {_sql_dsum('val / trend', 's_detr')},
         COUNT(val / trend) AS n_detr
  FROM ma WHERE trend IS NOT NULL GROUP BY dow
)
SELECT m.day, m.dow, m.val, m.trend,
       s.s_detr / CAST(s.n_detr AS DOUBLE) AS seasonal,
       m.val / (m.trend * (s.s_detr / CAST(s.n_detr AS DOUBLE))) AS residual
FROM ma m JOIN season s ON m.dow = s.dow
WHERE m.trend IS NOT NULL
ORDER BY m.day
"""


@register("events_seasonal_decomposition", oracle=_DECOMP_ORACLE)
def events_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic multiplicative decomposition of the daily value series:
    value = trend x seasonal x residual, with the trend a CENTERED
    7-day moving average (full windows only — edges have no honest
    trend and drop), the seasonal factor the per-dow mean of detrended
    values, and the residual what a forecaster actually models. The
    CONTRACT is a dense day series (compose with gap_fill_linear
    first on sparse data — a rows frame on a gapped series silently
    spans weeks). Fact reduces to the 30-row day rollup before any
    window; all windows and the dow join are dim-scale; exact-decimal
    sums, fixed IEEE divisions."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    daily = (
        ev.select(day.alias("day"), "value")
        .groupBy("day")
        .agg(_dsum(F.col("value"), "val"))
        .withColumn("dow", ((F.col("day") + 3) % 7).cast("bigint"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trend = F.when(
        F.count(F.lit(1)).over(w) == 7,
        F.sum(F.col("val").try_cast("decimal(38,18)")).over(w)
        .cast("string").cast("double") / F.lit(7.0),
    )
    ma = daily.select("day", "dow", "val", trend.alias("trend"))
    detr = ma.filter(F.col("trend").isNotNull()).select(
        "dow", (F.col("val") / F.col("trend")).alias("detr")
    )
    season = detr.groupBy("dow").agg(
        _dsum(F.col("detr"), "s_detr"), F.count("detr").alias("n_detr")
    )
    seasonal = F.col("s_detr") / F.col("n_detr").cast("double")
    return (
        ma.filter(F.col("trend").isNotNull())
        .join(F.broadcast(season), "dow")
        .select(
            "day", "dow", "val", "trend",
            seasonal.alias("seasonal"),
            (F.col("val") / (F.col("trend") * seasonal)).alias("residual"),
        )
        .orderBy("day")
    )


# --- trailing engagement breadth ----------------------------------------------

_BREADTH_WINDOW_DAYS = 7

_BREADTH_ORACLE = f"""
WITH inc AS (
  SELECT DISTINCT user_id, {_SEASON_DAY_SQL} AS day, event_type
  FROM events
),
active AS (SELECT DISTINCT user_id, day FROM inc),
charged AS (
  SELECT user_id, event_type,
         CAST(unnest(generate_series(day, day + {_BREADTH_WINDOW_DAYS - 1}))
              AS BIGINT) AS td
  FROM inc
),
breadth AS (
  SELECT c.user_id, c.td AS day,
         COUNT(DISTINCT c.event_type) AS k
  FROM charged c JOIN active a ON c.user_id = a.user_id AND c.td = a.day
  GROUP BY c.user_id, c.td
)
SELECT k, COUNT(*) AS n_user_days
FROM breadth GROUP BY k ORDER BY k
"""


@register("events_engagement_breadth", oracle=_BREADTH_ORACLE)
def events_engagement_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-breadth histogram: for every ACTIVE user-day, how many
    distinct event types the user touched in the trailing 7 days —
    breadth (shallow clickers vs full-surface users) where DAU counts
    only measure presence. Sliding COUNT(DISTINCT) over time has no
    window form; the charge-forward rewrite (the stickiness trick)
    explodes the deduplicated (user, day, type) incidence a constant 7x
    and joins it back to active user-days — every join equi-keyed, the
    final histogram 5 rows."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    inc = ev.select("user_id", day.alias("day"), "event_type").distinct()
    active = inc.select("user_id", "day").distinct()
    charged = inc.select(
        "user_id",
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (_BREADTH_WINDOW_DAYS - 1))
        ).alias("td"),
    )
    breadth = (
        charged.join(
            active,
            (charged.user_id == active.user_id) & (charged.td == active.day),
        )
        .groupBy(charged.user_id, "td")
        .agg(F.countDistinct("event_type").alias("k"))
    )
    return (
        breadth.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy("k")
    )


# --- transition concentration (behavior predictability) -----------------------

_TRANS_HHI_ORACLE = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, COUNT(*) AS cnt
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type,
       CAST(SUM(cnt) AS BIGINT) AS n_transitions,
       COUNT(*) AS n_next_types,
       SUM(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE))
         / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)) AS hhi
FROM c GROUP BY event_type ORDER BY event_type
"""


@register("events_transition_concentration", oracle=_TRANS_HHI_ORACLE)
def events_transition_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior predictability per event type: the Herfindahl
    concentration of each type's NEXT-event distribution (1/hhi = the
    effective number of follow-up behaviors) — the log-free summary of
    the events_markov_transitions matrix, flagging states whose
    follow-up is near-deterministic. Same single user exchange as the
    transition matrix; the HHI closes over the 5x5 cell rollup. The
    alphabet is 5 types so the plain double sum of cnt^2 is exact
    (five squares of exact longs, each below 2^53)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("cnt"))
    cd = F.col("cnt").cast("double")
    return (
        c.groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_transitions"),
            F.count(F.lit(1)).alias("n_next_types"),
            (F.sum(cd * cd)
             / (F.sum("cnt").cast("double") * F.sum("cnt").cast("double")))
            .alias("hhi"),
        )
        .orderBy("event_type")
    )
