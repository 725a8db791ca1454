"""The closed-loop workloads. Each drives the engine only through its public
functions and checks every op's output against DuckDB or the generator
manifest, outside the timed interval.

A workload has ``stage(dir)`` (write the seeded inputs), ``prepare()``
(engine work that belongs to set-up, e.g. the refresh a dashboard reads),
``op(i)`` (one timed operation, spans around each layer call) and
``check(out)`` (problems found in one op's output; empty when correct).

``dashboard_reads`` and ``source_kpis`` are the workloads in
BENCHMARK.json. Their set-up runs the two slow ones once: the nightly
refresh of ``lifecycle_refresh`` in every ``dashboard_reads`` run, the
curation op of ``corpus_curation`` in traced ``source_kpis`` runs. Both
also loop on their own when run by hand; one op takes 10-17 s on a
4-vCPU host, too long for a run of the benchmark (see README.md).
"""

from __future__ import annotations

import math
import os
import shutil

import duckdb

from perfbench import gen

# Input sizes. Scale factor of the star source tables (lineitem rows and
# sales CSV rows = 4 x 1.5M x SF) and base documents of the curation corpus.
SF = 0.005
CORPUS_BASE_DOCS = 1000
SOURCE_TABLES = ("lineitem", "orders", "customer", "nation", "region", "supplier", "part")


class Workload:
    """Defaults for the optional parts of a workload."""

    name = ""
    kinds: tuple[str, ...] = ()  # query kinds of the mix, if it has kinds
    round_len = 1  # ops in one round of the workload's query mix
    # Untimed warm-up ops: the first ops in a fresh JVM run up to twice as
    # long as later ones. Query loops warm up with two rounds of their mix.
    warmup_ops = 1

    def __init__(self, spark, tracer, seed: int, traced: bool = False):
        """``traced``: whether this is a traced run, to which a workload may
        add set-up work."""
        self.spark, self.tracer, self.seed = spark, tracer, seed

    def prepare(self) -> dict | None:
        """Set-up engine work; returns a record of it, or None."""
        return None

    def check_prepared(self) -> list[str]:
        return []

    def kind(self, i: int) -> str | None:
        return None

    def after(self, out: dict) -> dict:
        """Untimed bookkeeping after an op; returns figures to record."""
        return {}

    def close(self) -> None:
        pass


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _normalize(cols, rows, ordered: bool = False):
    """Columns sorted by name, values exact (floats by repr), rows sorted
    unless the query's own order is part of its answer."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    if not ordered:
        out.sort(key=repr)
    return [cols[i] for i in order], out


def _compare(name: str, got, want, ordered: bool = False) -> list[str]:
    gc, gr = _normalize(*got, ordered=ordered)
    wc, wr = _normalize(*want, ordered=ordered)
    if gc != wc:
        return [f"{name}: columns {gc} != oracle {wc}"]
    if gr != wr:
        bad = next((a, b) for a, b in zip(gr + [None], wr + [None]) if a != b)
        return [f"{name}: {len(gr)} rows vs oracle {len(wr)}; first diff {bad}"]
    return []


def _duck(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, glob in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    return con


def _sql(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


# ----------------------------------------------------------------------------
# gold star of the nightly refresh
# ----------------------------------------------------------------------------

# order-insensitive fingerprint of the xxhash-free fact projection
_FACT_HASH_COLS = (
    "CAST(order_key AS BIGINT)", "CAST(line_number AS INTEGER)",
    "CAST(customer_id AS BIGINT)", "CAST(part_id AS BIGINT)",
    "CAST(supplier_id AS BIGINT)", "CAST(ship_calendar_key AS BIGINT)",
    "CAST(order_calendar_key AS BIGINT)", "CAST(quantity AS DOUBLE)",
    "CAST(extended_price AS DOUBLE)", "CAST(discount AS DOUBLE)",
    "CAST(net_amount AS DOUBLE)",
)
_FACT_FINGERPRINT = (
    "SELECT COUNT(*) AS n, SUM(hash(" + ", ".join(_FACT_HASH_COLS) + ")::HUGEINT) AS h, "
    "COUNT(*) FILTER (WHERE customer_id IS NULL) AS null_customer_key, "
    "COUNT(*) FILTER (WHERE part_id IS NULL) AS null_part_key, "
    "COUNT(*) FILTER (WHERE supplier_id IS NULL) AS null_supplier_key FROM ({})"
)


def build_gold(spark, sf_dir: str) -> dict:
    """The gold star from ``plans.star``: four dims, the fact and its
    referential-integrity report."""
    from bbt_etl_dw_spark.plans import star

    fact = star.fact_sales(spark, sf_dir)
    return {
        "fact_sales": fact,
        "dim_customer": star.dim_customer(spark, sf_dir),
        "dim_part": star.dim_part(spark, sf_dir),
        "dim_supplier": star.dim_supplier(spark, sf_dir),
        "dim_calendar": star.dim_calendar(spark),
        "integrity": star.integrity_report(fact),
    }


def fact_oracle(sf_dir: str) -> tuple:
    """Count, hash and null-key counts of the registered
    ``star_fact_assembly`` oracle over the source tables."""
    from bbt_etl_dw_spark.suite import load_all

    sql = load_all()["star_fact_assembly"].oracle
    con = _duck({t: f"{sf_dir}/{t}.parquet" for t in SOURCE_TABLES})
    try:
        return con.execute(_FACT_FINGERPRINT.format(sql)).fetchone()
    finally:
        con.close()


def published_paths(spark, gold_root: str, version: int) -> dict[str, str]:
    """Directory of each table in committed snapshot ``version``."""
    from bbt_etl_dw_spark.sources.publish import list_snapshots

    snap = next(s for s in list_snapshots(spark, gold_root) if s["version"] == version)
    return {n: f"{gold_root}/{rel}" for n, rel in snap["tables"].items()}


# ----------------------------------------------------------------------------
# lifecycle_refresh
# ----------------------------------------------------------------------------


class LifecycleRefresh(Workload):
    """One op = one nightly refresh: dirty CSV -> bronze -> audit/clean/
    enrich/tax/FX -> silver -> gold star -> atomic publish."""

    name = "lifecycle_refresh"

    def stage(self, root: str) -> None:
        self.sf_dir = f"{root}/sf"
        self.in_dir = f"{root}/in"
        self.lake = f"{root}/lake"
        self.gold = f"{self.lake}/gold"
        cols = gen.stage_tables(self.sf_dir, self.seed, SF)
        self.manifest = gen.stage_sales(self.in_dir, self.seed, cols)
        self.expect_fact = None
        self._prev_snap = None

    def describe(self) -> dict:
        return {"sf": SF, "csv_rows": self.manifest["rows"], "dirt": self.manifest}

    def op(self, i: int) -> dict:
        from bbt_etl_dw_spark.plans.pipeline import run_sales_pipeline
        from bbt_etl_dw_spark.sources.csv import read_csv
        from bbt_etl_dw_spark.sources.parquet import read_snapshot, write_snapshot
        from bbt_etl_dw_spark.sources.publish import gc_published, publish_tables

        spark, span = self.spark, self.tracer.span
        snap = f"run{i:05d}"
        with span("sources.csv.extract", "exec"):
            raw = read_csv(spark, f"{self.in_dir}/sales.csv")
            write_snapshot(raw, self.lake, "bronze", "sales", snap)
        with span("plans.pipeline.build", "build"):
            bronze = read_snapshot(spark, self.lake, "bronze", "sales", snap).drop(
                "snapshot_date")
            res = run_sales_pipeline(
                bronze,
                tax_rates=spark.read.parquet(f"{self.in_dir}/tax_rates.parquet"),
                exchange_rates=spark.read.parquet(f"{self.in_dir}/exchange_rates.parquet"),
            )
        with span("sources.parquet.silver_write", "exec"):
            write_snapshot(res.flagged, self.lake, "silver", "sales", snap)
        with span("plans.star.build", "build"):
            gold = build_gold(spark, self.sf_dir)
        with span("sources.publish.publish", "exec"):
            version = publish_tables(gold, self.gold)
            gc_published(spark, self.gold, keep_last=1, min_age_seconds=0)
        return {"report": res.report, "snap": snap, "version": version}

    def after(self, out: dict) -> dict:
        """Untimed housekeeping: drop the previous op's bronze and silver
        snapshot dates so every op sees the same directory sizes, and
        measure what this op wrote."""
        snap = out["snap"]
        if self._prev_snap is not None:
            for layer in ("bronze", "silver"):
                shutil.rmtree(f"{self.lake}/{layer}/sales/snapshot_date={self._prev_snap}",
                              ignore_errors=True)
        self._prev_snap = snap
        bronze = _dir_bytes(f"{self.lake}/bronze/sales/snapshot_date={snap}")
        silver = _dir_bytes(f"{self.lake}/silver/sales/snapshot_date={snap}")
        paths = published_paths(self.spark, self.gold, out["version"])
        gold = sum(_dir_bytes(p) for p in paths.values())
        return {"silver_bytes": silver, "gold_bytes": gold,
                "write_amp": (bronze + silver + gold) / self.manifest["csv_bytes"]}

    def check(self, out: dict) -> list[str]:
        m, rep = self.manifest, out["report"]
        problems = []
        got = {
            "rows": rep.row_count,
            "duplicate_rows": rep.duplicate_rows,
            "missing_values": rep.missing_values,
            "inconsistencies": {c: e["count"] for c, e in rep.inconsistencies.items()},
            "duplicate_columns": rep.duplicate_columns,
        }
        for k, v in got.items():
            if v != m[k]:
                problems.append(f"audit {k}: {v} != manifest {m[k]}")
        if self.expect_fact is None:
            self.expect_fact = fact_oracle(self.sf_dir)
        paths = published_paths(self.spark, self.gold, out["version"])
        con = _duck({"fact": f"{paths['fact_sales']}/*.parquet",
                     "integrity": f"{paths['integrity']}/*.parquet",
                     "silver": f"{self.lake}/silver/sales/snapshot_date={out['snap']}/*.parquet"})
        try:
            fact = con.execute(_FACT_FINGERPRINT.format("SELECT * FROM fact")).fetchone()
            integ = con.execute(
                "SELECT total_rows, null_customer_key, null_part_key, null_supplier_key "
                "FROM integrity").fetchall()
            silver_rows = con.execute("SELECT COUNT(*) FROM silver").fetchone()[0]
        finally:
            con.close()
        if fact != self.expect_fact:
            problems.append(f"gold fact {fact} != oracle {self.expect_fact}")
        e = self.expect_fact
        if integ != [(e[0], e[2], e[3], e[4])]:
            problems.append(f"integrity report {integ} != oracle {e}")
        if silver_rows != m["rows"] - m["duplicate_rows"]:
            problems.append(f"silver rows {silver_rows} != {m['rows'] - m['duplicate_rows']}")
        return problems


# ----------------------------------------------------------------------------
# dashboard_reads
# ----------------------------------------------------------------------------

def _kpi(kind: str, year: int | None, t: dict):
    """Spark side of one dashboard query over the published tables ``t``."""
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.functions.numeric import dsum

    fact = t.get("fact_sales")
    if kind == "sales_by_client_value":
        return (fact.join(t["dim_customer"], "customer_key")
                .groupBy("client_value")
                .agg(dsum("net_amount", "revenue"), F.count(F.lit(1)).alias("n_lines")))
    if kind == "store_growth_by_year":
        cal = t["dim_calendar"]
        return (fact.join(cal, fact.order_calendar_key == cal.calendar_key)
                .groupBy("year")
                .agg(F.count_distinct("supplier_key").alias("stores"),
                     dsum("net_amount", "revenue")))
    if kind == "products_per_status":
        return t["dim_part"].groupBy("product_status").agg(
            F.count(F.lit(1)).alias("n_products"))
    if kind == "revenue_by_region_month":
        cal = t["dim_calendar"].filter(F.col("year") == year)
        return (fact.join(cal, fact.order_calendar_key == cal.calendar_key)
                .join(t["dim_customer"], "customer_key")
                .groupBy("region", "month")
                .agg(dsum("net_amount", "revenue")))
    if kind == "top10_customers":
        cal = t["dim_calendar"].filter(F.col("year") == year)
        return (fact.join(cal, fact.order_calendar_key == cal.calendar_key)
                .groupBy("customer_id")
                .agg(dsum("net_amount", "revenue"))
                .orderBy(F.col("revenue").desc(), F.col("customer_id"))
                .limit(10))
    raise ValueError(kind)


def _kpi_sql(kind: str, year: int | None) -> str:
    """DuckDB twin of :func:`_kpi` over views of the published parquet."""
    from bbt_etl_dw_spark.functions.numeric import sql_dsum

    rev = sql_dsum("f.net_amount", "revenue")
    if kind == "sales_by_client_value":
        return (f"SELECT c.client_value, {rev}, COUNT(*) AS n_lines FROM fact_sales f "
                "JOIN dim_customer c USING (customer_key) GROUP BY c.client_value")
    if kind == "store_growth_by_year":
        return (f"SELECT k.year, COUNT(DISTINCT f.supplier_key) AS stores, {rev} "
                "FROM fact_sales f JOIN dim_calendar k "
                "ON f.order_calendar_key = k.calendar_key GROUP BY k.year")
    if kind == "products_per_status":
        return ("SELECT product_status, COUNT(*) AS n_products FROM dim_part "
                "GROUP BY product_status")
    if kind == "revenue_by_region_month":
        return (f"SELECT c.region, k.month, {rev} FROM fact_sales f "
                "JOIN dim_calendar k ON f.order_calendar_key = k.calendar_key "
                f"JOIN dim_customer c USING (customer_key) WHERE k.year = {year} "
                "GROUP BY c.region, k.month")
    if kind == "top10_customers":
        return (f"SELECT f.customer_id, {rev} FROM fact_sales f "
                "JOIN dim_calendar k ON f.order_calendar_key = k.calendar_key "
                f"WHERE k.year = {year} GROUP BY f.customer_id "
                "ORDER BY revenue DESC, customer_id LIMIT 10")
    raise ValueError(kind)


_KPI_TABLES = {
    "sales_by_client_value": ("fact_sales", "dim_customer"),
    "store_growth_by_year": ("fact_sales", "dim_calendar"),
    "products_per_status": ("dim_part",),
    "revenue_by_region_month": ("fact_sales", "dim_calendar", "dim_customer"),
    "top10_customers": ("fact_sales", "dim_calendar"),
}


class DashboardReads(Workload):
    """One op = one BI query against the latest published gold snapshot:
    resolve and read the tables it needs, plan, collect. Set-up runs one
    nightly refresh (a ``lifecycle_refresh`` op), which publishes that
    snapshot."""

    name = "dashboard_reads"
    kinds = gen.DASHBOARD_KINDS
    round_len = len(kinds)
    warmup_ops = 2 * round_len
    queries_per_run = 4000  # the seeded sequence is longer than any run

    def __init__(self, spark, tracer, seed: int, traced: bool = False):
        super().__init__(spark, tracer, seed, traced)
        self.sequence = gen.query_sequence(seed, self.queries_per_run)
        self.refresh = LifecycleRefresh(spark, tracer, seed)

    def stage(self, root: str) -> None:
        self.refresh.stage(root)
        self._answers: dict = {}
        self._con = None

    def prepare(self) -> dict:
        self._refreshed = self.refresh.op(-1)
        self.version = self._refreshed["version"]
        return self.refresh.after(self._refreshed)

    def check_prepared(self) -> list[str]:
        return self.refresh.check(self._refreshed)

    def describe(self) -> dict:
        return {**self.refresh.describe(), "query_kinds": list(gen.DASHBOARD_KINDS)}

    def kind(self, i: int) -> str:
        return self.sequence[i % len(self.sequence)][0]

    def op(self, i: int) -> dict:
        from bbt_etl_dw_spark.sources.publish import read_published

        kind, year = self.sequence[i % len(self.sequence)]
        span, gold = self.tracer.span, self.refresh.gold
        with span("sources.publish.read", "exec"):
            t = {n: read_published(self.spark, gold, n) for n in _KPI_TABLES[kind]}
        with span("catalyst.plan", "plan"):
            df = _kpi(kind, year, t)
            if self.tracer.enabled:
                df._jdf.queryExecution().executedPlan()
        with span("exec", "exec"):
            rows = df.collect()
        return {"kind": kind, "year": year, "cols": df.columns, "rows": rows}

    def check(self, out: dict) -> list[str]:
        key = (out["kind"], out["year"])
        if key not in self._answers:
            if self._con is None:
                paths = published_paths(self.spark, self.refresh.gold, self.version)
                self._con = _duck({n: f"{p}/*.parquet" for n, p in paths.items()})
            self._answers[key] = _sql(self._con, _kpi_sql(*key))
        return _compare(f"{key}", (out["cols"], [tuple(r) for r in out["rows"]]),
                        self._answers[key], ordered=out["kind"] == "top10_customers")

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# ----------------------------------------------------------------------------
# source_kpis
# ----------------------------------------------------------------------------

SOURCE_KPIS = (
    "kpi_sales_by_client_value",
    "kpi_store_growth",
    "kpi_store_attractiveness",
    "kpi_product_status",
    "sales_by_region",
)


class SourceKpis(Workload):
    """One op = one registered dashboard-KPI builder over the star source
    tables, built and collected. It reads through the catalog, never
    through ``sources.publish``. Set-up of a traced run runs one traced
    ``corpus_curation`` op, so the traced run measures ``plans.curation``
    and ``operators.dedup``; a cold curation op takes about 40 s, more
    than every run of the benchmark can afford."""

    name = "source_kpis"
    kinds = SOURCE_KPIS
    round_len = len(kinds)
    warmup_ops = 2 * round_len
    queries_per_run = 4000

    def __init__(self, spark, tracer, seed: int, traced: bool = False):
        from bbt_etl_dw_spark.suite import load_all

        super().__init__(spark, tracer, seed, traced)
        reg = load_all()
        self.queries = {n: reg[n] for n in SOURCE_KPIS}
        self.sequence = gen.kind_sequence(seed, SOURCE_KPIS, self.queries_per_run)
        self.curation = CorpusCuration(spark, tracer, seed) if traced else None

    def stage(self, root: str) -> None:
        self.sf_dir = f"{root}/sf"
        gen.stage_tables(self.sf_dir, self.seed, SF)
        self._answers: dict = {}
        if self.curation is not None:
            self.curation.stage(f"{root}/corpus")

    def prepare(self) -> dict | None:
        if self.curation is None:
            return None
        self._curated = self.curation.op(-1)
        return {}

    def check_prepared(self) -> list[str]:
        return self.curation.check(self._curated) if self.curation is not None else []

    def describe(self) -> dict:
        corpus = self.curation.describe() if self.curation is not None else {}
        return {"sf": SF, "query_kinds": list(SOURCE_KPIS), **corpus}

    def kind(self, i: int) -> str:
        return self.sequence[i % len(self.sequence)]

    def op(self, i: int) -> dict:
        name, span = self.kind(i), self.tracer.span
        with span("suite.build", "build"):
            df = self.queries[name].builder(self.spark, self.sf_dir)
        with span("catalyst.plan", "plan"):
            if self.tracer.enabled:
                df._jdf.queryExecution().executedPlan()
        with span("exec", "exec"):
            rows = [tuple(r) for r in df.collect()]
        return {"kind": name, "cols": df.columns, "rows": rows}

    def check(self, out: dict) -> list[str]:
        name = out["kind"]
        if name not in self._answers:
            con = _duck({t: f"{self.sf_dir}/{t}.parquet" for t in SOURCE_TABLES})
            try:
                self._answers[name] = _sql(con, self.queries[name].oracle)
            finally:
                con.close()
        return _compare(name, (out["cols"], out["rows"]), self._answers[name])


# ----------------------------------------------------------------------------
# corpus_curation
# ----------------------------------------------------------------------------

CURATION_BUILDERS = (
    ("plans.curation", "doc_curation_pipeline"),
    ("operators.dedup.clusters", "doc_dedup_clusters"),
    ("operators.dedup.minhash", "minhash_near_dup_pairs"),
)


class CorpusCuration(Workload):
    """One op = the three registered curation builders over the staged
    corpus, each built and collected."""

    name = "corpus_curation"

    def __init__(self, spark, tracer, seed: int, traced: bool = False):
        from bbt_etl_dw_spark.suite import load_all

        super().__init__(spark, tracer, seed, traced)
        reg = load_all()
        self.queries = {n: reg[n] for _, n in CURATION_BUILDERS}

    def stage(self, root: str) -> None:
        self.sf_dir = f"{root}/sf"
        self.manifest = gen.stage_corpus(self.sf_dir, self.seed, CORPUS_BASE_DOCS)
        self._answers = None

    def describe(self) -> dict:
        return {"corpus": self.manifest}

    def op(self, i: int) -> dict:
        span, out = self.tracer.span, {}
        for layer, name in CURATION_BUILDERS:
            with span(f"{layer}.build", "build"):
                df = self.queries[name].builder(self.spark, self.sf_dir)
            with span("catalyst.plan", "plan"):
                if self.tracer.enabled:
                    df._jdf.queryExecution().executedPlan()
            with span(f"{layer}.exec", "exec"):
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def check(self, out: dict) -> list[str]:
        if self._answers is None:
            con = _duck({"documents": f"{self.sf_dir}/documents.parquet"})
            try:
                self._answers = {n: _sql(con, q.oracle) for n, q in self.queries.items()}
            finally:
                con.close()
        problems = []
        for name, got in out.items():
            problems += _compare(name, got, self._answers[name])
        return problems


WORKLOADS = {w.name: w for w in (DashboardReads, SourceKpis, LifecycleRefresh,
                                 CorpusCuration)}
