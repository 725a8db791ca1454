"""Seeded input generator for the lifecycle benchmark.

Everything the engine sees in a run is written here, from one seed:

- ``stage_tables``: a TPC-H-shaped star source directory (region, nation,
  customer, supplier, part, orders, lineitem) with the same column names
  and types as the engine's synthetic test tables.
- ``stage_sales``: a dirty, sales-shaped CSV drawn from
  lineitem x orders x customer x nation, plus the tax-rate and
  exchange-rate series the pipeline joins. Dirt is injected at seeded
  rates and the returned manifest records exactly what was injected, so
  the audit report can be checked count for count.
- ``stage_corpus``: a ``documents.parquet`` of random-vocabulary text plus
  seeded exact and near-duplicate copies. Near-duplicate chains have a
  fixed shape (see ``_CHAIN_DEPTH``) so the dedup loop runs the same
  number of rounds for every seed.
- ``query_sequence``: the seeded dashboard query mix.

Row counts depend only on the size arguments, never on the seed, so two
seeds differ in values and dirt positions but not in how much work an op
does.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Real country names (the audit's charset rule rejects NATION_<n>), one per
# nation key; every one is in the engine's geo lookup.
COUNTRIES = (
    "Argentina", "Australia", "Austria", "Belgium", "Brazil", "Canada",
    "Denmark", "Finland", "France", "Germany", "Ireland", "Italy", "Japan",
    "Mexico", "Netherlands", "Norway", "Poland", "Portugal", "Singapore",
    "Spain", "Sweden", "Switzerland", "UK", "USA", "Venezuela",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("small", "red", "blue", "large", "steel", "ring", "widget", "bolt")
PART_TYPES = ("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")
STREETS = ("Main St", "Rua do Paco", "High Rd", "Elm Ave", "Kings Way")

EPOCH = dt.date(1995, 1, 1)
DAYS = (dt.date(2001, 8, 1) - EPOCH).days  # order dates: 1995-01-01..2001-08-01
# Sales dates are order dates shifted by 24 years: a multiple of 4 that
# keeps every leap day valid and keeps two-digit M/d/yy years in 2019-2025
# (Spark parses "yy" into 2000-2099).
SALES_YEAR_SHIFT = 24
SALES_COLUMNS = (
    "OrderID", "CustomerID", "OrderDate", "Freight", "ShipName", "ShipAddress",
    "ShipCountry", "OrderID", "LineNumber", "ProductID", "UnitPrice",
    "Quantity", "Discount",
)

STOPWORDS = ("the", "a", "of", "and", "to", "in")
VOCAB = STOPWORDS + (
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "customer", "query", "big", "stream",
    "group", "filter", "vector", "index", "shard", "plan", "stage", "task",
    "cache", "disk", "memory", "node", "graph", "edge", "label", "token",
    "model", "train", "eval", "split", "batchsize", "epoch", "weight",
    "layer", "shuffle", "spill", "commit", "snapshot", "manifest", "footer",
    "schema", "record", "field", "offset", "partition",
)
LANGS = ("en", "de", "fr", "es", "zh")
# Each near-duplicate chain is base -> c1 -> c2 -> c3, every hop replacing
# a fresh block of _BLOCK words: one hop keeps Jaccard >= 0.5 on 3-word
# shingles, two hops fall below it, so every chain has exactly this depth.
_CHAIN_DEPTH = 3
_BLOCK = 8
_CHAIN_WORDS = 48


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _ts(days: np.ndarray) -> pa.Array:
    micros = (np.datetime64(EPOCH, "us") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def stage_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the star source tables for scale factor ``sf``; returns the
    in-memory columns the sales CSV is drawn from."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }), f"{out_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    c_nation = rng.integers(0, 25, n_cust).astype(np.int32)
    c_acct = _money(rng, -999.99, 9999.99, n_cust)
    pq.write_table(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": c_nation,
        "c_acctbal": c_acct,
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")

    pq.write_table(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")

    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    pq.write_table(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }), f"{out_dir}/part.parquet")

    o_cust = rng.integers(0, n_cust, n_ord)
    o_days = rng.integers(0, DAYS + 1, n_ord)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": o_cust.astype(np.int64),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_days),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    # Four lines per order: a fixed row count for every seed.
    lines = 4
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = l_ord.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    l_days = o_days[l_ord] + rng.integers(1, 122, n_li)
    perm = rng.permutation(n_li)  # row order is not key order, as in the test tables
    li = {
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.tile(np.arange(1, lines + 1, dtype=np.int32), n_ord),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
    }
    li = {k: v[perm] for k, v in li.items()}
    tbl = pa.table({**li, "l_shipdate": _ts(l_days[perm])})
    pq.write_table(tbl, f"{out_dir}/lineitem.parquet")
    return {
        "lineitem": li,
        "o_custkey": o_cust,
        "o_days": o_days,
        "c_nationkey": c_nation,
    }


def _mdy(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year % 100:02d}"


def stage_sales(out_dir: str, seed: int, cols: dict) -> dict:
    """Write ``sales.csv`` (dirty), ``tax_rates.parquet`` and
    ``exchange_rates.parquet`` under ``out_dir``; return the manifest of
    injected dirt, in the units of the engine's audit report."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 2)
    li = cols["lineitem"]
    n = li["l_orderkey"].size
    order = li["l_orderkey"]
    rates = {  # seeded dirt rates, each in a narrow band
        "mdy_date": rng.uniform(0.30, 0.40),
        "junk_price": rng.uniform(0.005, 0.015),
        "neg_freight": rng.uniform(0.005, 0.015),
        "bad_country": rng.uniform(0.005, 0.015),
        "null_discount": rng.uniform(0.005, 0.015),
        "dup_row": rng.uniform(0.005, 0.015),
    }
    flags = {k: rng.random(n) < p for k, p in rates.items()}
    freight = _money(rng, 0.5, 500.0, n)
    junk = rng.choice(list("xqz#"), n)
    address_no = rng.integers(1, 999, n)
    street = rng.integers(0, len(STREETS), n)
    cust = cols["o_custkey"][order]
    nation = cols["c_nationkey"][cust]
    days = cols["o_days"][order]

    rows = []
    for i in range(n):
        d = EPOCH + dt.timedelta(days=int(days[i]))
        d = d.replace(year=d.year + SALES_YEAR_SHIFT)
        qty = int(li["l_quantity"][i])
        unit = f"{li['l_extendedprice'][i] / qty:.2f}"
        country = COUNTRIES[nation[i]]
        rows.append([
            str(order[i]),
            f"C{cust[i]:06d}",
            _mdy(d) if flags["mdy_date"][i] else d.isoformat(),
            f"-{freight[i]:.2f}" if flags["neg_freight"][i] else f"{freight[i]:.2f}",
            f"Ship {cust[i] % 997}",
            f"{address_no[i]} {STREETS[street[i]]}, Unit {address_no[i] % 17}",
            country[:-1] + "#" if flags["bad_country"][i] else country,
            str(order[i]),
            str(li["l_linenumber"][i]),
            str(li["l_partkey"][i]),
            unit + junk[i] if flags["junk_price"][i] else unit,
            str(qty),
            "" if flags["null_discount"][i] else f"{li['l_discount'][i]:.2f}",
        ])
    dups = [rows[i] for i in np.flatnonzero(flags["dup_row"])]
    all_rows = rows + dups

    def count(key: str) -> int:
        # dirt on a duplicated row is counted twice, as the audit sees it
        return int(flags[key].sum() + flags[key][flags["dup_row"]].sum())

    with open(f"{out_dir}/sales.csv", "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow(SALES_COLUMNS)
        w.writerows(all_rows)

    pq.write_table(pa.table({
        "ShipCountry": list(COUNTRIES),
        "TaxRate": np.round(rng.uniform(0.0, 0.25, len(COUNTRIES)), 3),
    }), f"{out_dir}/tax_rates.parquet")
    months = [dt.date(2019 + m // 12, m % 12 + 1, 1) for m in range(12 * 7)]
    pq.write_table(pa.table({
        "ShipCountry": [c for c in COUNTRIES for _ in months],
        "OrderDate": pa.array([m for _ in COUNTRIES for m in months], pa.date32()),
        "Rate": np.round(rng.uniform(0.5, 2.0, len(COUNTRIES) * len(months)), 4),
    }), f"{out_dir}/exchange_rates.parquet")

    return {
        "rows": len(all_rows),
        "duplicate_rows": len(dups),
        "missing_values": {"Discount": count("null_discount")},
        "inconsistencies": {
            "OrderDate": count("mdy_date"),
            "UnitPrice": count("junk_price"),
            "Freight": count("neg_freight"),
            "ShipCountry": count("bad_country"),
        },
        "duplicate_columns": {"OrderID": ["OrderID0", "OrderID7"]},
        "rates": {k: round(v, 5) for k, v in rates.items()},
        "csv_bytes": os.path.getsize(f"{out_dir}/sales.csv"),
    }


def _doc_words(rng: np.random.Generator, n_words: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)]


def stage_corpus(out_dir: str, seed: int, n_base: int) -> dict:
    """Write ``documents.parquet``: ``n_base`` random documents, then
    exact copies (case/whitespace variants) of 10% of them and
    fixed-depth near-duplicate chains from another 5%. Copies get ids
    above every base id, so each component's minimum is its base doc."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 3)
    texts = [_doc_words(rng, int(k)) for k in rng.integers(10, 90, n_base)]
    n_exact, n_chain = n_base // 10, n_base // 20
    picks = rng.permutation(n_base)
    extra: list[str] = []
    for i in picks[:n_exact]:
        words = texts[i]
        variant = rng.integers(0, 3)
        if variant == 0:
            extra.append(" ".join(words))
        elif variant == 1:
            extra.append(" ".join(words).upper())
        else:
            extra.append("  ".join(words) + " ")
    for i in picks[n_exact:n_exact + n_chain]:
        # chain bases get a fixed length so every hop has the same Jaccard
        words = _doc_words(rng, _CHAIN_WORDS)
        texts[i] = words
        for hop in range(_CHAIN_DEPTH):
            words = list(words)
            start = hop * (_BLOCK + 4)
            for j in range(start, start + _BLOCK):
                words[j] = f"alt{hop}{rng.integers(0, 1000)}"
            extra.append(" ".join(words))
    docs = [" ".join(t) for t in texts] + extra
    n = len(docs)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": docs,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")
    return {"docs": n, "base": n_base, "exact_copies": n_exact,
            "near_chains": n_chain, "chain_depth": _CHAIN_DEPTH}


DASHBOARD_KINDS = (
    "sales_by_client_value",
    "store_growth_by_year",
    "products_per_status",
    "revenue_by_region_month",
    "top10_customers",
)
YEARS = tuple(range(1995, 2002))


def _rounds(rng: np.random.Generator, kinds: tuple[str, ...], n: int) -> list[str]:
    """Rounds that hold every kind once, in seeded order, so any window of
    a run sees the same mix of cheap and expensive queries."""
    out: list[str] = []
    while len(out) < n:
        out += [kinds[k] for k in rng.permutation(len(kinds))]
    return out[:n]


def query_sequence(seed: int, n: int) -> list[tuple[str, int | None]]:
    """The seeded dashboard mix: (kind, year filter or None)."""
    rng = _rng(seed, 4)
    return [
        (kind, int(rng.choice(YEARS))
         if kind in ("revenue_by_region_month", "top10_customers") else None)
        for kind in _rounds(rng, DASHBOARD_KINDS, n)
    ]


def kind_sequence(seed: int, kinds: tuple[str, ...], n: int) -> list[str]:
    """A seeded mix of parameterless queries, in rounds."""
    return _rounds(_rng(seed, 5), kinds, n)
