#!/usr/bin/env python3
"""sf1 scale probe (VERDICT r02 #6): synthesize ~sf1 tables by replicating
the sf0.1 tables 10x with join-integrity-preserving key shifts, then run
the headline bench set against them.

Usage:
    python scale_probe.py generate    # write /root/repo/.scale/sf1 (once)
    python scale_probe.py bench r04   # run bench.py at sf1 (generating the
                                      # data if missing) and write
                                      # BENCH_sf1_r04.json next to BENCH —
                                      # the standing per-round artifact so
                                      # scale regressions show up as a
                                      # committed JSON diff, not prose
    SPARK_GRAFT_SF_DIR=/root/repo/.scale/sf1 python bench.py

Key shifts per replica i (0..9): every key column in a foreign-key
relationship shifts by the SAME offset on both sides, so join fan-out per
key stays exactly sf0.1-shaped while table volumes grow 10x (lineitem 6M,
orders 1.5M, customer 150k — real TPC-H sf1 cardinalities). Text/vector
payloads are kept byte-identical across replicas on purpose: that gives the
dedup family a realistic high-duplicate-density corpus (each document gains
9 exact duplicates — the web-crawl shape exact/near dedup exists for).

The generated directory is gitignored (datasets don't belong in git); the
per-scale bench details land in BENCH_sf1_<tag>.json.
"""

from __future__ import annotations

import os
import sys

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/.scale/sf1"
COPIES = 10

# key-column shift units (larger than any sf0.1 key range)
SHIFTS = {
    "l_orderkey": 10_000_000,
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "c_custkey": 1_000_000,
    "l_partkey": 1_000_000,
    "p_partkey": 1_000_000,
    "l_suppkey": 100_000,
    "s_suppkey": 100_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}

FACTS = (
    "lineitem",
    "orders",
    "customer",
    "part",
    "supplier",
    "events",
    "documents",
    "embeddings",
)
DIMS = ("nation", "region")


def generate() -> None:
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.session import get_spark

    spark = get_spark(app_name="scale-probe-gen")
    spark.sparkContext.setLogLevel("WARN")
    os.makedirs(DST, exist_ok=True)
    for t in DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        print(f"{t}: copied")
    replicas = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("_rep")
    for t in FACTS:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        out = df.select("*", replicas)
        shifted = {
            c: (F.col(c) + F.col("_rep") * SHIFTS[c]).cast(dict(df.dtypes)[c])
            for c in df.columns
            if c in SHIFTS
        }
        out = out.withColumns(shifted).drop("_rep")
        # many row groups => the catalog's spread heuristic is a no-op and
        # scans parallelize off the files themselves, like a real lake
        out.repartition(32).write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        # count from the WRITTEN parquet (metadata-only) — counting `out`
        # would re-execute the whole explode+shift pipeline a second time
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: x{COPIES} -> {n} rows")


def bench_sf1(tag: str) -> None:
    """Run bench.py at sf0.1 AND at the synthetic sf1 back-to-back (same
    machine state, so the per-query ratios isolate data-scale cost from
    ambient load) and write BENCH_sf1_{tag}.json. The 10x-data ratio per
    query is the actual scale signal a round-over-round diff should watch
    — a query drifting toward 10x has lost its sublinearity. Each scale's
    whole BENCH_DETAIL.json is embedded (walls, noise band, warmups and
    the tracer fields: build/exec jobs, stages, shuffle, spill, skew), so
    BENCH_sf1_{tag} reads like two BENCH_DETAIL files side by side."""
    import json
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(DST):
        generate()

    def run(sf_dir: str):
        """(returncode, BENCH_DETAIL of this run or None). The committed
        BENCH_DETAIL.json stays the sf0.1 one — restore it with git after
        a scale run."""
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py")], env=env, cwd=repo
        )
        if proc.returncode != 0:
            return proc.returncode, None  # bench.py writes the detail last
        with open(os.path.join(repo, "BENCH_DETAIL.json")) as f:
            return 0, json.load(f)

    rc01, d01 = run(SRC)
    rc1, d1 = run(DST)
    ratios = None
    if d01 and d1:
        q01 = d01["queries"]
        ratios = {
            q: round(t / q01[q], 2) for q, t in d1["queries"].items() if q01.get(q)
        }
        ratios["_total"] = round(d1["value"] / d01["value"], 2)
    out = {
        "rc": max(rc01, rc1),
        "sf": "sf1-synthetic (10x sf0.1, key-shifted replicas)",
        "ratio_sf1_vs_sf01": ratios,
        "sf01_detail": d01,
        "sf1_detail": d1,
    }
    dst = os.path.join(repo, f"BENCH_sf1_{tag}.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=2)
    print(
        f"wrote {dst}: sf0.1={d01 and d01['value']}s "
        f"sf1={d1 and d1['value']}s ratio={ratios and ratios['_total']}"
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "generate":
        generate()
    elif len(sys.argv) > 2 and sys.argv[1] == "bench":
        bench_sf1(sys.argv[2])
    else:
        print(__doc__)
