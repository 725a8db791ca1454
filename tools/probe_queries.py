#!/usr/bin/env python3
"""Isolated per-query probe with bench.py's protocol (noop sink, adaptive
warmup, min of N) and its tracer figures, for an explicit subset of
queries. Usage:
    python tools/probe_queries.py name1 name2 ...
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_RUNS (default 3), SPARK_GRAFT_BENCH_WARMUPS (default 6),
SPARK_GRAFT_BENCH_WARMUPS_EXT (default twice the warmups).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import protocol_settings, run_noop, timed_runs, warm_to_plateau  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bbt_etl_dw_spark.session import get_spark
    from bbt_etl_dw_spark.suite import load_all

    queries = load_all()
    spark = get_spark(app_name="bbt-probe")
    spark.sparkContext.setLogLevel("WARN")
    n_runs, warm_cap, warm_cap_ext = protocol_settings()

    out = {}
    for name in names:
        builder = queries[name].builder
        warm = warm_to_plateau(
            lambda: run_noop(spark, builder, sf_dir), warm_cap, warm_cap_ext
        )
        runs, stats = timed_runs(spark, name, builder, sf_dir, n_runs, traced=True)
        out[name] = {
            "min": round(min(runs), 4),
            "spread": round(max(runs) - min(runs), 4),
            "warmups": warm,
            **stats,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
