#!/usr/bin/env python3
"""Registry-wide duplicated-subtree detector (r14's main instrument).

Builds every registered query's physical plan at $SPARK_GRAFT_SF_DIR
(default sf0.01 — plan shape is scale-independent) and reports, per
query, any base table scanned more than once, plus SortMergeJoin /
CartesianProduct counts. A table appearing N>1 times in ONE plan means
the upstream pipeline is planned (and will execute) N times — the
duplicated-subtree class this round reduced from 557 to 106 repeated
scans registry-wide; the remaining entries are individually classified
in OPTIMIZATION_r14.md (deliberate recompute-over-materialize trades,
twin-contrast checks, history/batch splits, pruned query-side scans).

Usage: python tools/scan_audit.py > scan_audit.json
Note: builders with eager materializations execute those jobs during
the audit; run it on an otherwise idle machine if you also bench.
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bbt_etl_dw_spark.session import get_spark
    from bbt_etl_dw_spark.suite import load_all

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all()
    out: dict = {}
    for name in sorted(queries):
        try:
            df = queries[name].builder(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — audit must survive one bad builder
            out[name] = {"err": str(e)[:120]}
            continue
        tabs = re.findall(r"Location:.*?/([a-z_]+)\.parquet", plan)
        dup = {t: c for t, c in collections.Counter(tabs).items() if c > 1}
        smj = plan.count("SortMergeJoin") // 2
        cart = plan.count("CartesianProduct") // 2
        if dup or cart:
            out[name] = {"dup_scans": dup, "smj": smj, "cartesian": cart}
    # One scalar for the close gate (tools/close.py): sum over queries of
    # (scan count - 1) per table scanned more than once — "how many extra
    # times is some base pipeline planned registry-wide".
    total = sum(
        c - 1
        for q in out.values()
        for c in q.get("dup_scans", {}).values()
    )
    # "audited" lets the close gate see a registry that shrank (a suite
    # module that stopped importing audits fewer queries, not worse ones).
    print(
        json.dumps(
            {
                "total_duplicated_scans": total,
                "audited": sorted(queries),
                "queries": out,
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
