"""Core-count scaling probe: does a query's wall clock drop with
executor parallelism, or is it serialized somewhere?

PLANS_r09 argued doc_lm_oov_rate's 5.19x sf0.1->sf1 wall ratio is
explode/CPU cost that parallelizes per-split (the shuffle fabric carries
only hashed longs, 1.15x bytes on 10x data). VERDICT r09 stretch #7 asks
for proof: run the sf1 query at local[8]/local[16]/local[32] and commit
the curve. If wall does not drop near-linearly in cores, the bound is
wrong and the query needs plan work.

Per core count one fresh JVM (master is static), bench protocol per
query (``bench.warm_to_plateau``: adaptive discarded warmup, cap 6,
extended to 12 only while still descending), then two passes of min-of-3
timed noop writes (``bench.run_noop``).

Usage:
    python tools/core_scaling.py <query> <sf_dir> [cores ...]
    python tools/core_scaling.py --worker <query> <sf_dir> <cores>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import run_noop, warm_to_plateau  # noqa: E402

N_RUNS = 3


def _worker(query: str, sf_dir: str, cores: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = cores
    from bbt_etl_dw_spark.session import get_spark
    from bbt_etl_dw_spark.suite import load_all

    spark = get_spark(app_name=f"core-scaling-{cores}")
    spark.sparkContext.setLogLevel("WARN")
    builder = load_all()[query].builder

    warmups = warm_to_plateau(lambda: run_noop(spark, builder, sf_dir))
    p1 = min(run_noop(spark, builder, sf_dir) for _ in range(N_RUNS))
    p2 = min(run_noop(spark, builder, sf_dir) for _ in range(N_RUNS))
    print(
        json.dumps(
            {
                "cores": int(cores),
                "min_pass1": round(p1, 4),
                "min_pass2": round(p2, 4),
                "noise_band": round(abs(p1 - p2), 4),
                "best": round(min(p1, p2), 4),
                "warmups_used": warmups,
            }
        )
    )


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        _worker(*sys.argv[2:5])
        return
    query, sf_dir = sys.argv[1], sys.argv[2]
    cores = sys.argv[3:] or ["8", "16", "32"]
    results = []
    for c in cores:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", query, sf_dir, c],
            cwd=REPO,
            text=True,
            capture_output=True,
        )
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            results.append(json.loads(line))
        except Exception:
            results.append({"cores": int(c), "err": proc.stderr[-300:]})
    print(json.dumps({"query": query, "sf_dir": sf_dir, "curve": results}, indent=1))


if __name__ == "__main__":
    main()
