#!/usr/bin/env python3
"""Skew probe (VERDICT r14 #7): per-partition task-time evidence for the
two skew classes the engine handles, measured on deliberately skewed data
at the scale tier, with the UI REST taskSummary as the per-task source
(stages above a pre-run stage-id watermark).

Scenario A — OUTPUT-EXPLOSION skew (the dedup self-join class):
  a synthetic corpus where 2,000 docs share one boilerplate sentence, so a
  handful of shingles have df=2000 and the ngram_jaccard_pairs self-join
  emits ~f^2/2 ≈ 2M pair rows per hot shingle from ONE join key.
  Measured three ways: AQE skew-join ON (shipped default), AQE skew-join
  OFF, and the documented mitigation max_shingle_df (drop stop-shingles).
  Expectation to verify: AQE does NOT fix this class — its skew detector
  sees shuffle INPUT bytes, and the hot key's input is a few thousand tiny
  rows; the explosion happens inside the join. That is exactly why
  dedup.py carries max_shingle_df / max_shingle_df_guard instead of
  leaning on AQE.

Scenario B — INPUT-BYTES skew (the fact⋈dim class skew.salted_join
  targets): a 40M-row fact with 50% of rows on one key joined to a 200k
  dim, broadcast disabled so the shuffle exists (salting targets the
  non-broadcastable case). Measured: plain join with AQE skew OFF
  (straggler), plain join with AQE skew ON at the DEFAULT thresholds
  (the shipped config — the hot partition is ~0.5 GB > the 256 MB
  default threshold, so AQE splits it), and skew.salted_join with AQE
  skew OFF (the planner-independent fix). Also runs key_skew_report on
  the fact to exercise the diagnostic operator.

All data is generated deterministically from spark.range — no files, no
randomness. Artifact: SKEW_r15.json with wall seconds and the heaviest
stages' task-time quantiles (min/median/p90/max ms), task counts and
shuffle bytes for every mode.

Usage: python tools/skew_probe_r15.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 30_000
N_HOT_DOCS = 2_000
# 100M rows with 50% on one key: the hot partition's shuffle blocks are
# ~280 MB compressed — ABOVE the 256 MB default
# skewedPartitionThresholdInBytes, so the probe exercises AQE skew
# splitting at the SHIPPED defaults (a first cut at 40M rows left the hot
# partition at ~110 MB and AQE correctly did not split — recorded in
# OPTIMIZATION_r15.md).
FACT_ROWS = 100_000_000
DIM_ROWS = 200_000
HOT_SHARE_MOD = 2  # id % 2 == 0 -> hot key: 50% of fact rows on key 0


def main() -> None:
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.operators.dedup import ngram_jaccard_pairs
    from bbt_etl_dw_spark.operators.skew import key_skew_report, salted_join
    from bbt_etl_dw_spark.session import get_spark

    spark = get_spark(app_name="bbt-skew-probe-r15")
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext

    def api(path: str):
        ui = sc.uiWebUrl
        app_id = sc.applicationId
        url = f"{ui}/api/v1/applications/{app_id}/{path}"
        return json.load(urllib.request.urlopen(url, timeout=20))

    def stage_watermark() -> int:
        stages = api("stages?status=complete")
        return max((s["stageId"] for s in stages), default=-1)

    def heavy_stages(mark: int, top: int = 3) -> list[dict]:
        stages = [
            s for s in api("stages?status=complete") if s["stageId"] > mark
        ]
        stages.sort(key=lambda s: s.get("executorRunTime", 0), reverse=True)
        out = []
        for s in stages[:top]:
            entry = {
                "stage_id": s["stageId"],
                "name": s.get("name", "")[:80],
                "num_tasks": s.get("numTasks"),
                "executor_run_time_ms": s.get("executorRunTime"),
                "shuffle_read_mb": round(
                    s.get("shuffleReadBytes", 0) / 1e6, 1
                ),
                "shuffle_write_mb": round(
                    s.get("shuffleWriteBytes", 0) / 1e6, 1
                ),
            }
            try:
                q = api(
                    f"stages/{s['stageId']}/{s.get('attemptId', 0)}"
                    "/taskSummary?quantiles=0.0,0.5,0.9,1.0"
                )
                rt = q.get("executorRunTime", [])
                if len(rt) == 4:
                    entry["task_ms_min_med_p90_max"] = [round(x) for x in rt]
            except Exception as exc:  # summary can 404 on evicted stages
                entry["task_summary_err"] = str(exc)[:80]
            out.append(entry)
        return out

    def timed(label: str, build) -> dict:
        """Two timed runs per mode (the first can carry residual JIT or
        page-cache ramp even after the untimed warm); the reported task
        distribution is the second run's — steady state."""
        walls = []
        stages: list[dict] = []
        for i in range(2):
            sc.setJobDescription(f"skew-probe:{label}:{i}")
            mark = stage_watermark()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 2))
            stages = heavy_stages(mark)
            sc.setJobDescription(None)
        return {"wall_sec_runs": walls, "stages": stages}

    def set_skew(on: bool) -> None:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(on).lower()
        )

    out: dict = {
        "protocol": (
            "one JVM, local[$SPARK_GRAFT_CPUS]; per-task times from the UI "
            "REST taskSummary (executorRunTime quantiles, ms) over the "
            "top-3 heaviest stages of each timed action, stage-id "
            "watermark isolation per run"
        ),
        "n_docs": N_DOCS,
        "n_hot_docs": N_HOT_DOCS,
        "fact_rows": FACT_ROWS,
        "dim_rows": DIM_ROWS,
    }

    # ---------- Scenario A: dedup self-join, output-explosion skew ----------
    boiler = " ".join(f"hot{i}" for i in range(10))
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(40)),
                    lambda i: F.concat(
                        F.lit("w"), (F.col("id") * 100 + i).cast("string")
                    ),
                ),
            ),
            F.when(
                F.col("id") < N_HOT_DOCS, F.lit(" " + boiler)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )

    def jacc(cap: int | None):
        return ngram_jaccard_pairs(
            docs,
            "doc_id",
            "text",
            shingle_k=3,
            threshold=0.05,
            max_shingle_df=cap,
        )

    a: dict = {}
    # warm the full pipelines untimed so JIT/codegen ramp doesn't
    # masquerade as skew in the first measured mode (a first cut warmed
    # only the corpus generation: the index stage then cost 4.7 s/task in
    # mode 1 vs 1.9 s/task in mode 2 — pure ramp)
    jacc(None).write.format("noop").mode("overwrite").save()
    jacc(100).write.format("noop").mode("overwrite").save()
    set_skew(False)
    a["aqe_skew_off"] = timed("A:aqe-off", lambda: jacc(None))
    set_skew(True)
    a["aqe_skew_on_default"] = timed("A:aqe-on", lambda: jacc(None))
    a["max_shingle_df_100"] = timed("A:capped", lambda: jacc(100))
    out["A_dedup_selfjoin_output_explosion"] = a

    # ---------- Scenario B: fact⋈dim input-bytes skew ----------
    fact = spark.range(FACT_ROWS).select(
        F.when(F.col("id") % HOT_SHARE_MOD == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(DIM_ROWS)))
        .cast("long")
        .alias("key"),
        (F.col("id") % 1000).cast("double").alias("val"),
        # a distinguishing column so content-hash salting can spread the
        # hot key (salted_join docs: identical rows collapse to one salt)
        F.col("id").alias("rid"),
    )
    dim = spark.range(DIM_ROWS).select(
        F.col("id").alias("key"), (F.col("id") * 2).cast("double").alias("attr")
    )

    def plain(sink: str):
        j = fact.join(dim, "key")
        if sink == "groupby_join_key":
            # the aggregation RE-USES the join's hash partitioning — the
            # case where OptimizeSkewedJoin refuses to split (splitting
            # would force an extra shuffle; forceOptimizeSkewedJoin=false
            # by default)
            return j.groupBy("key").agg(
                F.sum(F.col("val") * F.col("attr")).alias("s")
            )
        # global agg: no distribution requirement downstream — the clean
        # skew-split case
        return j.agg(F.sum(F.col("val") * F.col("attr")).alias("s"))

    def salted():
        return (
            salted_join(fact, dim, ["key"], salt=32)
            .groupBy("key")
            .agg(F.sum(F.col("val") * F.col("attr")).alias("s"))
        )

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b: dict = {}
        skw = key_skew_report(fact, "key", top_k=3).collect()
        b["key_skew_report_top3"] = [
            {
                "key": r["key_value"],
                "n_rows": r["n_rows"],
                "row_share": round(r["row_share"], 4),
                "skew_ratio": round(r["skew_ratio"], 1),
            }
            for r in skw
        ]
        # untimed warm of all shapes (codegen + page cache)
        set_skew(True)
        plain("groupby_join_key").write.format("noop").mode("overwrite").save()
        plain("global").write.format("noop").mode("overwrite").save()
        salted().write.format("noop").mode("overwrite").save()

        gb = lambda: plain("groupby_join_key")  # noqa: E731
        gl = lambda: plain("global")  # noqa: E731
        set_skew(False)
        b["groupby_sink_aqe_skew_off"] = timed("B:gb-off", gb)
        set_skew(True)
        # SUPPRESSION case: AQE skew split is legal by bytes (hot
        # partition ~278 MB > 256 MB default threshold) but skipped,
        # because the downstream groupBy(join key) would need an extra
        # shuffle after the split — forceOptimizeSkewedJoin=false default
        b["groupby_sink_aqe_skew_on_default"] = timed("B:gb-on", gb)
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        b["groupby_sink_aqe_skew_on_forced"] = timed("B:gb-forced", gb)
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
        set_skew(False)
        b["global_sink_aqe_skew_off"] = timed("B:gl-off", gl)
        set_skew(True)
        # clean split case: no distribution requirement downstream
        b["global_sink_aqe_skew_on_default"] = timed("B:gl-on", gl)
        set_skew(False)
        b["salted_join_groupby_sink_aqe_skew_off"] = timed(
            "B:salted-off", salted
        )
        set_skew(True)
        out["B_fact_dim_input_skew"] = b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        set_skew(True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SKEW_r15.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
