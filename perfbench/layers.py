"""Per-layer metrics of a traced run (the layer -> end-to-end mapping is in
README.md). A layer metric is the median over the traced ops that call the
layer, the set-up ops included (the refresh of ``dashboard_reads``, the
curation op of ``source_kpis``); ``exec.*`` and ``jvm.gc_ms`` cover the
timed traced ops; a layer or query kind a workload never calls reads 0."""

from __future__ import annotations

import statistics

from perfbench.gen import DASHBOARD_KINDS
from perfbench.workloads import SOURCE_KPIS

# metric name -> (span layer, "ms" | "jobs")
SPAN_METRICS = {
    "sources.csv.extract_ms": ("sources.csv.extract", "ms"),
    "plans.pipeline.build_ms": ("plans.pipeline.build", "ms"),
    "plans.pipeline.build_jobs": ("plans.pipeline.build", "jobs"),
    "sources.parquet.silver_write_ms": ("sources.parquet.silver_write", "ms"),
    "sources.parquet.silver_jobs": ("sources.parquet.silver_write", "jobs"),
    "plans.star.build_ms": ("plans.star.build", "ms"),
    "sources.publish.publish_ms": ("sources.publish.publish", "ms"),
    "sources.publish.publish_jobs": ("sources.publish.publish", "jobs"),
    "sources.publish.read_ms": ("sources.publish.read", "ms"),
    "suite.build_ms": ("suite.build", "ms"),
    "catalyst.plan_ms": ("catalyst.plan", "ms"),
    "plans.curation.build_ms": ("plans.curation.build", "ms"),
    "plans.curation.build_jobs": ("plans.curation.build", "jobs"),
    "plans.curation.exec_ms": ("plans.curation.exec", "ms"),
    "operators.dedup.clusters.build_ms": ("operators.dedup.clusters.build", "ms"),
    "operators.dedup.clusters.build_jobs": ("operators.dedup.clusters.build", "jobs"),
    "operators.dedup.clusters.exec_ms": ("operators.dedup.clusters.exec", "ms"),
    "operators.dedup.minhash.build_ms": ("operators.dedup.minhash.build", "ms"),
    "operators.dedup.minhash.build_jobs": ("operators.dedup.minhash.build", "jobs"),
    "operators.dedup.minhash.exec_ms": ("operators.dedup.minhash.exec", "ms"),
}
EXEC_METRICS = {  # totals over an op's exec spans, from the REST stage data
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.cpu_ms": ("cpu_ms", "ms"),
    "exec.shuffle_bytes": ("shuffle_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
    "exec.task_max_over_median": ("task_max_over_median", "ratio"),
    "trace.missing_jobs": ("missing_jobs", "count"),
}
OTHER_METRICS = {
    "lifecycle.refresh_ms": "ms",
    "exec.ms": "ms",
    "build_share": "ratio",
    "jvm.gc_ms": "ms",
    "write_amp": "ratio",
    "sources.parquet.silver_bytes": "bytes",
    "sources.publish.gold_bytes": "bytes",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "samples": "count",
    "failed_op_ratio": "ratio",
    "trace.overhead_ms": "ms",
    "host.steal_s": "s",
    "host.probe_start_ms": "ms",
    "host.probe_end_ms": "ms",
    **{f"q.{k}.p50_ms": "ms" for k in DASHBOARD_KINDS + SOURCE_KPIS},
}


METRIC_NAMES = list(SPAN_METRICS) + list(EXEC_METRICS) + list(OTHER_METRICS)


def unit(name: str) -> str:
    if name in SPAN_METRICS:
        return "count" if SPAN_METRICS[name][1] == "jobs" else "ms"
    if name in EXEC_METRICS:
        return EXEC_METRICS[name][1]
    return OTHER_METRICS[name]


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def per_layer_metrics(kinds, setup_ops, ops, spans, exec_stats, steal_s, probes) -> dict:
    """``kinds``: the query kinds of the running workload; each must have
    untraced ops."""
    by_op: dict[int, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    traced_all = [o for o in setup_ops + ops if o["traced"]]
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]

    def calling(layer: str) -> list[dict]:
        return [o for o in traced_all
                if any(s.layer == layer for s in by_op.get(o["i"], []))]

    def span_total(o: dict, layer: str, field: str) -> float:
        return sum(s.ms if field == "ms" else len(s.jobs)
                   for s in by_op.get(o["i"], []) if s.layer == layer)

    def kind_ms(o: dict, kind: str) -> float:
        return sum(s.ms for s in by_op.get(o["i"], []) if s.kind == kind)

    values: dict[str, float] = {}
    for name, (layer, field) in SPAN_METRICS.items():
        values[name] = _median(span_total(o, layer, field) for o in calling(layer))
    for name, (key, _) in EXEC_METRICS.items():
        values[name] = _median(exec_stats.get(o["i"], {}).get(key, 0) for o in traced)
    values["lifecycle.refresh_ms"] = _median(o["ms"] for o in calling("sources.csv.extract"))
    values["exec.ms"] = _median(kind_ms(o, "exec") for o in traced)
    values["build_share"] = _median(
        kind_ms(o, "build") / o["ms"] for o in traced_all if kind_ms(o, "build"))
    values["jvm.gc_ms"] = _median(o["gc_ms"] for o in traced)
    for key, name in (("write_amp", "write_amp"),
                      ("silver_bytes", "sources.parquet.silver_bytes"),
                      ("gold_bytes", "sources.publish.gold_bytes")):
        values[name] = _median(o[key] for o in setup_ops + ops if key in o)
    walls = [o["ms"] for o in plain]
    values["op_p50_ms"] = _median(walls)
    values["op_p90_ms"] = _pct(walls, 0.9)
    values["samples"] = len(ops)
    values["failed_op_ratio"] = sum(1 for o in ops if o["problems"]) / max(1, len(ops))
    values["trace.overhead_ms"] = (
        _median(o["ms"] for o in traced) - _median(walls) if traced and plain else 0.0)
    values["host.steal_s"] = steal_s
    values["host.probe_start_ms"], values["host.probe_end_ms"] = probes
    for k in DASHBOARD_KINDS + SOURCE_KPIS:
        walls = [o["ms"] for o in plain if o["kind"] == k]
        if k in kinds and not walls:
            raise RuntimeError(f"query kind {k} has no untraced op")
        values[f"q.{k}.p50_ms"] = _median(walls)
    return {n: {"value": values[n], "unit": unit(n)} for n in METRIC_NAMES}
