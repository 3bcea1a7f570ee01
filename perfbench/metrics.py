"""Metric names and units, and the per-layer aggregation of a traced pass.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json`` names;
``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

import math
import statistics

from stats import summarize
from tracing import JOB_KEYS, attribute_jobs, job_figures

# Wall-clock pass and query times are per-layer figures, not end-to-end
# gates: on a shared box they moved by up to 50% between runs of the same
# code (hypervisor steal up to 31%), CPU time by up to 18%.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "query_cpu_geomean_ms": "ms",
}

MODULES = ["relational", "advanced", "temporal", "sketches",
           "vectors", "dedup", "text", "corpus"]
MODULE_METRICS = {
    "build_ms": "ms",
    "action_ms": "ms",
    "py4j_calls": "count",
    "jobs": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_bytes": "bytes",
    "executor_share": "ratio",
}
# span name -> per-layer metric (total ms over the traced pass; "self"
# takes the span's self time instead)
SPAN_METRICS = {
    "plans.decompose_ms": ("plans.decompose", "ms"),
    "plans.identify_ms": ("plans.identify", "ms"),
    "plans.route_ms": ("plans.route", "ms"),
    "plans.generate_sql_ms": ("plans.generate_sql", "ms"),
    "catalog.register_ms": ("catalog.register", "ms"),
    "pipeline.ask_self_ms": ("pipeline.ask", "self_ms"),
    "errors.run_sql_safe_ms": ("errors.run_sql_safe", "ms"),
    "context.summarize_ms": ("context.summarize", "ms"),
    "context.sample_ms": ("context.sample", "ms"),
    "pipeline.semantic_search_ms": ("pipeline.semantic_search", "ms"),
    "sources.read_any_ms": ("sources.read_any", "ms"),
    "sources.write_parquet_ms": ("sources.write_parquet", "ms"),
    "pipeline.enrich_catalog_entry_ms": ("pipeline.enrich_catalog_entry", "ms"),
    "pipeline.ingest_self_ms": ("pipeline.ingest", "self_ms"),
}

PER_LAYER: dict[str, str] = {}
for _m in MODULES:
    for _k, _u in MODULE_METRICS.items():
        PER_LAYER[f"operators.{_m}.{_k}"] = _u
PER_LAYER.update(dict.fromkeys(SPAN_METRICS, "ms"))
PER_LAYER.update({
    "plans.sql_ok_ratio": "ratio",
    "sources.rows_written": "count",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "ingest_s": "s",
    "stored_bytes_ratio": "ratio",
    "ask_p50_ms": "ms",
    "semantic_ask_p50_ms": "ms",
    "session.get_spark_s": "s",
    "session.warm_up_s": "s",
    "spark.jobs": "count",
    "spark.failed_tasks": "count",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "query_geomean_ms": "ms",
})


def op_rows(traced: list, tracer, jobs: list[dict], stages: dict, group: str) -> list[dict]:
    """One row per traced operation: its spans' times, py4j calls and the
    figures of the Spark jobs it caused."""
    ops = [{"id": r.op_id, "t0": r.t0, "t1": r.t1} for r in traced]
    by_op = attribute_jobs(jobs, ops, group)
    kids = tracer.children()
    rows = []
    for r in traced:
        sp = tracer.spans[r.span]
        row = {
            "key": r.op.key,
            "kind": r.op.kind,
            "module": r.op.module,
            "ms": (sp.end - sp.start) * 1000,
            "py4j_calls": sp.py4j,
            "build_ms": 0.0,
            "action_ms": 0.0,
        }
        for k in kids.get(r.span, []):
            child = tracer.spans[k]
            if child.name == "query.build":
                row["build_ms"] += (child.end - child.start) * 1000
            elif child.name == "query.action":
                row["action_ms"] += (child.end - child.start) * 1000
        figs = dict.fromkeys(JOB_KEYS, 0)
        for job in by_op[r.op_id]:
            for k, v in job_figures(job, stages).items():
                figs[k] += v
        row.update(figs)
        rows.append(row)
    return rows


def per_layer(rows: list[dict], tracer, cores: int, extra: dict) -> dict[str, float]:
    """Every per-layer metric from a traced pass. A layer the workload
    does not call reads 0: no calls, no time, no jobs."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    for m in MODULES:
        mine = [r for r in rows if r["module"] == m]
        p = f"operators.{m}."
        out[p + "build_ms"] = sum(r["build_ms"] for r in mine)
        out[p + "action_ms"] = sum(r["action_ms"] for r in mine)
        out[p + "py4j_calls"] = sum(r["py4j_calls"] for r in mine)
        for k in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_bytes"):
            out[p + k] = sum(r[k] for r in mine)
        if out[p + "action_ms"] > 0:
            out[p + "executor_share"] = out[p + "executor_run_ms"] / (
                out[p + "action_ms"] * cores
            )
    totals = tracer.totals()
    for metric, (span, field) in SPAN_METRICS.items():
        out[metric] = totals.get(span, {}).get(field, 0.0)
    out["spark.jobs"] = sum(r["jobs"] for r in rows)
    out["spark.failed_tasks"] = sum(r["failed_tasks"] for r in rows)
    out["spark.spill_bytes"] = sum(r["spill_bytes"] for r in rows)
    out["spark.gc_ms"] = sum(r["gc_ms"] for r in rows)
    out.update(extra)
    return out


# operations whose latency query_geomean_ms and the latency summary cover
LATENCY_KINDS = ("query", "ask_sql")


def medians_by_op(timed: list[list], field: str, kinds=None) -> dict[str, float]:
    """Each operation's median of ``field`` over the timed passes."""
    per_op: dict[str, list[float]] = {}
    for results in timed:
        for r in results:
            if kinds is None or r.op.kind in kinds:
                per_op.setdefault(r.op.key, []).append(getattr(r, field))
    return {k: statistics.median(v) for k, v in per_op.items()}


def geomean(values, floor: float = 0.01) -> float:
    """Geometric mean; values below ``floor`` (one 10 ms CPU tick) count
    as ``floor``."""
    values = [max(v, floor) for v in values]
    return math.exp(sum(math.log(v) for v in values) / len(values))


def latency(values: list[float]) -> dict:
    """Latency summary in ms with its sample count (empty → n = 0)."""
    if not values:
        return {"n": 0}
    return {k: (v * 1000 if k != "n" else v) for k, v in summarize(values).items()}
