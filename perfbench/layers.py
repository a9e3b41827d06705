"""Per-layer metrics of the traced run.

:func:`install` wraps the public functions each layer exposes (nothing
under ``zolo_spark/`` is edited); :func:`report` turns the recorded
spans, the per-op py4j counts and the Spark event log into the
per-layer metrics named in ``BENCHMARK.json``.

Aggregation: ``*_s`` of a named function is the mean seconds per call
(inclusive: a lazy function's span covers plan construction, an eager
one's covers its jobs too); the ``plan``/``py4j``/``catalyst``/
``spark``/``exec``/``shuffle`` numbers are means per traced op. Every
other op runs untraced, and ``trace.overhead_ratio`` is the geometric
mean, over op kinds seen both ways, of traced ÷ untraced median
latency. The event log and the wrappers are on for both halves, so the
ratio shows the per-op tracing cost only. A metric a workload never
exercises reads 0.
"""

from __future__ import annotations

import os
import statistics

import tracing
from metrics import geomean

# span name -> (module path, owner attribute or None, function name)
_WRAPPED = {
    "session.get_spark": ("zolo_spark.session", None, "get_spark"),
    "warehouse.commit_tx": ("zolo_spark.warehouse", "Warehouse", "commit_tx"),
    "warehouse.merge_tx": ("zolo_spark.warehouse", "Warehouse", "merge_tx"),
    "warehouse.update_tx": ("zolo_spark.warehouse", "Warehouse", "update_tx"),
    "warehouse.delete_tx": ("zolo_spark.warehouse", "Warehouse", "delete_tx"),
    "warehouse.compact": ("zolo_spark.warehouse", "Warehouse", "compact"),
    "warehouse.point_lookup": ("zolo_spark.warehouse", "Warehouse", "point_lookup"),
    "warehouse.read_committed_tx": ("zolo_spark.warehouse", "Warehouse",
                                    "read_committed_tx"),
    "pipelines.square_etl.run": ("zolo_spark.pipelines.square_etl", None, "run"),
    "pipelines.shopify_etl.run": ("zolo_spark.pipelines.shopify_etl", None, "run"),
    "pipelines.quickbooks_etl.run": ("zolo_spark.pipelines.quickbooks_etl", None, "run"),
    "llm.dedup.build_dedup_index": ("zolo_spark.llm.dedup", None, "build_dedup_index"),
    "llm.dedup.incremental_minhash_dedup": ("zolo_spark.llm.dedup", None,
                                            "incremental_minhash_dedup"),
    "models.grouped.arima_job": ("zolo_spark.models.grouped", None, "arima_job"),
    "models.grouped.holt_job": ("zolo_spark.models.grouped", None, "holt_job"),
    "models.grouped.ses_job": ("zolo_spark.models.grouped", None, "ses_job"),
    "ops.relational.weekly_demand": ("zolo_spark.ops.relational", None,
                                     "weekly_demand_testdata"),
}

_OP_LAYERS = {
    "plan.build_s": "s", "py4j.calls": "count",
    "catalyst.analyze_s": "s", "catalyst.optimize_s": "s",
    "catalyst.physical_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
}
_WAREHOUSE = {
    "warehouse.bytes_written": "bytes", "warehouse.lookup_files_read": "count",
    "warehouse.lookup_useful_ratio": "ratio", "warehouse.files_live": "count",
    "warehouse.log_versions": "count",
}
# the workloads' own numbers, reported by the traced run as well
_WORKLOAD = {
    "sql_p50_s": "s", "sql_tail_s": "s",
    "tx_write_p50_s": "s", "tx_write_tail_s": "s", "tx_read_p50_s": "s",
    "tx_read_tail_s": "s", "tx_write_amp": "ratio", "tx_space_amp": "ratio",
    "llm_dedup_index_s": "s", "llm_incremental_batch_s": "s",
    "forecast_job_s": "s", "ops_failed_ratio": "ratio",
}

UNITS = {f"{name}_s": "s" for name in _WRAPPED}
UNITS.update(_OP_LAYERS)
UNITS.update(_WAREHOUSE)
UNITS["llm.cachereg.persisted_rdds"] = "count"
UNITS["trace.overhead_ratio"] = "ratio"
UNITS.update(_WORKLOAD)


def install(tracer: tracing.Tracer) -> None:
    import importlib

    for span, (mod, owner, fn) in _WRAPPED.items():
        m = importlib.import_module(mod)
        tracer.wrap(getattr(m, owner) if owner else m, fn, span)
    tracer.count_py4j()


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def overhead_ratio(samples: list[dict]) -> float:
    by: dict[str, dict[bool, list[float]]] = {}
    for s in samples:
        by.setdefault(s["kind"], {True: [], False: []})[s["traced"]].append(s["s"])
    ratios = [statistics.median(v[True]) / statistics.median(v[False])
              for v in by.values() if v[True] and v[False]]
    return geomean(ratios) if ratios else 1.0


def report(tracer, ctx, samples: list[dict], work: str,
           detail: dict) -> dict[str, float]:
    traced = [s for s in samples if s["traced"]]
    ids = {s["i"] for s in traced}
    out = {k: 0.0 for k in UNITS}

    # named functions: mean seconds per call (get_spark: during set-up)
    tot = tracer.totals(ids | {None})
    for name in _WRAPPED:
        t, n = tot.get(name, (0.0, 0))
        out[f"{name}_s"] = t / n if n else 0.0
    n_ops = max(1, len(traced))
    out["plan.build_s"] = tracer.totals(ids).get("plan.build", (0.0, 0))[0] / n_ops
    out["py4j.calls"] = _mean(s["py4j"] for s in traced)
    out["llm.cachereg.persisted_rdds"] = _mean(s["persisted_rdds"] for s in traced)
    phases = [ctx.facts[i]["catalyst"] for i in ids
              if "catalyst" in ctx.facts.get(i, {})]
    if phases:
        for j, key in enumerate(("analyze", "optimize", "physical")):
            out[f"catalyst.{key}_s"] = _mean(p[j] for p in phases)

    log = tracing.event_log_file(os.path.join(work, "events"))
    per_op = tracing.parse_event_log(log) if log else {}
    recs = [per_op.get(s["i"]) for s in traced]
    got = [r for r in recs if r]
    for key, field in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                       ("spark.tasks", "tasks"), ("exec.run_s", "run_s"),
                       ("exec.cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
                       ("shuffle.read_bytes", "shuffle_read"),
                       ("shuffle.write_bytes", "shuffle_write"),
                       ("shuffle.spill_bytes", "spill")):
        out[key] = sum(r[field] for r in got) / n_ops
    out["spark.driver_gap_s"] = _mean(
        tracing.op_gap(s["start"], s["end"], per_op.get(s["i"])) for s in traced)
    out["exec.task_skew"] = _mean(r["task_skew"] for r in got if r["tasks"])

    wfacts = [ctx.facts[i] for i in ids if i in ctx.facts]
    written = [f["bytes_written"] for f in wfacts if "bytes_written" in f]
    out["warehouse.bytes_written"] = _mean(written)
    looks = [f["lookup"] for f in wfacts if "lookup" in f]
    if looks:
        out["warehouse.lookup_files_read"] = _mean(r for r, _, _ in looks)
        read = sum(r for r, _, _ in looks)
        out["warehouse.lookup_useful_ratio"] = (
            sum(u for _, _, u in looks) / read if read else 0.0)
    for key in ("files_live", "log_versions"):
        if key in detail:
            out[f"warehouse.{key}"] = detail[key]

    out["trace.overhead_ratio"] = overhead_ratio(samples)
    for key in _WORKLOAD:
        if key in detail:
            out[key] = detail[key]
    return out
