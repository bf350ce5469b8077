"""Metric definitions: end-to-end metrics from untraced samples, per-layer
metrics from a traced run. Names and units match BENCHMARK.json."""

from __future__ import annotations

import math

from perfbench.trace import mean, median
from perfbench.workloads import PIPELINES, QUERY, REWRITE, WRITE

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "query_ms.p50_gm": "ms",
    "ingest_rows_per_s": "rows/s",
    "scan_rows_per_s": "rows/s",
}

PER_LAYER_UNITS = {
    "catalog.meta.calls": "count",
    "catalog.meta.ms": "ms",
    "catalog.meta_bytes_per_op": "bytes",
    "catalog.version_files": "count",
    "catalog.materialize_ms": "ms",
    "arrowwrite.calls": "count",
    "arrowwrite.ms": "ms",
    "arrowwrite.spark_jobs": "count",
    "arrowwrite.bytes_per_user_byte": "ratio",
    "query.build_ms": "ms",
    "query.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.action_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.persisted_after": "count",
    "plans.files_scanned": "count",
    "plans.files_in_version": "count",
    "plans.prune_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.window_jobs": "count",
    # per op type, from the workload's layer_detail(); 0 on a workload that
    # runs no such op
    "operators.update.ms": "ms",
    "operators.update.jobs": "count",
    "operators.resample.build_ms": "ms",
    "operators.resample.action_ms": "ms",
    "plans.compact.ms": "ms",
    "plans.compact.files_before": "count",
    "plans.compact.files_after": "count",
    "catalog.finalize.ms": "ms",
    "catalog.finalize.jobs": "count",
    "catalog.batch.speedup": "ratio",
    **{f"extensions.{p}.{m}": unit for p in PIPELINES
       for m, unit in (("build_ms", "ms"), ("build_jobs", "count"),
                       ("action_ms", "ms"), ("executor_cpu_ms", "ms"),
                       ("shuffle_bytes", "bytes"), ("rows_out", "rows"))},
}

UNITS = {**END_TO_END_UNITS, **PER_LAYER_UNITS}


def _rate(count: float, ms: float) -> float:
    return count / (ms / 1000) if ms else 0.0


def _typed_median(samples) -> float:
    """Geometric mean over op types of each type's median latency. A median
    pooled over types of different cost would jump between them as their
    sample counts change from run to run."""
    by_name: dict[str, list[float]] = {}
    for s in samples:
        by_name.setdefault(s.name, []).append(s.ms)
    if not by_name:
        return 0.0
    logs = [math.log(median(ms)) for ms in by_name.values()]
    return math.exp(sum(logs) / len(logs))


def _typed_rate(samples, count) -> float:
    """``count(sample)`` summed per second of op latency, each op timed at
    its type's median: one slow op (a stall behind the JVM's background
    work) does not move it, and as every cycle runs the same op mix the
    weights of the types stay fixed."""
    by_name: dict[str, list[float]] = {}
    for s in samples:
        by_name.setdefault(s.name, []).append(s.ms)
    ms = sum(len(v) * median(v) for v in by_name.values())
    return _rate(sum(count(s) for s in samples), ms)


def end_to_end(samples, setup_s: float) -> dict:
    of = {cls: [s for s in samples if s.cls == cls]
          for cls in (WRITE, REWRITE, QUERY)}
    return {
        "setup_s": setup_s,
        "ops_per_s": _typed_rate(samples, lambda s: 1),
        "query_ms.p50_gm": _typed_median(of[QUERY]),
        "ingest_rows_per_s": _typed_rate(of[WRITE] + of[REWRITE],
                                         lambda s: s.ingest_rows),
        "scan_rows_per_s": _typed_rate(of[QUERY], lambda s: s.scan_rows),
    }


def by_op(samples) -> dict:
    """Latency per op type: sample count, median and highest percentile
    with at least ten samples beyond it."""
    out = {}
    for name in sorted({s.name for s in samples}):
        ms = sorted(s.ms for s in samples if s.name == name)
        row = {"n": len(ms), "p50_ms": median(ms),
               "failed": sum(1 for s in samples
                             if s.name == name and not s.ok),
               "ms": [round(s.ms, 3) for s in samples if s.name == name],
               "cpu_ms": [round(s.cpu_ms, 3) for s in samples
                          if s.name == name]}
        if len(ms) >= 100:
            row["p90_ms"] = ms[int(len(ms) * 0.9)]
        out[name] = row
    return out


def per_layer(tracer, cycles: dict, jobs: dict, cores: int,
              layer_detail: dict) -> dict:
    ops = tracer.ops
    totals = [tracer.op_totals(o.op_id) for o in ops]
    spans = tracer.spans
    actions = [s for s in spans if s.layer == "spark"]
    builds = [s for s in spans if s.layer == "query"]
    writes = [o for o in ops if o.cls == WRITE]
    reads = [o for o in ops
             if o.name.startswith("read.") and o.files_in_version]
    action_ms = sum(s.ms for s in actions)
    run_ms = sum(j["run_ms"] for s in actions for j in s.jobs)
    materialize = []
    for o in ops:
        parts = {s.name.rsplit(".", 1)[-1]: s.ms
                 for s in tracer.spans_of(o.op_id) if s.name.startswith("read.")}
        if {"build", "action", "pandas"} <= parts.keys():
            materialize.append(parts["pandas"] - parts["build"]
                               - parts["action"])
    scanned = sum(o.files_scanned for o in reads)
    in_version = sum(o.files_in_version for o in reads)
    user = sum(o.user_bytes for o in writes)
    values = {
        "catalog.meta.calls": mean(o.meta_calls for o in ops),
        "catalog.meta.ms": mean(o.meta_ms for o in ops),
        "catalog.meta_bytes_per_op": mean(o.meta_bytes for o in ops),
        "catalog.materialize_ms": median(materialize),
        "arrowwrite.calls": len(writes) / max(len(cycles[True]), 1),
        "arrowwrite.ms": median(o.ms for o in writes),
        "arrowwrite.spark_jobs": mean(
            tracer.op_totals(o.op_id)["jobs"] for o in writes),
        "arrowwrite.bytes_per_user_byte":
            sum(o.stored_bytes for o in writes) / user if user else 0.0,
        "query.build_ms": median(s.ms for s in builds),
        "query.build_jobs": mean(len(s.jobs) for s in builds),
        "spark.jobs": mean(t["jobs"] for t in totals),
        "spark.stages": mean(t["stages"] for t in totals),
        "spark.tasks": mean(t["tasks"] for t in totals),
        "spark.action_ms": median(s.ms for s in actions),
        "spark.executor_run_ms": mean(t["run_ms"] for t in totals),
        "spark.executor_cpu_ms": mean(t["cpu_ms"] for t in totals),
        "spark.busy_frac": run_ms / (action_ms * cores) if action_ms else 0.0,
        "spark.shuffle_write_bytes": mean(
            t["shuffle_write_bytes"] for t in totals),
        "spark.shuffle_read_bytes": mean(
            t["shuffle_read_bytes"] for t in totals),
        "spark.input_bytes": mean(t["input_bytes"] for t in totals),
        "spark.spill_bytes": mean(t["spill_bytes"] for t in totals),
        "spark.persisted_after": max((o.persisted_after for o in ops),
                                     default=0),
        "plans.files_scanned": mean(o.files_scanned for o in reads),
        "plans.files_in_version": mean(o.files_in_version for o in reads),
        "plans.prune_frac": 1 - scanned / in_version if in_version else 0.0,
        "trace.overhead_frac": (median(cycles[True])
                                / median(cycles[False][1:]) - 1),
        "trace.window_jobs": jobs.get("window_jobs", 0),
        **layer_detail,
    }
    return {k: values.get(k, 0.0) for k in PER_LAYER_UNITS}


def traced_by_op(tracer) -> dict:
    """Every per-layer quantity per op type, for the detail file."""
    out = {}
    for name in sorted({o.name for o in tracer.ops}):
        ops = [o for o in tracer.ops if o.name == name]
        tot = [tracer.op_totals(o.op_id) for o in ops]
        row = {"n": len(ops), "ms_p50": median(o.ms for o in ops)}
        for k in tot[0]:
            row[k] = mean(t[k] for t in tot)
        for layer in ("query", "spark", "catalog", "arrowwrite",
                      "operators", "plans", "extensions"):
            ms = [tracer.layer_ms(o.op_id, layer) for o in ops]
            if any(ms):
                row[f"{layer}_ms_p50"] = median(ms)
        row["meta_calls"] = mean(o.meta_calls for o in ops)
        row["meta_ms"] = mean(o.meta_ms for o in ops)
        row["persisted_after"] = max(o.persisted_after for o in ops)
        out[name] = row
    return out
