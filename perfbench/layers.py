"""Per-layer metrics of a traced run.

``layer_sample`` turns one traced op execution (its spans, the Spark jobs
attributed to them, its plan's SQL metrics) into per-layer numbers;
``per_layer_metrics`` folds the samples into per-pass figures the same way
``pass_s`` is built: each op's median, summed over the workload's ops.
"""

from __future__ import annotations

import os
import statistics

import tracing

# Per-layer metrics of a traced run: name -> unit.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.py_cpu_s": "s",
    "plans.build_share": "ratio",
    "plans.leaked_rdds": "count",
    "plans.leaked_mb": "MB",
    "plans.range_bucket_s": "s",
    "plans.range_bucket_jobs": "count",
    "plans.bucketed_rank_select_s": "s",
    "plans.bucketed_rank_select_jobs": "count",
    "plans.rep_frames_s": "s",
    "plans.rep_frames_jobs": "count",
    "plans.cc_edge_set_s": "s",
    "plans.cc_edge_set_jobs": "count",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.write_s": "s",
    "sources.write_jobs": "count",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.write_plus_streaming_s": "s",
    "operators.enrich_s": "s",
    "operators.enrich_jobs": "count",
    "operators.validate_s": "s",
    "operators.validate_jobs": "count",
    "streaming.run_s": "s",
    "streaming.jobs": "count",
    "streaming.checkpoint_bytes": "bytes",
    "exec.exec_s": "s",
    "exec.exec_share": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes",
    "exec.peak_op_memory_bytes": "bytes",
    "exec.scan_rows": "count",
    "exec.broadcast_bytes": "bytes",
    "exec.python_rows": "count",
    "process.jvm_cpu_s": "s",
    "process.steal_s": "s",
    "trace.pass_s_traced": "s",
    "trace.pass_s_untraced": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
    "trace.unattributed_jobs": "count",
    "trace.build_jobs_varying_ops": "count",
    "trace.exec_jobs_varying_ops": "count",
    "trace.leaked_rdds_varying_ops": "count",
}

# Span name -> per-layer self-time metric.
SELF_TIME = {
    "plans": "plans.build_s",
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "operators.enrich": "operators.enrich_s",
    "operators.validate": "operators.validate_s",
    "streaming.run": "streaming.run_s",
    "exec": "exec.exec_s",
    "op": "trace.unaccounted_s",
}
# Span name -> per-layer job-count metric (jobs attributed by job group).
JOB_COUNT = {
    "plans": "plans.build_jobs",
    "sources.read": "sources.read_jobs",
    "sources.write": "sources.write_jobs",
    "operators.enrich": "operators.enrich_jobs",
    "operators.validate": "operators.validate_jobs",
    "streaming.run": "streaming.jobs",
    "exec": "exec.jobs",
}
HELPERS = ("range_bucket", "bucketed_rank_select", "rep_frames", "cc_edge_set")
MAX_METRICS = {"exec.peak_op_memory_bytes"}


def span_layer(name: str) -> str:
    return "plans" if name.startswith("plans.") else name


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` (Hadoop's
    ``_SUCCESS`` markers and ``.crc`` sidecars are not data)."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def layer_sample(tracer, ledger_jobs, op_id, ctx, df) -> dict[str, float]:
    """Per-layer numbers of one traced op execution."""
    spans = tracer.op_spans(op_id)
    by_id = {s["id"]: s for s in spans}
    selfs = tracing.self_times(spans)
    out = {m: 0.0 for m in PER_LAYER}

    def ancestors(s):
        p = s["parent"]
        while p is not None and p in by_id:
            yield by_id[p]
            p = by_id[p]["parent"]

    child_cpu = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child_cpu:
            child_cpu[s["parent"]] += s["py_cpu"]
    for s in spans:
        layer = span_layer(s["name"])
        if layer in SELF_TIME:
            out[SELF_TIME[layer]] += selfs[s["id"]]
        if layer == "plans":
            out["plans.py_cpu_s"] += s["py_cpu"] - child_cpu[s["id"]]
        outer = list(ancestors(s))
        if s["name"] == "sources.read" and not any(
            a["name"] == "sources.read" for a in outer
        ):
            out["sources.read_calls"] += 1
        for h in HELPERS:
            if s["name"] == f"plans.{h}" and not any(
                a["name"] == s["name"] for a in outer
            ):
                out[f"plans.{h}_s"] += s["end"] - s["start"]
        if s["name"] == "sources.write" and s.get("path"):
            b, f = dir_bytes(s["path"])
            out["sources.bytes_written"] += b
            out["sources.files_written"] += f

    has_stream = any(s["name"] == "streaming.run" for s in spans)
    for j in ledger_jobs:
        g = j["group"] or ""
        sid = int(g[2:]) if g.startswith("pb") and g[2:].isdigit() else None
        s = by_id.get(sid)
        if s is None:
            if has_stream:
                out["streaming.jobs"] += 1
            else:
                out["trace.unattributed_jobs"] += 1
            continue
        layer = span_layer(s["name"])
        if layer in JOB_COUNT:
            out[JOB_COUNT[layer]] += 1
        for a in [s] + list(ancestors(s)):
            for h in HELPERS:
                if a["name"] == f"plans.{h}":
                    out[f"plans.{h}_jobs"] += 1
        if layer == "exec":
            out["exec.stages"] += j["stages"]
            out["exec.tasks"] += j["tasks"]
            out["exec.task_busy_s"] += j["run_ms"] / 1e3
            out["exec.task_cpu_s"] += j["cpu_ns"] / 1e9
            out["exec.gc_s"] += j["gc_ms"] / 1e3
    if has_stream and ctx.last_checkpoint:
        out["streaming.checkpoint_bytes"] += dir_bytes(ctx.last_checkpoint)[0]
    if df is not None:
        for k, v in tracing.plan_metrics(df).items():
            out[f"exec.{k}"] = v
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_sum(samples: dict[str, list[float]]) -> float:
    """Sum over ops of each op's median latency."""
    return sum(median(v) for v in samples.values() if v)


def per_layer_metrics(ops, layer_samples, traced, untraced, leaks,
                      timed_passes, start_s, warmup_s, cores) -> dict:
    """Per pass: each op's median per metric over its traced samples,
    summed over ops (peaks: the max over ops)."""
    out = {m: 0.0 for m in PER_LAYER}
    for op in ops:
        ss = layer_samples[op.name]
        if not ss:
            continue
        for m in ss[0]:
            v = median([s[m] for s in ss])
            out[m] = max(out[m], v) if m in MAX_METRICS else out[m] + v
        for metric, key in (
            ("trace.build_jobs_varying_ops", "plans.build_jobs"),
            ("trace.exec_jobs_varying_ops", "exec.jobs"),
        ):
            if len({s[key] for s in ss}) > 1:
                out[metric] += 1
        if len(set(leaks[op.name])) > 1:
            out["trace.leaked_rdds_varying_ops"] += 1
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s
    out["trace.pass_s_traced"] = pass_sum(traced)
    both = [op.name for op in ops if traced[op.name] and untraced[op.name]]
    out["trace.pass_s_untraced"] = pass_sum({k: untraced[k] for k in both})
    out["trace.overhead_s"] = (
        pass_sum({k: traced[k] for k in both}) - out["trace.pass_s_untraced"]
    )
    pass_s = out["trace.pass_s_traced"] or 1.0
    out["plans.build_share"] = out["plans.build_s"] / pass_s
    out["exec.exec_share"] = out["exec.exec_s"] / pass_s
    out["sources.write_plus_streaming_s"] = (
        out["sources.write_s"] + out["streaming.run_s"]
    )
    out["exec.core_util"] = (
        out["exec.task_busy_s"] / (out["exec.exec_s"] * cores)
        if out["exec.exec_s"] else 0.0
    )
    out["process.jvm_cpu_s"] = median([p["jvm_cpu_s"] for p in timed_passes])
    out["process.steal_s"] = median([p["steal_s"] for p in timed_passes])
    return out
