"""Tracing from outside the program.

Spans are recorded around calls into the engine's layers by rebinding
the layer entry points in the benchmark's own process (``install``);
no program file changes. Each span sets a Spark job group, so the jobs,
stages and task metrics Spark's status store holds can be attributed to
the span that caused them. The exec-side byte/row/memory numbers come
from a walk of the AQE-final physical plan's SQL metrics.

Everything is kept in memory and written out once the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import urllib.request
from contextlib import contextmanager

# (defining module, function name, span name). Every module that bound
# the function by name gets the wrapper, so both ``from x import f``
# call sites and late imports see it.
LAYER_ENTRY_POINTS = (
    ("ucl_data_pipeline_spark.sources.io", "read_table", "sources.read"),
    ("ucl_data_pipeline_spark.sources.io", "read_csv", "sources.read"),
    ("ucl_data_pipeline_spark.sources.io", "safe_read_csv", "sources.read"),
    ("ucl_data_pipeline_spark.sources.io", "write_csv", "sources.write"),
    ("ucl_data_pipeline_spark.sources.io", "write_parquet", "sources.write"),
    ("ucl_data_pipeline_spark.plans.registry", "range_bucket", "plans.range_bucket"),
    ("ucl_data_pipeline_spark.plans.extras22", "bucketed_rank_select",
     "plans.bucketed_rank_select"),
    ("ucl_data_pipeline_spark.plans.llm_ops", "_rep_frames", "plans.rep_frames"),
    ("ucl_data_pipeline_spark.plans.llm_ops", "cc_edge_set", "plans.cc_edge_set"),
    ("ucl_data_pipeline_spark.operators.pipeline", "enrich_matches",
     "operators.enrich"),
    ("ucl_data_pipeline_spark.operators.validate", "validation_report",
     "operators.validate"),
    ("ucl_data_pipeline_spark.streaming.windows", "run_available_now",
     "streaming.run"),
)

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Span recorder. Disabled, ``span`` is a bare ``yield``."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(f"pb{sid}", name)
        rec["cpu0"] = time.process_time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py_cpu"] = time.process_time() - rec.pop("cpu0")
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(f"pb{parent}", self.spans[parent]["name"])

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover (children
    of one span never overlap: one client, one call at a time)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def install(tracer: Tracer) -> None:
    """Rebind each layer entry point to a span-recording wrapper."""
    for mod_name, attr, span_name in LAYER_ENTRY_POINTS:
        mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
        orig = getattr(mod, attr)

        def make(orig=orig, span_name=span_name):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with tracer.span(span_name) as rec:
                    if rec is not None and span_name == "sources.write":
                        rec["path"] = args[1] if len(args) > 1 else kwargs["path"]
                    return orig(*args, **kwargs)
            return wrapper

        wrapped = make()
        for m in list(sys.modules.values()):
            d = getattr(m, "__dict__", None)
            if not d:
                continue
            for k, v in list(d.items()):
                if v is orig:
                    setattr(m, k, wrapped)


# ---------------------------------------------------------------------------
# Spark-side numbers
# ---------------------------------------------------------------------------

class JobLedger:
    """Attributes Spark jobs and their stages' task metrics to spans via
    the job group each span sets. Reads the status store through the
    Spark UI's REST API after draining the listener bus."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.base = None
        if sc.uiWebUrl:
            self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1
        self.seen_stages: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self) -> list[dict]:
        """Jobs finished since the previous call, each with its group and
        the summed metrics of the stages it ran (a stage reused by a later
        job counts once, for the job that ran it)."""
        if self.base is None:
            return []
        self.drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
        if not jobs:
            return []
        stages = {
            s["stageId"]: s
            for s in self._get("/stages")
            if s["status"] in ("COMPLETE", "FAILED")
        }
        out = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            rec = {
                "job": j["jobId"], "group": j.get("jobGroup"), "stages": 0,
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            }
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                rec["stages"] += 1
                rec["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                rec["run_ms"] += s.get("executorRunTime", 0)
                rec["cpu_ns"] += s.get("executorCpuTime", 0)
                rec["gc_ms"] += s.get("jvmGcTime", 0)
            out.append(rec)
        self.last_job = max(j["jobId"] for j in jobs)
        return out


_PY_NODES = ("Python", "Pandas", "Arrow")


def plan_metrics(df) -> dict[str, float]:
    """Walk the AQE-final physical plan of an executed frame and sum the
    SQL metrics the per-layer table names."""
    out = {
        "shuffle_write_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
        "peak_op_memory_bytes": 0, "scan_rows": 0, "broadcast_bytes": 0,
        "python_rows": 0,
    }
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue  # counted where the reused plan first appears
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        name = node.nodeName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out["shuffle_write_bytes"] += metrics.get("shuffleBytesWritten", 0)
        out["shuffle_records"] += metrics.get("shuffleRecordsWritten", 0)
        out["spill_bytes"] += metrics.get("spillSize", 0)
        out["peak_op_memory_bytes"] = max(
            out["peak_op_memory_bytes"], metrics.get("peakMemory", 0)
        )
        if "Scan" in name:
            out["scan_rows"] += metrics.get("numOutputRows", 0)
        if cls == "BroadcastExchangeExec":
            out["broadcast_bytes"] += metrics.get("dataSize", 0)
        if any(t in cls for t in _PY_NODES):
            out["python_rows"] += metrics.get("pythonNumRowsReceived", 0)
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                todo.append(seq.apply(i))
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def host_steal_s() -> float:
    """Host-wide steal seconds so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0
