"""spark-graft benchmark: one closed-loop client driving the engine's
public functions, one operation at a time.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 28 --trace 0

Run from the repository root. A run generates its inputs from the seed,
starts a session (``local[$SPARK_GRAFT_CPUS]``, default ``nproc``), runs
a fixed number of untimed warm-up passes (the first one compares every
op's full output with its oracle), then times whole passes for
``--seconds`` seconds. Each pass runs every op of the workload once, in
an order drawn from the seed; after every op the benchmark releases what
the op left persisted. The last stdout line is the result JSON; the line
before it is the run context (versions, cores, per-pass JVM CPU and host
steal). See README.md for the metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

# Per workload: star-table scale factor and warm-up passes (a fixed count,
# so setup_s repeats). etl_write also sizes its generated matches fact; its
# job-bound pass times still fall by about a fifth from the second pass to
# the third, so it warms up for two passes.
WORKLOADS = {
    "analytic": {"sf": 0.02, "warmup": 1},
    "etl_write": {"sf": 0.001, "warmup": 2, "n_matches": 5_000},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def release(spark, before: set[int], measure: bool = False) -> tuple[int, float]:
    """Unpersist every RDD persisted since ``before`` and clear the SQL
    cache. Returns (RDDs released, their cached MB when ``measure``)."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    leaked = [k for k in rdds.keySet().toArray() if k not in before]
    mb = 0.0
    if measure and leaked:
        ids = set(leaked)
        for info in jsc.sc().getRDDStorageInfo():
            if info.id() in ids:
                mb += (info.memSize() + info.diskSize()) / 1e6
    for k in leaked:
        rdds.get(k).unpersist(True)
    spark.catalog.clearCache()
    return len(leaked), mb


def main(argv=None) -> int:
    args = parse_args(argv)
    cfg = WORKLOADS[args.workload]
    os.environ["TZ"] = "UTC"
    time.tzset()
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    base = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Every JVM the run starts (Spark's launcher and the Spark JVM) keeps its
    # temp files in the work dir and writes no perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
    )))
    tempfile.tempdir = None
    try:
        return run(args, cfg, nproc, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gw is None:
        return
    gw.shutdown()
    # The gateway JVM exits when its stdin pipe closes.
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """Runs ops one at a time: times them, checks their outputs and
    releases what they left persisted. Counts attempts and failures."""

    def __init__(self, spark, ctx, tracer, ledger=None) -> None:
        self.spark = spark
        self.ctx = ctx
        self.tracer = tracer
        self.ledger = ledger
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    @property
    def error_rate(self) -> float:
        return self.failed / max(1, self.attempted)

    def run_op(self, op, full: bool = False) -> dict:
        """Run ``op`` once; ``full`` runs its once-per-run value check
        instead, where it has one. Returns the latency (None if the op
        raised or its check failed), the timed output, its Spark jobs when
        traced, and what the release freed."""
        traced = self.tracer.enabled
        self.attempted += 1
        before = persistent_rdd_ids(self.spark)
        res = {"lat": None, "out": None, "jobs": []}
        msg = None
        try:
            if full and op.full_check is not None:
                msg = op.full_check(self.ctx)
            else:
                with self.tracer.span("op"):
                    t = time.perf_counter()
                    res["out"] = op.timed(self.ctx)
                    res["lat"] = time.perf_counter() - t
                if traced:
                    res["jobs"] = self.ledger.collect()
                msg = op.check(self.ctx, res["out"])
        except Exception as exc:  # an op that raises counts as failed
            msg = f"{op.name} raised {type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        if msg:
            self.failed += 1
            self.problems.append(msg)
            res["lat"] = None
            print(f"check failed: {msg}", file=sys.stderr)
        res["leaked"], res["mb"] = release(self.spark, before, measure=traced)
        if traced:
            self.ledger.collect()  # jobs the checks ran belong to no op
        return res


def start_session(work: str):
    from ucl_data_pipeline_spark import get_spark

    spark = get_spark(
        "perfbench",
        extra_confs={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_ops(workload: str, cfg: dict, work: str, seed: int):
    import workloads as wl

    cache = os.path.join(ROOT, ".perfbench-cache")
    if workload == "etl_write":
        return wl.etl_workload(work, cache, seed, cfg["sf"], cfg["n_matches"])
    return wl.registry_workload(work, cache, wl.ANALYTIC_OPS, cfg["sf"])


def run(args, cfg: dict, nproc: int, work: str) -> int:
    import ucl_data_pipeline_spark.plans  # noqa: F401  (counted in setup)

    t_imported = time.perf_counter()
    import layers
    import tracing
    import workloads as wl

    # Inputs and oracle answers are the benchmark's own work, not setup.
    t_prepare = time.perf_counter()
    ops = make_ops(args.workload, cfg, work, args.seed)
    prepare_s = time.perf_counter() - t_prepare

    t_session = time.perf_counter()
    spark = start_session(work)
    start_s = (t_imported - T_PROCESS) + (time.perf_counter() - t_session)

    tracer = tracing.Tracer(spark, enabled=False)
    ledger = None
    if args.trace:
        ledger = tracing.JobLedger(spark)
        tracing.install(tracer)
    ctx = wl.Context(spark, tracer)
    runner = Runner(spark, ctx, tracer, ledger)
    jvm = tracing.jvm_pid(spark)
    rng = random.Random(args.seed)
    passes: list[dict] = []

    def pass_stats(t0, cpu0, steal0, kind, n_ops):
        passes.append({
            "kind": kind, "ops": n_ops,
            "wall_s": round(time.perf_counter() - t0, 4),
            "jvm_cpu_s": round(tracing.proc_cpu_s(jvm) - cpu0, 3),
            "steal_s": round(tracing.host_steal_s() - steal0, 3),
        })

    def counters():
        return time.perf_counter(), tracing.proc_cpu_s(jvm), tracing.host_steal_s()

    # Warm-up: a fixed number of untimed passes, the first one checking
    # every op's full output against its oracle.
    t_warm = time.perf_counter()
    for p in range(cfg["warmup"]):
        t0, c0, s0 = counters()
        for op in rng.sample(ops, len(ops)):
            runner.run_op(op, full=p == 0)
        pass_stats(t0, c0, s0, "warmup", len(ops))
    warmup_s = time.perf_counter() - t_warm

    # Timed passes until the deadline; the first timed pass always
    # completes so every op has a sample. A traced run traces each op on
    # alternate passes (half the ops on even passes, half on odd ones), so
    # one run also yields the tracing overhead without favouring a pass;
    # it completes two passes so every op has a traced and an untraced
    # sample.
    min_passes = 2 if args.trace else 1
    untraced: dict[str, list[float]] = {op.name: [] for op in ops}
    traced: dict[str, list[float]] = {op.name: [] for op in ops}
    layer_samples: dict[str, list[dict]] = {op.name: [] for op in ops}
    leaks: dict[str, list[int]] = {op.name: [] for op in ops}
    t_run = time.perf_counter()
    n_pass = 0
    done = False
    while not done:
        t0, c0, s0 = counters()
        n_ops = 0
        for op in rng.sample(ops, len(ops)):
            # After the required passes, stop before an op that would end
            # past the deadline (judged by its previous latency).
            last = (untraced[op.name] or traced[op.name] or [0.0])[-1]
            if (n_pass >= min_passes
                    and time.perf_counter() - t_run + last > args.seconds):
                done = True
                break
            tracer.enabled = bool(args.trace) and (n_pass + ops.index(op)) % 2 == 0
            if tracer.enabled:
                ledger.collect()  # skip the jobs of untraced ops
            tracer.op_id = (n_pass, op.name)
            r = runner.run_op(op)
            n_ops += 1
            leaks[op.name].append(r["leaked"])
            if r["lat"] is None:
                continue
            (traced if tracer.enabled else untraced)[op.name].append(r["lat"])
            if tracer.enabled:
                df = r["out"][0] if op.query else None
                sample = layers.layer_sample(tracer, r["jobs"], tracer.op_id, ctx, df)
                sample["plans.leaked_rdds"] = r["leaked"]
                sample["plans.leaked_mb"] = r["mb"]
                layer_samples[op.name].append(sample)
        pass_stats(t0, c0, s0, "timed", n_ops)
        n_pass += 1
    tracer.enabled = False

    full_passes = [p for p in passes if p["kind"] == "timed" and p["ops"] == len(ops)]
    # Pool the samples of complete passes only, so every op weighs the same.
    n_full = len(full_passes)
    pooled = sorted(x for v in untraced.values() for x in v[:n_full])
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "sf": cfg["sf"], "warmup_passes": cfg["warmup"],
        "ops": [op.name for op in ops],
        "prepare_s": round(prepare_s, 3),
        "op_median_s": {
            k: round(layers.median(v), 4) for k, v in untraced.items() if v
        },
        "op_samples_s": {k: [round(x, 4) for x in v] for k, v in untraced.items()},
        "samples": sum(len(v) for d in (untraced, traced) for v in d.values()),
        "passes": passes,
        "leaked_rdds_per_op": {k: v for k, v in leaks.items() if any(v)},
        "attempted": runner.attempted, "failed": runner.failed,
        "error_rate": runner.error_rate,
        "problems": runner.problems[:20],
    }
    # A 90th percentile needs at least 10 samples beyond it.
    if len(pooled) >= 100:
        context["op_p90_s"] = pooled[int(0.9 * len(pooled)) - 1]
        context["op_p90_samples"] = len(pooled)

    if args.trace:
        metrics = layers.per_layer_metrics(
            ops, layer_samples, traced, untraced, leaks, full_passes,
            start_s, warmup_s, int(os.environ["SPARK_GRAFT_CPUS"]),
        )
        out_path = os.path.join(
            HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl"
        )
        tracer.write(out_path)
        context["spans_file"] = out_path
        units = layers.PER_LAYER
    else:
        metrics = {
            "setup_s": start_s + warmup_s,
            "pass_s": layers.pass_sum(untraced),
            # The low median is an actual sample: with a few ops of very
            # different latency, averaging the two middle samples would mix
            # two ops and swing with both.
            "op_p50_s": statistics.median_low(pooled),
        }
        units = END_TO_END
    print(json.dumps({"context": context}))
    print(json.dumps(result_line(runner, metrics, units)), flush=True)
    return 0


def result_line(runner, metrics: dict, units: dict) -> dict:
    """The result object: every metric of ``units`` by name, with its unit."""
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
