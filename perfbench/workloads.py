"""The benchmark's three workloads and their operations.

Each workload prepares its inputs and oracle answers (untimed, no Spark)
and then offers a list of ``Op``s. An op's ``timed`` callable is the
whole public-function call sequence that gets timed; ``check`` runs
afterwards, untimed, and returns ``None`` when the output is right or a
message saying what is wrong. ``full_check`` is the once-per-run value
comparison, run during the first warm-up pass.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import uuid
from dataclasses import dataclass
from typing import Any, Callable

import checks
import data

# Single-plan queries where exec dominates: four TPC-H-tagged queries, the
# exact-rank kernels (spearman's grain ranks, bucketed_rank_select) and a
# similarity join — the highest exec share per second of pass among the 21
# TPC-H queries and the extras, trimmed to fit the run-time budget.
ANALYTIC_OPS = (
    "spearman_rank_via_grain",
    "quantile_sample_error",
    "jaccard_shingle_pairs",
    "excess_share_suppliers",
    "min_cost_supplier",
    "shipping_priority_top10",
)

# The registry output etl_write materializes with write_parquet (the
# ``run NAME --out`` path): an iterative query stepped from Python, whose
# build (hundreds of small jobs, the cc_edge_set helper, leaked RDDs)
# dominates. With the reference pipeline and the streaming increment that
# makes three ops of well-separated latency, so the pooled median
# (op_p50_s) is this op's own median; and a pass short enough to repeat at
# least three times in a run, so each op's median has a middle sample.
ETL_REGISTRY_WRITES = ("dedup_connected_components",)

# The star tables are fixed (seed 42, like the engine's own test data):
# the run seed picks the op order, so every run does the same work.
STAR_SEED = 42


@dataclass
class Op:
    name: str
    timed: Callable[[Any], Any]
    check: Callable[[Any, Any], str | None]
    # Once-per-run value comparison (first warm-up pass); None means the
    # warm-up runs ``timed`` + ``check`` like any other pass.
    full_check: Callable[[Any], str | None] | None = None
    query: bool = False  # a registry query timed as build + exec


def execute(df) -> int:
    """Run a frame through its own QueryExecution and count the rows:
    consumes every row, ships only a count, and leaves the AQE-final plan
    behind for the traced plan walk."""
    return int(df._jdf.queryExecution().executedPlan().execute().count())


class Context:
    """What ops share within one run: the session and the tracer."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.last_checkpoint: str | None = None  # of the last streaming op


# ---------------------------------------------------------------------------
# Registry query workloads
# ---------------------------------------------------------------------------

def query_op(name: str, sf_dir: str, oracle: dict[str, tuple[int, str]]) -> Op:
    from ucl_data_pipeline_spark.plans import REGISTRY

    fn = REGISTRY[name].fn
    want_rows, want_hash = oracle[name]

    def timed(ctx):
        with ctx.tracer.span("plans.build"):
            df = fn(ctx.spark, sf_dir)
        with ctx.tracer.span("exec"):
            n = execute(df)
        return df, n

    def check(ctx, out):
        n = out[1]
        return None if n == want_rows else f"{name}: {n} rows, oracle {want_rows}"

    def full_check(ctx):
        df = fn(ctx.spark, sf_dir)
        rows = df.collect()
        if len(rows) != want_rows:
            return f"{name}: {len(rows)} rows, oracle {want_rows}"
        got = checks.value_hash(df.columns, rows)
        return None if got == want_hash else f"{name}: value hash differs from oracle"

    return Op(name, timed, check, full_check, query=True)


def oracle_answers(sf_dir: str, names, cache_dir: str) -> dict[str, tuple[int, str]]:
    """(row count, value hash) per query from its oracle SQL on DuckDB.

    Answers are cached under ``cache_dir`` keyed by a digest of the input
    files and the SQL, so repeated runs over the same generated tables skip
    the slow oracles (some recursive ones take seconds)."""
    from ucl_data_pipeline_spark.plans import REGISTRY

    sqls = {n: REGISTRY[n].oracle for n in names}
    missing = [n for n, sql in sqls.items() if sql is None]
    if missing:
        raise ValueError(f"no oracle for {missing}")
    h = hashlib.sha256()
    for t in data.STAR_TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    for n in sorted(sqls):
        h.update(f"{n}\0{sqls[n]}\0".encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return {k: tuple(v) for k, v in json.load(fh).items()}
    orc = checks.Oracle(sf_dir, data.STAR_TABLES)
    try:
        out = {n: orc.result(sql) for n, sql in sqls.items()}
    finally:
        orc.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def registry_workload(work: str, cache: str, names, sf: float) -> list[Op]:
    sf_dir = os.path.join(work, "star")
    data.write_star_tables(sf_dir, sf, STAR_SEED)
    oracle = oracle_answers(sf_dir, names, cache)
    return [query_op(n, sf_dir, oracle) for n in names]


# ---------------------------------------------------------------------------
# etl_write: reference pipeline, registry writes, streaming increment
# ---------------------------------------------------------------------------

def _csv_rows(path: str) -> int:
    """Data rows across a headered CSV output directory."""
    total = 0
    for part in glob.glob(os.path.join(path, "part-*.csv")):
        with open(part, "rb") as fh:
            total += max(0, sum(1 for _ in fh) - 1)
    return total


def pipeline_op(inp: str, out: str, expect: dict[str, int]) -> Op:
    """The reference daily batch for the matches fact, through public
    functions: CSV scans with declared schemas, the seven-table enrich
    chain, the canonical HIST projection, the CSV sink and the validation
    report. (The upcoming-fixtures fact runs the same chain; it is left out
    to fit the run-time budget.)"""
    from pyspark.sql import types as T

    from ucl_data_pipeline_spark import sources
    from ucl_data_pipeline_spark.operators import pipeline, validate
    from ucl_data_pipeline_spark.schemas import HIST_MATCHES, REFERENCE_SCHEMAS

    matches_schema = T.StructType(
        list(HIST_MATCHES.fields) + [T.StructField("ref_name", T.StringType())]
    )
    hist_cols = [f.name for f in HIST_MATCHES.fields]
    hist_dir = os.path.join(out, "hist")

    def timed(ctx):
        spark = ctx.spark
        matches = sources.read_csv(
            spark, os.path.join(inp, "matches.csv"), matches_schema
        )
        dims = [
            sources.safe_read_csv(
                spark, os.path.join(inp, f"{n}.csv"), REFERENCE_SCHEMAS[n]
            )
            for n in data.ETL_SIDE_TABLES
        ]
        hist = pipeline.build_hist(pipeline.enrich_matches(matches, *dims))
        sources.write_csv(hist, hist_dir)
        return validate.validation_report({"hist": hist}, {"hist": HIST_MATCHES})

    def check(ctx, reports):
        rep, n = reports["hist"], expect["matches"]
        problems = []
        if rep.columns != hist_cols or rep.missing_columns:
            problems.append(f"hist: columns {rep.columns}")
        if rep.n_rows != n:
            problems.append(f"hist: {rep.n_rows} rows after the joins, input {n}")
        written = _csv_rows(hist_dir)
        if written != n:
            problems.append(f"hist: {written} rows written, input {n}")
        return "; ".join(problems) or None

    return Op("reference_pipeline", timed, check)


def write_op(name: str, sf_dir: str, out: str, oracle: dict) -> Op:
    from ucl_data_pipeline_spark import sources
    from ucl_data_pipeline_spark.plans import REGISTRY

    fn = REGISTRY[name].fn
    want, want_hash = oracle[name]

    def timed(ctx):
        with ctx.tracer.span("plans.build"):
            df = fn(ctx.spark, sf_dir)
        sources.write_parquet(df, out)

    def check(ctx, _):
        n = checks.parquet_rows(out)
        return None if n == want else f"write:{name}: read back {n} rows, oracle {want}"

    def full_check(ctx):
        timed(ctx)
        got = checks.parquet_hash(out)
        return None if got == want_hash else f"write:{name}: values differ from oracle"

    return Op(f"write:{name}", timed, check, full_check)


def stream_op(events_dir: str, work: str, want_hash: str) -> Op:
    from ucl_data_pipeline_spark import streaming

    def timed(ctx):
        ckpt = os.path.join(work, f"ckpt-{uuid.uuid4().hex[:8]}")
        ctx.last_checkpoint = ckpt
        stream = streaming.tumbling_window_stream(
            streaming.read_events_stream(ctx.spark, events_dir)
        )
        return streaming.run_available_now(stream, ckpt, output_mode="complete")

    def check(ctx, res):
        got = checks.value_hash(res.columns, res.collect())
        # Release the in-memory sink's table along with the op's other state.
        for t in ctx.spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("mem_"):
                ctx.spark.catalog.dropTempView(t.name)
        return None if got == want_hash else "stream: window totals differ from batch"

    return Op("stream_increment", timed, check)


def etl_workload(work: str, cache: str, seed: int, sf: float,
                 n_matches: int) -> list[Op]:
    inp = os.path.join(work, "etl-in")
    out = os.path.join(work, "etl-out")
    expect = data.write_etl_inputs(inp, seed, n_matches)
    sf_dir = os.path.join(work, "star")
    data.write_star_tables(sf_dir, sf, STAR_SEED)
    oracle = oracle_answers(sf_dir, ETL_REGISTRY_WRITES, cache)
    events_dir = os.path.join(inp, "events")
    want = checks.window_totals_oracle(events_dir)
    return (
        [pipeline_op(inp, out, expect)]
        + [write_op(n, sf_dir, os.path.join(out, n), oracle)
           for n in ETL_REGISTRY_WRITES]
        + [stream_op(events_dir, work, want)]
    )
