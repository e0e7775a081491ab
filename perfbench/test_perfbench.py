"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The generator and metric-name tests need no Spark; the rest share one
small local session.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.csv as pacsv
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import data  # noqa: E402
import layers  # noqa: E402
import run as bench  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(d, n), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_etl_inputs_depend_only_on_seed(tmp_path):
    a = data.write_etl_inputs(str(tmp_path / "a"), 7, 300)
    b = data.write_etl_inputs(str(tmp_path / "b"), 7, 300)
    data.write_etl_inputs(str(tmp_path / "c"), 8, 300)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_star_tables_depend_only_on_seed(tmp_path):
    data.write_star_tables(str(tmp_path / "a"), 0.001, 42)
    data.write_star_tables(str(tmp_path / "b"), 0.001, 42)
    data.write_star_tables(str(tmp_path / "c"), 0.001, 43)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_etl_dimension_keys_are_unique(tmp_path):
    data.write_etl_inputs(str(tmp_path), 3, 2000)

    def col(table, *names):
        t = pacsv.read_csv(str(tmp_path / f"{table}.csv"))
        return list(zip(*(t.column(n).to_pylist() for n in names)))

    for table, key in (
        ("team_name_map", ("raw",)), ("teams_master", ("team",)),
        ("stadiums", ("team",)), ("ref_baselines", ("ref_name",)),
        ("xg_metrics_hybrid", ("team",)), ("injuries", ("date", "team")),
        ("lineups", ("date", "team")),
    ):
        keys = col(table, *key)
        assert len(keys) == len(set(keys)), table
    # A raw alias never collides with a canonical name, so normalizing the
    # dimension side cannot create duplicate keys either.
    raw = {r for (r,) in col("team_name_map", "raw")}
    assert not raw & {t for (t,) in col("teams_master", "team")}


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)


def test_result_line_names_every_metric_with_its_unit():
    class Counts:
        attempted, failed = 4, 1

    for units in (bench.END_TO_END, layers.PER_LAYER):
        line = bench.result_line(Counts, {k: 1.5 for k in units}, units)
        parsed = json.loads(json.dumps(line))
        assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
        assert parsed["correct"] is False
        assert parsed["metrics"] == {
            k: {"value": 1.5, "unit": u} for k, u in units.items()
        }


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert checks.value_hash(["x", "y", "z"], rows) == checks.value_hash(
        ["z", "x", "y"], [(None, 2, "b"), (2.5, 1, "a")]
    )
    assert checks.value_hash(["x", "y", "z"], rows) != checks.value_hash(
        ["x", "y", "z"], [(1, "a", 2.5), (2, "b", 0.0)]
    )


# ---------------------------------------------------------------------------
# With a Spark session
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("bench"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = bench.start_session(work)
    sf_dir = os.path.join(work, "star")
    data.write_star_tables(sf_dir, 0.001, workloads.STAR_SEED)
    yield spark, work, sf_dir
    spark.stop()


def test_release_leaves_no_persistent_rdds(env):
    spark = env[0]
    before = bench.persistent_rdd_ids(spark)
    spark.range(1000).persist().count()
    rdd = spark.sparkContext.parallelize(range(100)).cache()
    rdd.count()
    spark.range(100).localCheckpoint()
    released, _ = bench.release(spark, before)
    assert released >= 3
    assert bench.persistent_rdd_ids(spark) == before == set()


def test_injected_wrong_result_raises_error_rate(env):
    spark, work, sf_dir = env
    name = "shipping_priority_top10"
    oracle = workloads.oracle_answers(sf_dir, [name], os.path.join(work, "cache"))
    rows, value = oracle[name]
    tracer = tracing.Tracer(spark, enabled=False)
    runner = bench.Runner(spark, workloads.Context(spark, tracer), tracer)

    good = workloads.query_op(name, sf_dir, oracle)
    assert runner.run_op(good, full=True)["lat"] is None  # full check: untimed
    assert runner.run_op(good)["lat"] > 0
    assert (runner.attempted, runner.failed, runner.error_rate) == (2, 0, 0.0)

    wrong_count = workloads.query_op(name, sf_dir, {name: (rows + 1, value)})
    assert runner.run_op(wrong_count)["lat"] is None
    wrong_value = workloads.query_op(name, sf_dir, {name: (rows, "0:bad")})
    runner.run_op(wrong_value, full=True)
    assert (runner.attempted, runner.failed) == (4, 2)
    assert runner.error_rate == 0.5


def test_traced_op_spans_account_for_its_latency(env):
    spark, work, sf_dir = env
    name = "shipping_priority_top10"
    oracle = workloads.oracle_answers(sf_dir, [name], os.path.join(work, "cache"))
    tracer = tracing.Tracer(spark, enabled=True)
    tracing.install(tracer)
    ledger = tracing.JobLedger(spark)
    ctx = workloads.Context(spark, tracer)
    runner = bench.Runner(spark, ctx, tracer, ledger)
    op = workloads.query_op(name, sf_dir, oracle)
    ledger.collect()
    tracer.op_id = (0, name)
    r = runner.run_op(op)
    tracer.enabled = False
    sample = layers.layer_sample(tracer, r["jobs"], tracer.op_id, ctx, r["out"][0])

    names = {s["name"] for s in tracer.op_spans(tracer.op_id)}
    assert {"op", "plans.build", "sources.read", "exec"} <= names
    assert sample["exec.jobs"] >= 1 and sample["exec.tasks"] >= 1
    assert sample["exec.scan_rows"] > 0
    assert sample["sources.read_calls"] >= 1
    assert sample["trace.unattributed_jobs"] == 0
    accounted = sum(
        sample[m] for m in (
            "plans.build_s", "sources.read_s", "exec.exec_s",
            "trace.unaccounted_s",
        )
    )
    assert accounted == pytest.approx(r["lat"], abs=0.05)
    assert sample["trace.unaccounted_s"] < 0.05
