"""File sinks and ``Observed``: rows counted inside the job that already
runs. Every call that waits on an observation runs under a timeout, so
an observation that never completes fails the test instead of hanging
the suite."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ucl_data_pipeline_spark.operators.pipeline import build_hist, enrich_matches
from ucl_data_pipeline_spark.operators.validate import summarize
from ucl_data_pipeline_spark.schemas import HIST_MATCHES, REFERENCE_SCHEMAS
from ucl_data_pipeline_spark.sources.io import (
    Observed,
    safe_read_csv,
    write_csv,
    write_parquet,
    written,
)

TIMEOUT_S = 180

SCHEMA = T.StructType(
    [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
)

# enrich_matches' side tables, in argument order.
SIDE_TABLES = (
    "team_name_map", "teams_master", "stadiums", "ref_baselines",
    "injuries", "lineups", "xg_metrics_hybrid",
)


def within(fn, *args, **kwargs):
    """``fn(*args, **kwargs)``, failing the test if it has not returned
    after TIMEOUT_S (the call keeps running in a daemon thread)."""
    out = {}

    def run():
        try:
            out["value"] = fn(*args, **kwargs)
        except BaseException as exc:  # re-raised in the test's thread
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(TIMEOUT_S)
    if t.is_alive():
        pytest.fail(f"{getattr(fn, '__name__', fn)} blocked for {TIMEOUT_S} s")
    if "error" in out:
        raise out["error"]
    return out["value"]


def _frame(spark, n=10):
    return spark.createDataFrame([(i, f"v{i}") for i in range(n)], SCHEMA)


def test_empty_pipeline_output_writes_and_validates(spark, tmp_path):
    # Missing inputs degrade to empty typed frames (safe_read_csv), flow
    # through the 13-join enrich chain and the HIST projection, and the
    # sink must still observe (zero) rows.
    missing = tmp_path / "absent"
    fact_schema = T.StructType(
        list(HIST_MATCHES.fields) + [T.StructField("ref_name", T.StringType())]
    )
    fact = safe_read_csv(spark, str(missing / "matches.csv"), fact_schema)
    dims = [
        safe_read_csv(spark, str(missing / f"{n}.csv"), REFERENCE_SCHEMAS[n])
        for n in SIDE_TABLES
    ]
    hist = build_hist(enrich_matches(fact, *dims))
    path = str(tmp_path / "hist")
    assert within(write_csv, hist, path) == 0
    rep = within(summarize, hist, "hist", HIST_MATCHES)
    assert rep.n_rows == 0 and rep.sample == [] and rep.ok
    assert rep.columns == [f.name for f in HIST_MATCHES.fields]


def test_ignore_mode_on_existing_path_returns(spark, tmp_path):
    path = str(tmp_path / "out")
    first = _frame(spark)
    assert within(write_parquet, first, path) == 10
    again = _frame(spark, 3)
    assert within(write_parquet, again, path, mode="ignore") is None
    assert written(again) is None
    assert spark.read.parquet(path).count() == 10


def test_append_mode_records_nothing(spark, tmp_path):
    path = str(tmp_path / "out")
    first = _frame(spark)
    assert within(write_csv, first, path) == 10
    more = _frame(spark, 4)
    assert within(write_csv, more, path, mode="append") is None
    assert written(more) is None
    # The append changed the files the first frame's record described.
    assert written(first) is None
    assert spark.read.option("header", True).csv(path).count() == 14


def test_partitioned_parquet_returns_rows_written(spark, tmp_path):
    df = _frame(spark, 25).withColumn("part", F.col("k") % 4)
    path = str(tmp_path / "parts")
    assert within(write_parquet, df, path, partition_by=["part"]) == 25
    assert spark.read.parquet(path).count() == 25
    rep = within(summarize, df, "parts")
    assert rep.n_rows == 25 and rep.columns == ["k", "v", "part"]
    assert all(r["part"] == r["k"] % 4 for r in rep.sample)


@pytest.mark.parametrize("n", [7, 0])
def test_checkpoint_observed_count_equals_count(spark, n):
    df = _frame(spark, 10).filter(F.col("k") < n)
    obs = Observed(df, n=F.count(F.lit(1)), odd=F.count_if(F.col("k") % 2 == 1))
    ckpt = obs.df.localCheckpoint()
    sc = spark.sparkContext
    group = f"test-observed-{n}"

    def get():
        sc.setJobGroup(group, group)
        try:
            return obs.get(fallback=ckpt)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    got = within(get)
    # Read from the checkpoint job's observation: no job of its own.
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert got["n"] == ckpt.count() == df.count() == n
    assert got["odd"] == n // 2


def test_observation_never_filled_falls_back(spark):
    # An action on the unobserved frame never fills the observation;
    # ``get`` must aggregate instead of blocking.
    df = _frame(spark, 5)
    obs = Observed(df, n=F.count(F.lit(1)))
    df.localCheckpoint()
    assert within(obs.get) == {"n": 5}
