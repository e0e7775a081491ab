"""operators/validate.py: the V1/V2 report on tiny frames — unwritten
frames (count + limit), and frames a file sink wrote (reported from the
write record and a read-back, without running the lineage again)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ucl_data_pipeline_spark.operators.validate import (
    required_columns_check,
    summarize,
    validation_report,
)
from ucl_data_pipeline_spark.sources.io import write_csv, write_parquet, written

SCHEMA = T.StructType(
    [
        T.StructField("team", T.StringType()),
        T.StructField("goals", T.IntegerType()),
        T.StructField("xg", T.DoubleType()),
    ]
)
ROWS = [(f"t{i}", i, i / 4) for i in range(12)]


def _frame(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_unwritten_frame_report(spark):
    df = _frame(spark)
    rep = summarize(df, "teams", ["team", "stadium"])
    assert rep.name == "teams"
    assert rep.n_rows == len(ROWS)
    assert rep.columns == ["team", "goals", "xg"]
    assert 0 < len(rep.sample) <= 5
    assert all(tuple(r.values()) in ROWS for r in rep.sample)
    assert rep.missing_columns == ["stadium"] and not rep.ok

    want = T.StructType(list(SCHEMA.fields) + [T.StructField("date", T.DateType())])
    assert summarize(df, "teams", want).missing_columns == ["date"]
    assert summarize(df, "teams", SCHEMA).missing_columns == []
    assert required_columns_check(df, ["goals"]) == []


def test_written_frame_report_from_the_write(spark, tmp_path):
    # A projection that reorders and derives columns: the sample must be
    # OUTPUT rows, in the frame's column order.
    df = _frame(spark).select(
        "xg", (F.col("goals") * 2).alias("double_goals"), "team"
    )
    want = {(xg, goals * 2, team) for team, goals, xg in ROWS}
    path = str(tmp_path / "out")
    assert write_csv(df, path) == len(ROWS)
    assert written(df).n_rows == len(ROWS)

    sc = spark.sparkContext
    sc.setJobGroup("test-validate-written", "validate a written frame")
    try:
        rep = validation_report({"out": df}, {"out": ["team"]})["out"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-validate-written")
    assert len(jobs) <= 1, jobs

    assert rep.n_rows == len(ROWS)
    assert rep.columns == ["xg", "double_goals", "team"]
    assert rep.missing_columns == []
    assert 0 < len(rep.sample) <= 5
    for r in rep.sample:
        assert list(r) == ["xg", "double_goals", "team"]
        assert tuple(r.values()) in want


def test_later_write_to_same_path_drops_record(spark, tmp_path):
    path = str(tmp_path / "shared")
    first = _frame(spark)
    second = _frame(spark).filter(F.col("goals") < 3)
    assert write_parquet(first, path) == len(ROWS)
    assert written(first) is not None
    assert write_parquet(second, path) == 3
    assert written(first) is None
    assert written(second).n_rows == 3
    # The dropped frame is reported from its own lineage again.
    assert summarize(first, "first").n_rows == len(ROWS)
    assert summarize(second, "second").n_rows == 3
