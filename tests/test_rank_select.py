"""bucketed_rank_select against Spark's own percentile_disc."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans import registry as reg
from ucl_data_pipeline_spark.plans.registry import (
    bucketed_rank_select,
    percentile_disc_rank,
    sql_percentile_disc,
)


def _vals(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v double")


def _select(spark, vals, qs) -> dict[float, tuple[int, float]]:
    ranks = spark.createDataFrame([(q,) for q in qs], "q double")
    rows = bucketed_rank_select(vals, "v", ranks, percentile_disc_rank("q")).collect()
    return {r.q: (r["__n"], r.v) for r in rows}


def _percentile_disc(vals, q: float) -> float:
    return vals.agg(F.expr(sql_percentile_disc(str(q), "v")).alias("p")).first().p


def test_nulls_are_ignored_like_percentile_disc(spark):
    vals = _vals(spark, [None, 1.0, 2.0, 3.0, 4.0])
    ranks = spark.range(1).select(F.lit(1).alias("rid"))
    lower_median = ((F.col("__n") + 1) / 2).cast("long")  # kk = ceil(n/2)
    (row,) = bucketed_rank_select(vals, "v", ranks, lower_median).collect()
    assert (row["__n"], row.v) == (4, 2.0) == (4, _percentile_disc(vals, 0.5))
    qs = (0.25, 0.5, 0.75, 1.0)
    assert _select(spark, vals, qs) == {q: (4, _percentile_disc(vals, q)) for q in qs}


@pytest.mark.parametrize("n_buckets", [3, 4096])
def test_duplicate_heavy_matches_percentile_disc(spark, monkeypatch, n_buckets):
    # 150 ties on one value, NULLs mixed in; 3 buckets force ranking
    # inside buckets that hold several distinct values.
    monkeypatch.setattr(reg, "_RANK_SELECT_BUCKETS", n_buckets)
    vals = _vals(
        spark, [5.0] * 150 + [1.0] * 30 + [9.0] * 17 + [-2.5, 7.25, 7.25] + [None] * 6
    )
    qs = (0.001, 0.1, 0.15, 0.151, 0.5, 0.9, 0.99, 1.0)
    got = _select(spark, vals, qs)
    assert got == {q: (200, _percentile_disc(vals, q)) for q in qs}


def test_heavy_tail_matches_percentile_disc(spark):
    # One 1e12 outlier stretches [lo, hi] so far that 0..9999 all land
    # in equi-width bucket 0: the answer must still be exact.
    vals = spark.range(10_000).select(F.col("id").cast("double").alias("v"))
    vals = vals.union(spark.range(1).select(F.lit(1e12).alias("v")))
    qs = (0.001, 0.25, 0.5, 0.9, 0.9999, 1.0)
    got = _select(spark, vals, qs)
    assert got == {q: (10_001, _percentile_disc(vals, q)) for q in qs}
    assert got[1.0] == (10_001, 1e12)


def test_all_null_input_selects_no_rows(spark):
    assert _select(spark, _vals(spark, [None, None]), (0.5,)) == {}
