"""bucketed_rank_select against Spark's own percentile_disc."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.extras22 import bucketed_rank_select


def _disc_rank(q: str):
    """percentile_disc's rank: the smallest k with k/n >= q (the
    consumers' spelling, over the helper's ``__n``)."""
    k0 = F.floor(F.col(q) * F.col("__n")).cast("long")
    ok = (k0 >= 1) & ((k0.cast("double") / F.col("__n").cast("double")) >= F.col(q))
    return F.when(ok, k0).otherwise(k0 + 1)


def _vals(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v double")


def _select(spark, values, qs, n_buckets=4096) -> dict[float, tuple[int, float]]:
    ranks = spark.createDataFrame([(q,) for q in qs], "q double")
    rows = bucketed_rank_select(
        _vals(spark, values), "v", ranks, _disc_rank("q"), n_buckets
    ).collect()
    return {r.q: (r["__n"], r.v) for r in rows}


def _percentile_disc(spark, values, q: float) -> float:
    return _vals(spark, values).agg(
        F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY v)").alias("p")
    ).first().p


def test_nulls_are_ignored_like_percentile_disc(spark):
    values = [None, 1.0, 2.0, 3.0, 4.0]
    ranks = spark.range(1).select(F.lit(1).alias("rid"))
    lower_median = ((F.col("__n") + 1) / 2).cast("long")  # kk = ceil(n/2)
    (row,) = bucketed_rank_select(
        _vals(spark, values), "v", ranks, lower_median
    ).collect()
    assert (row["__n"], row.v) == (4, 2.0) == (4, _percentile_disc(spark, values, 0.5))
    qs = (0.25, 0.5, 0.75, 1.0)
    got = _select(spark, values, qs)
    assert got == {q: (4, _percentile_disc(spark, values, q)) for q in qs}


@pytest.mark.parametrize("n_buckets", [3, 4096])
def test_duplicate_heavy_matches_percentile_disc(spark, n_buckets):
    # 150 ties on one value, NULLs mixed in; 3 buckets force ranking
    # inside buckets that hold several distinct values.
    values = [5.0] * 150 + [1.0] * 30 + [9.0] * 17 + [-2.5, 7.25, 7.25] + [None] * 6
    qs = (0.001, 0.1, 0.15, 0.151, 0.5, 0.9, 0.99, 1.0)
    got = _select(spark, values, qs, n_buckets)
    assert got == {q: (200, _percentile_disc(spark, values, q)) for q in qs}


def test_all_null_input_selects_no_rows(spark):
    assert _select(spark, [None, None], (0.5,)) == {}
