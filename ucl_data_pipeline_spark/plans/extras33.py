"""Round-7 batch 13: sample-based quantile estimation —

- ``quantile_sample_error``: quantiles estimated from a DETERMINISTIC
  bottom-k-by-hash row sample, audited against exact order
  statistics. This is the technique Spark itself uses to run at
  scale: ``RangePartitioner`` picks its sort/range-partition bounds
  from a sample, never from a full pass, and AQE sizes skew splits
  the same way — this operator measures what that substitution costs
  at each quantile. Taking the k rows with the SMALLEST hash of a
  unique row key is a uniform random sample that is also (a)
  engine-independent (the registry's shared md5-hex digest spelling —
  both engines draw the identical sample, so the driver verifies the
  estimator, not a tolerance band), (b) mergeable exactly like the
  KMV sketch (extras32: bottom-k of a union = bottom-k of the merged
  bottom-k's), and (c) one TakeOrdered away — no shuffle of the data
  being sampled.

  Completes the engine's mergeable-sketch family, every member
  cross-engine-exact: distinct counts (``ndv_kmv_sketch_error``),
  membership (``bloom_filter_words``), set similarity
  (``minhash_signatures``), and now quantiles.

Registry conventions (plans/registry.py): the sampled and exact
quantiles are percentile_disc ORDER STATISTICS — actual data values,
never interpolated (the winsorize_prices precedent), so outputs are
exact money values cast DOUBLE; the only transcendental-free float op
is the final error division, ROUND 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.extras31 import _h48, _sql_h48
from ucl_data_pipeline_spark.plans.registry import (
    bucketed_rank_select,
    percentile_disc_rank,
    register,
    sql_percentile_disc,
)
from ucl_data_pipeline_spark.sources.io import read_table

_SAMPLE_K = 1024
_QS = ("0.25", "0.5", "0.75", "0.9", "0.99")
_TAG = 2000


_QUANTILE_ORACLE = (
    f"""
WITH keyed AS (
  SELECT l_extendedprice AS v,
         {_sql_h48("l_orderkey || ':' || l_linenumber", _TAG)} AS h
  FROM lineitem
), sample AS (
  SELECT v FROM keyed ORDER BY h LIMIT {_SAMPLE_K}
), s AS (
  SELECT
"""
    + ",\n".join(
        f"    CAST({sql_percentile_disc(q, 'v')} AS DOUBLE) AS s_{i}"
        for i, q in enumerate(_QS)
    )
    + """
  FROM sample
), e AS (
  SELECT
"""
    + ",\n".join(
        f"    CAST({sql_percentile_disc(q, 'l_extendedprice')} AS DOUBLE) AS e_{i}"
        for i, q in enumerate(_QS)
    )
    + """
  FROM lineitem
)
"""
    + " UNION ALL ".join(
        f"""
SELECT CAST({q} AS DOUBLE) AS quantile,
       e_{i} AS exact_value,
       s_{i} AS sample_value,
       ROUND((s_{i} - e_{i}) / NULLIF(e_{i}, 0.0), 6) AS rel_error
FROM s CROSS JOIN e"""
        for i, q in enumerate(_QS)
    )
)


@register(
    "quantile_sample_error",
    oracle=_QUANTILE_ORACLE,
    tags=("stats", "sketch", "sample"),
)
def quantile_sample_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five quantiles of l_extendedprice estimated from the 1024 rows
    with the smallest row-key hash, vs the exact order statistics —
    one row per quantile with the signed relative error.

    Plan shape (the 100 TB contract): the sample side is a scan-side
    hash projection + TakeOrderedAndProject — per-partition bottom-k
    then a k·partitions merge, NO shuffle of the sampled data, k rows
    on the driver side of the agg regardless of table size. That is
    the entire cost a RangePartitioner-style bounds-picker pays. The
    exact side is the exact order statistic the sample REPLACES —
    present to be audited against, like exact_ndv in the KMV audit. Sample error at k=1024 concentrates at
    ~1/(2·sqrt(k)) ≈ 1.6% per quantile.

    Determinism: both engines draw the IDENTICAL sample (shared
    md5-hex 48-bit digest of the unique (orderkey, linenumber) row
    key, tag 2000), and percentile_disc returns actual data values —
    so sampled and exact quantiles are bit-identical cross-engine and
    the driver hash-verifies the estimator itself. The error division
    is IEEE on exact money values, ROUND 6, NULLIF-guarded.
    """
    li = read_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_extendedprice").alias("v"),
        _h48(
            F.concat_ws(
                ":",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            _TAG,
        ).alias("h"),
    )
    # SAMPLE side: one percentile_disc buffer via the array form is
    # fine — the buffer is exactly the k=1024 sampled rows.
    qs_arr = "array(" + ", ".join(f"{q}D" for q in _QS) + ")"
    sample = keyed.orderBy("h").limit(_SAMPLE_K)
    s = sample.agg(
        F.expr(sql_percentile_disc(qs_arr, "v")).alias("sq")
    ).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(q)) for q in _QS]).alias("quantile"),
                F.col("sq").cast("array<double>").alias("sample_value"),
            )
        ).alias("z")
    ).select("z.quantile", "z.sample_value")
    # EXACT side (r13, guide §5): an array percentile_disc would buffer
    # EVERY l_extendedprice in one ObjectHashAggregate task; distributed
    # selection at percentile_disc's own rank is bit-identical to it.
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in _QS])).alias("quantile")
    )
    e = bucketed_rank_select(
        li.select(F.col("l_extendedprice").alias("ev")),
        "ev",
        qs,
        percentile_disc_rank("quantile"),
    ).select("quantile", F.col("ev").cast("double").alias("exact_value"))
    return (
        e.join(F.broadcast(s), "quantile")
        .select(
            "quantile",
            "exact_value",
            "sample_value",
            F.round(
                (F.col("sample_value") - F.col("exact_value"))
                / F.nullif(F.col("exact_value"), F.lit(0.0)),
                6,
            ).alias("rel_error"),
        )
    )
