"""Round-9 consolidation tests: the bounded-grain global-rank
machinery (registry.range_bucket / bucket_offsets /
bucketed_row_number) against the single-partition spellings it
replaces, and the bucket-first KS twin's substitution audit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans import REGISTRY
from ucl_data_pipeline_spark.plans import registry as reg
from ucl_data_pipeline_spark.plans.registry import (
    bucket_offsets,
    bucketed_row_number,
    bucketed_running_sum,
    range_bucket,
)
from ucl_data_pipeline_spark.sources.io import read_table


def _force_buckets(monkeypatch, n: int) -> None:
    """Pin range_bucket's auto-size to exactly ``n`` buckets (below
    the row target it resolves to _BUCKET_MIN, sketched at
    _BUCKET_MAX resolution)."""
    monkeypatch.setattr(reg, "_BUCKET_MIN", n)
    monkeypatch.setattr(reg, "_BUCKET_MAX", n)


def test_bucketed_row_number_matches_global_window(spark, sf_dir, monkeypatch):
    # The bucketed spelling must be BIT-identical to the global-window
    # row_number it replaces, for any bucket count (including buckets
    # that end up empty at tiny SF).
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    want = {
        r["o_orderkey"]: r["rk"]
        for r in o.select(
            "o_orderkey",
            F.row_number().over(Window.orderBy("o_orderkey")).alias("rk"),
        ).collect()
    }
    # None = the default auto-size (max-resolution sketch + count in
    # one agg, subsampled split points).
    for n_buckets in (1, 4, 16, None):
        with monkeypatch.context() as m:
            if n_buckets is not None:
                _force_buckets(m, n_buckets)
            got = {
                r["o_orderkey"]: r["rk"]
                for r in bucketed_row_number(o, "o_orderkey").collect()
            }
        assert got == want, f"n_buckets={n_buckets}"


@pytest.mark.parametrize("n_buckets", [None, 4])
def test_bucketed_walks_order_nulls_first(spark, monkeypatch, n_buckets):
    # range_bucket puts NULL keys in bucket 0, so the bucketed walks
    # match the global windows' NULLS FIRST: row_number over a unique
    # key with one NULL (u), running sum over NULLs and ties (k, id).
    if n_buckets:
        _force_buckets(monkeypatch, n_buckets)
    keys = [None, 3, 1, None, 3, 3, 0, 7, 1, None, 2, 7, 5, 5, 4]
    df = spark.createDataFrame(
        [(i, k, 17 * i % 23 if i else None) for i, k in enumerate(keys)],
        "id int, k int, u int",
    )
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "id",
        F.row_number().over(Window.orderBy("u")).alias("rk"),
        F.sum("id").over(w).alias("cum"),
    )
    walked, _ = bucketed_running_sum(df, "k", ["k", "id"], F.col("id"))
    got = bucketed_row_number(df, "u").join(walked.select("id", "cum"), "id")
    assert sorted(got.select("id", "rk", "cum").collect()) == sorted(want.collect())
    assert want.filter("id = 0").first().rk == 1


def test_range_bucket_is_monotone_in_key(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").select(
        (-F.col("c_acctbal")).alias("neg")
    )
    rows = range_bucket(c, "neg").orderBy("neg").collect()
    bks = [r["__bkt"] for r in rows]
    assert bks == sorted(bks)
    # equal keys always share a bucket
    seen: dict = {}
    for r in rows:
        if r["neg"] in seen:
            assert seen[r["neg"]] == r["__bkt"]
        seen[r["neg"]] = r["__bkt"]


def test_bucket_offsets_exclusive_prefix(spark, sf_dir, monkeypatch):
    _force_buckets(monkeypatch, 8)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    bucketed = range_bucket(o, "o_orderkey")
    per = {
        r["__bkt"]: r["cnt"]
        for r in bucketed.groupBy("__bkt")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    offs = {
        r["__bkt"]: (r["__sub"], r["__off"])
        for r in bucket_offsets(bucketed, F.count("*")).collect()
    }
    assert len(per) == 8
    for bkt, (sub, off) in offs.items():
        assert sub == per[bkt], bkt
        assert off == sum(c for b, c in per.items() if b < bkt), bkt


def test_decile_formula_matches_spark_ntile(spark, sf_dir):
    # The integer NTILE formula inside decile_lift_table vs Spark's own
    # F.ntile over the same total order — pins the SQL-standard
    # first-r-tiles-get-one-extra assignment.
    c = read_table(spark, sf_dir, "customer")
    want = {
        r["c_custkey"]: r["d"]
        for r in c.select(
            "c_custkey",
            F.ntile(10)
            .over(Window.orderBy(F.desc("c_acctbal"), "c_custkey"))
            .alias("d"),
        ).collect()
    }
    ranked = bucketed_row_number(
        c.select("c_custkey", (-F.col("c_acctbal")).alias("neg")).withColumn(
            "ck", F.col("c_custkey")
        ),
        "neg",
        out="g_rk",
    )
    n = c.count()
    got_rows = (
        ranked.select(
            "c_custkey",
            F.expr(
                f"CASE WHEN g_rk <= ({n} % 10) * ({n} DIV 10 + 1)"
                f" THEN (g_rk + {n} DIV 10) DIV ({n} DIV 10 + 1)"
                f" ELSE {n} % 10 + (g_rk - ({n} % 10) * ({n} DIV 10 + 1)"
                f" + {n} DIV 10 - 1) DIV ({n} DIV 10) END"
            ).alias("d"),
        )
        .collect()
    )
    # bucketed_row_number requires a UNIQUE key; negated balance is
    # not unique, so compare the decile SIZES (the formula's output
    # distribution) instead of per-row assignment here — per-row
    # equality is covered end-to-end by the decile_lift_table oracle.
    from collections import Counter

    assert Counter(r["d"] for r in got_rows) == Counter(want.values())


def test_ks_bucketed_twin_audits_exact(spark, sf_dir):
    row = REGISTRY["ks_bucketed_drift"].fn(spark, sf_dir).collect()[0]
    assert row["within_bound"] is True
    assert row["decision_agrees"] is True
    assert row["ks_d_bucketed"] <= row["ks_d_exact"]
    assert (
        row["ks_d_exact"] - row["ks_d_bucketed"] <= row["gap_bound"] + 1e-12
    )
    # $100 buckets on this price distribution: the bound must be tight
    # enough that the twin is USEFUL, not just valid.
    assert row["gap_bound"] <= 0.05
    assert row["n_buckets"] >= 100
