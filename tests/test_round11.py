"""Round-11 gates.

1. The bench source-hash digest must see edits to registry module
   CONSTANTS the helpers read (round-10 advisor: function-grain
   digesting dropped DEC and the bucket knobs that the removed
   whole-module digest used to cover).
2. The helper allowlist must be exhaustive: every public callable
   defined in plans.registry is either digested or explicitly
   exempted as cost-free plumbing — a future cost-bearing helper
   cannot be silently excluded (the one-level-down blind spot,
   recreated one level down).
3. The beyond-cap range_bucket fallback (round-10 verdict task 5) is
   exercised by forcing the cap on a small frame and asserting
   bit-identical results against the literal-fold path, for both
   bucketed_running_sum and bucketed_row_number.
"""

from __future__ import annotations

import pytest

import bench
from ucl_data_pipeline_spark.plans import registry as reg


def _fresh_helper_digest():
    bench._MODULE_DIGEST_CACHE.pop(
        "ucl_data_pipeline_spark.plans.registry#helpers", None
    )
    return bench._registry_helpers_digest()


def test_source_hash_sees_registry_constant_edits(monkeypatch):
    base = _fresh_helper_digest()
    for const in bench._REGISTRY_HELPER_CONSTS:
        assert hasattr(reg, const), f"digested constant missing: {const}"
    # Perturb one cost knob and one precision knob: the digest must move.
    monkeypatch.setattr(reg, "_BUCKET_TARGET_ROWS", 1)
    assert _fresh_helper_digest() != base, (
        "editing _BUCKET_TARGET_ROWS must invalidate the helper digest"
    )
    monkeypatch.undo()
    monkeypatch.setattr(reg, "DEC", "decimal(10,2)")
    assert _fresh_helper_digest() != base, (
        "editing DEC must invalidate the helper digest"
    )
    monkeypatch.undo()
    assert _fresh_helper_digest() == base, "digest not stable after undo"


# Public registry callables that are genuinely cost-free plumbing: the
# register/export machinery and the Query record. Anything else public
# and callable must be in _REGISTRY_HELPER_FNS — add it there (or here,
# with a reason) when introducing a new helper.
_EXEMPT_PLUMBING = {
    "register",  # decorator: registration bookkeeping only
    "all_queries",  # export-order plumbing (rotation edits every round)
    "oracle_sqls",  # export-order plumbing
    "Query",  # frozen dataclass record, no computation
    "QueryFn",  # type alias (callable at runtime via typing)
}


def test_registry_helper_allowlist_is_exhaustive():
    public_callables = [
        name
        for name, obj in vars(reg).items()
        if not name.startswith("_")
        and callable(obj)
        and getattr(obj, "__module__", None) == reg.__name__
    ]
    unlisted = [
        n
        for n in public_callables
        if n not in bench._REGISTRY_HELPER_FNS and n not in _EXEMPT_PLUMBING
    ]
    assert not unlisted, (
        "public plans.registry callables neither digested by "
        "_REGISTRY_HELPER_FNS nor declared exempt plumbing — a cost "
        f"regression there would be invisible to the auto-clear gate: "
        f"{unlisted}"
    )
    # And the exempt list must not silently rot.
    stale = [n for n in _EXEMPT_PLUMBING if not hasattr(reg, n)]
    assert not stale, f"exempt names no longer in registry: {stale}"


@pytest.mark.usefixtures("spark")
def test_range_bucket_beyond_cap_fallback_matches_literal_path(
    spark, sf_dir, monkeypatch
):
    """Force the auto-size over the cap on a small frame: the
    repartitionByRange fallback must produce bit-identical running
    sums / row numbers to the literal when()-tree path."""
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn(
            "__k",
            F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        )
    )
    n = li.count()
    assert n > 100

    def run_sum():
        frame, subs = reg.bucketed_running_sum(
            li,
            "__k",
            ["__k"],
            F.col("l_extendedprice").cast(reg.DEC),
            out="cum",
        )
        return sorted(
            (r["__k"], str(r["cum"]))
            for r in frame.select("__k", "cum").collect()
        )

    def run_rownum():
        out = reg.bucketed_row_number(li, "__k", out="rk")
        return sorted((r["__k"], r["rk"]) for r in out.collect())

    base_sum = run_sum()
    base_rk = run_rownum()

    # Shrink the knobs so auto-size demands more buckets than the cap
    # allows -> the beyond-cap path activates.
    monkeypatch.setattr(reg, "_BUCKET_TARGET_ROWS", max(1, n // 64))
    monkeypatch.setattr(reg, "_BUCKET_MIN", 2)
    monkeypatch.setattr(reg, "_BUCKET_MAX", 8)
    probe = reg.range_bucket(li, "__k")
    n_parts = probe.select("__bkt").distinct().count()
    assert n_parts > 8, (
        f"cap not exceeded (got {n_parts} buckets) — the fallback "
        "path was not exercised"
    )
    assert run_sum() == base_sum, "beyond-cap running sum diverged"
    assert run_rownum() == base_rk, "beyond-cap row_number diverged"


def test_decile_cuts_one_buffer_matches_percentile_disc(spark):
    """The one-buffer decile-cut helper must reproduce Spark's own
    percentile_disc on adversarial row counts — n not divisible by 10
    exercises the integer rank arithmetic ((k*n+9) div 10), and tiny n
    exercises the rank floor at 1."""
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.extras19 import (
        _decile_cuts_one_buffer,
    )

    for n in (1, 2, 3, 7, 10, 37, 150):
        # Deterministic, unsorted, with duplicates.
        vals = [float((i * 7919) % 97) for i in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = sorted(
            r["thr"] for r in _decile_cuts_one_buffer(df, "v").collect()
        )
        want = sorted(
            df.agg(
                *[
                    F.expr(reg.sql_percentile_disc(str(k / 10), "v")).alias(f"t{k}")
                    for k in range(1, 10)
                ]
            )
            .select(
                F.explode(
                    F.array(*[F.col(f"t{k}") for k in range(1, 10)])
                ).alias("thr")
            )
            .collect(),
            key=lambda r: r["thr"],
        )
        assert got == [r["thr"] for r in want], f"n={n}: {got}"
    # Empty input: percentile_disc yields NULLs; the helper yields an
    # EMPTY cut table (the nulls are filtered) — downstream crossJoin
    # produces no rows either way.
    empty = spark.createDataFrame([], "v double")
    assert _decile_cuts_one_buffer(empty, "v").collect() == []
