"""Round-10: bucket-first twins for the last four value-grain rank
statistics (the ks_bucketed_drift pattern — quantize first, carry an
analytic bound computed from the bucket side alone, audit the
downstream threshold DECISION separately from the bound).
"""

from __future__ import annotations

import pytest

from ucl_data_pipeline_spark.plans import REGISTRY


@pytest.mark.parametrize(
    "name,lo,hi,bound_col,bound_rel_cap",
    [
        # bound_rel_cap: the bound must be small relative to the
        # statistic's own scale at test SF — a valid-but-vacuous bound
        # (wider than the statistic) would make the twin useless.
        ("mann_whitney_u_bucketed", "u_bucketed", "u_exact", "u_bound", 0.01),
        (
            "kruskal_wallis_h_bucketed",
            "h_bucketed",
            "h_exact",
            "ranksum_bound_max",
            None,  # rank-sum bound is not on H's scale; checked below
        ),
        (
            "wilcoxon_signed_rank_bucketed",
            "w_plus_bucketed",
            "w_plus_exact",
            "w_bound",
            None,  # 25 pairs over a wide $ range: bound is usually 0
        ),
        (
            "cliffs_delta_bucketed",
            "delta_bucketed",
            "delta_exact",
            "delta_bound",
            None,  # delta in [-1, 1]; absolute cap asserted below
        ),
    ],
)
def test_bucketed_rank_twins_audit_exact(
    spark, sf_dir, name, lo, hi, bound_col, bound_rel_cap
):
    row = REGISTRY[name].fn(spark, sf_dir).collect()[0]
    # The audit booleans the driver hashes must actually HOLD — the
    # oracle only proves Spark == DuckDB, not that the bound is true.
    assert row["within_bound"] is True, name
    assert row["decision_agrees"] is True, name
    assert row["n_buckets"] >= 1
    assert abs(row[hi] - row[lo]) <= max(row[bound_col], 1e-12) + 1e-9, name
    if bound_rel_cap is not None and row[hi]:
        assert row[bound_col] <= bound_rel_cap * abs(row[hi]), name


def test_cliffs_delta_bucketed_bound_is_tight(spark, sf_dir):
    row = REGISTRY["cliffs_delta_bucketed"].fn(spark, sf_dir).collect()[0]
    # $100 cells on a ~$500k price span: same-cell mass is tiny, so
    # the delta bound must be well inside the narrowest Romano band
    # half-width (0.147) — the twin can never flip a band by more than
    # the bound it carries.
    assert row["delta_bound"] < 0.01


def test_kruskal_bucketed_h_close_to_exact(spark, sf_dir):
    row = REGISTRY["kruskal_wallis_h_bucketed"].fn(spark, sf_dir).collect()[0]
    # H itself (not just the rank sums) should move by well under the
    # chi-square decision margin under $100 quantization at test SF.
    assert abs(row["h_exact"] - row["h_bucketed"]) < 0.5


def test_bucket_search_tree_equals_linear_count(spark):
    # The balanced when()-tree must agree with the linear definition
    # bucket = |{i : key > bounds[i]}| on every edge case the fold
    # handled: duplicate split points (heavily tied keys), keys equal
    # to a bound (strict >), keys outside the sketched range, and
    # single/empty bounds.
    import random

    from ucl_data_pipeline_spark.plans.registry import _bucket_search

    rng = random.Random(10)
    cases = [
        [],  # no bounds -> everything in bucket 0
        [5],
        [5, 5, 7],  # duplicates: equal keys must share a bucket
        sorted(rng.randint(0, 50) for _ in range(31)),
        sorted(rng.randint(0, 10) for _ in range(63)),  # heavy ties
    ]
    keys = list(range(-2, 55))
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    for bounds in cases:
        got = {
            r["k"]: r["b"]
            for r in df.select(
                "k", _bucket_search("k", bounds).alias("b")
            ).collect()
        }
        want = {k: sum(1 for b in bounds if k > b) for k in keys}
        assert got == want, bounds


def test_checkpoint_spine_empty_on_undersized_corpus(spark, tmp_path):
    # Round-9 advisor finding, regression-gated: with fewer docs than
    # one checkpoint step, two-arg F.sequence(1, max_rk DIV step)
    # would default to step -1 and yield [1, 0] — phantom checkpoints
    # (j=0 gives ln(0) nulls) — while DuckDB's generate_series(step,
    # max_rk, step) is empty. Both engines must now agree on ZERO
    # checkpoints for an undersized corpus.
    import duckdb

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta doc {i}", "en", "crawl", 30)
            for i in range(5)  # 5 docs << step (50)
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    sf = str(tmp_path / "tiny")
    (tmp_path / "tiny").mkdir()
    docs.coalesce(1).write.parquet(sf + "/documents.parquet")

    # Expected zero-checkpoint shapes: saturation emits one row per
    # checkpoint (so zero rows); heaps aggregates the spine into a
    # single summary row (0 checkpoints, NULL fit). Both engines must
    # produce them EXACTLY — a phantom [1, 0] spine would instead show
    # n_checkpoints=2 / two curve rows with ln(0) artifacts.
    expect = {
        "heaps_law_exponent": [(0, None, None, None, None)],
        "dedup_saturation_curve": [],
    }
    for name, want in expect.items():
        got = [tuple(r) for r in REGISTRY[name].fn(spark, sf).collect()]
        assert got == want, f"{name}: phantom checkpoints {got}"
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{sf}/documents.parquet/*.parquet'"
        )
        oracle_rows = con.execute(REGISTRY[name].oracle).fetchall()
        con.close()
        assert oracle_rows == want, f"{name}: oracle disagrees {oracle_rows}"


def test_source_hash_sees_shared_helper_edits(monkeypatch):
    # r9 advisor: the plan+source auto-clear gate must also invalidate
    # when a SHARED helper (registry.range_bucket, functions/*)
    # changes, not just the query function's own source — a regression
    # introduced one level down must not be silently absorbed.
    import bench

    q = "group_agg_basic"
    base = bench._source_hash(q)
    assert base is not None

    # Simulate an edit to a shared helper module by perturbing its
    # cached digest (the hash composes from these digests).
    key = bench._SHARED_HELPER_MODULES[0]
    bench._module_digest(__import__(key, fromlist=["_"]))  # prime cache
    monkeypatch.setitem(bench._MODULE_DIGEST_CACHE, key, "0" * 32)
    assert bench._source_hash(q) != base, (
        "editing a shared helper module must change the source hash"
    )

    # Registry HELPER FUNCTION edits must invalidate too (digested at
    # function grain under a synthetic cache key).
    monkeypatch.undo()
    bench._registry_helpers_digest()  # prime cache
    monkeypatch.setitem(
        bench._MODULE_DIGEST_CACHE,
        "ucl_data_pipeline_spark.plans.registry#helpers",
        "1" * 32,
    )
    assert bench._source_hash(q) != base, (
        "editing a registry helper function must change the source hash"
    )

    # And the defining module of the query fn itself.
    monkeypatch.undo()
    from ucl_data_pipeline_spark.plans import REGISTRY as _REG
    import inspect

    mod_key = inspect.getmodule(_REG[q].fn).__name__
    bench._module_digest(inspect.getmodule(_REG[q].fn))
    monkeypatch.setitem(bench._MODULE_DIGEST_CACHE, mod_key, "f" * 32)
    assert bench._source_hash(q) != base, (
        "editing the query's defining module must change the source hash"
    )

    # And a plan module the query's module imports helpers from
    # (extras34 calls llm_ops.cc_edge_set).
    monkeypatch.undo()
    base = bench._source_hash("cc_superstep_convergence")
    monkeypatch.setitem(
        bench._MODULE_DIGEST_CACHE, "ucl_data_pipeline_spark.plans.llm_ops", "e" * 32
    )
    assert bench._source_hash("cc_superstep_convergence") != base


def test_source_hash_immune_to_witness_rotation():
    # The per-round EXPORT_FIRST / REWITNESS_CHANGED rotation edits
    # plans/registry.py EVERY round; if the hash digested that module
    # whole, every rotation would invalidate all ~393 stored source
    # hashes and the plan+source auto-clear gate would never fire
    # across rounds. The registry contributes only its cost-bearing
    # helper functions' source.
    import bench

    assert (
        "ucl_data_pipeline_spark.plans.registry"
        not in bench._SHARED_HELPER_MODULES
    ), "whole-module registry digest re-breaks cross-round suppression"
    # Every declared helper must actually resolve (a typo would
    # silently hash '<missing:...>' forever).
    from ucl_data_pipeline_spark.plans import registry as _reg

    missing = [
        n for n in bench._REGISTRY_HELPER_FNS if not hasattr(_reg, n)
    ]
    assert not missing, f"_REGISTRY_HELPER_FNS names not in registry: {missing}"
    # Helpers that the rotation never touches: the digest must be
    # stable across repeated computation (cache or no cache).
    d1 = bench._registry_helpers_digest()
    bench._MODULE_DIGEST_CACHE.pop(
        "ucl_data_pipeline_spark.plans.registry#helpers", None
    )
    assert bench._registry_helpers_digest() == d1
