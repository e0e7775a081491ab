"""Physical-plan quality gates: these assert the SHAPE of the plan —
the properties that decide 100 TB viability — not just results.

- dimension joins broadcast (no shuffle of the fact side),
- filters and column pruning reach the parquet scan,
- no Python evaluation in non-Python queries (whole-stage codegen),
- global top-N runs as TakeOrderedAndProject (no total sort),
- correlated EXISTS decorrelates to a semi join.
"""

from __future__ import annotations

import re

from ucl_data_pipeline_spark.plans import REGISTRY


def _plan(census, name: str) -> str:
    return census[name].physical


def _optimized(census, name: str) -> str:
    return census[name].optimized


def _paren_spans(text: str, token: str):
    """(start, end) of every ``token...)`` call in ``text``, paren-matched
    (``token`` ends with its opening paren)."""
    for m in re.finditer(re.escape(token), text):
        i, depth = m.end(), 1
        while i < len(text) and depth:
            depth += text[i] == "("
            depth -= text[i] == ")"
            i += 1
        yield m.start(), i


def _lambda_bodies(plan: str):
    # Paren-matched extraction: the plan prints a whole Project node on
    # one line, so a fixed window would swallow sibling expressions that
    # legitimately tokenize OUTSIDE the lambda.
    for start, end in _paren_spans(plan, "lambdafunction("):
        yield plan[start + len("lambdafunction(") : end - 1]


def test_enrich_chain_broadcasts_all_dims(census):
    plan = _plan(census, "enrich_broadcast_join")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan  # fact side never shuffles


def test_filter_and_pruning_reach_parquet_scan(census):
    plan = _plan(census, "filter_project")
    assert "IsNotNull(o_custkey)" in plan.split("PushedFilters")[1]
    assert "GreaterThan(o_totalprice,100000.0)" in plan.split("PushedFilters")[1]
    # Only the 5 needed columns are scanned (column pruning): the
    # unused o_orderpriority never appears anywhere in the plan.
    assert "o_orderpriority" not in plan


def test_no_python_eval_outside_python_operators(census):
    for name in ("pricing_summary", "haversine_travel", "dedup_minhash_lsh",
                 "text_quality_score", "embedding_topk_cosine",
                 "session_window_agg"):
        plan = _plan(census, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_all_queries_free_of_plan_smells(census):
    # Engine-wide invariants over every registered query's physical
    # plan: no cartesian products, and no Python evaluation anywhere
    # except the sanctioned multimodal Arrow stage. Catches regressions
    # the per-query tests don't cover.
    python_ok = {"multimodal_feature_extract", "multimodal_frame_sample"}
    for name, built in census.items():
        plan = built.physical
        assert "CartesianProduct" not in plan, name
        if name not in python_ok:
            for smell in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
                assert smell not in plan, (name, smell)


def test_registered_outputs_atomic(census):
    # Registry convention (plans/registry.py docstring): a registered
    # query's result schema contains only atomic columns — the driver
    # canonicalizes with pandas sort_values/factorize, which cannot
    # hash list cells, so an Array/Map/Struct output blinds the hard
    # correctness signal even when values match. Serialize collections
    # (concat_ws / to_json after array_sort) instead.
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name, built in census.items():
        complex_cols = [
            f.name
            for f in built.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not complex_cols, (name, complex_cols)


def test_python_stage_only_in_multimodal(census):
    plan = _plan(census, "multimodal_feature_extract")
    assert "MapInPandas" in plan  # the sanctioned Arrow-batched escape hatch


def test_topn_avoids_total_sort(census):
    plan = _plan(census, "sort_limit_topn")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_correlated_exists_becomes_semi_join(census):
    opt = _optimized(census, "correlated_exists")
    assert "LeftSemi" in opt  # decorrelated, not per-row subquery


def test_whole_stage_codegen_on_flagship(spark, sf_dir):
    # AQE only finalizes the physical plan after execution, so run the
    # query before inspecting for codegen stages.
    df = REGISTRY["pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Codegen stages render as "*(n) Operator" in the string plan.
    assert "*(1)" in plan


def test_lsh_candidates_join_on_band_key(census):
    # The LSH self-join must be an equi-join (hash/sort-merge on the
    # band key), never a nested-loop cartesian.
    plan = _plan(census, "dedup_minhash_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_shapes_broadcast_dims_and_topn(census):
    for name in ("shipping_priority_top10", "returned_items_top20"):
        plan = _plan(census, name)
        assert "BroadcastHashJoin" in plan, name
        assert "TakeOrderedAndProject" in plan, name  # top-N, not global sort
    q5 = _plan(census, "local_supplier_volume")
    # All four dimension edges broadcast (at sf0.001 the filtered
    # orders side broadcasts too — the right call at that size); at
    # most the lineitem⨝orders fact spine may shuffle. Never a
    # cartesian.
    assert q5.count("BroadcastHashJoin") >= 4
    assert q5.count("SortMergeJoin") + q5.count("ShuffledHashJoin") <= 1
    assert "CartesianProduct" not in q5 and "BroadcastNestedLoopJoin" not in q5


def test_range_join_is_broadcast_nested_loop(census):
    # The correct physical plan for fact × tiny-band non-equi join:
    # broadcast the 3-row bands, never shuffle or cartesian the fact.
    plan = _plan(census, "range_join_bands")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_as_of_join_single_shuffle(census):
    # Carry-forward formulation: exactly one hash exchange (user_id),
    # no join operator at all.
    plan = _plan(census, "as_of_join")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_deterministic_sample_pushes_filter_to_scan(census):
    plan = _plan(census, "deterministic_sample")
    assert "Exchange" not in plan  # pure parallel filter, no shuffle


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    # Co-located join layout: both facts bucketed on the orderkey spine
    # → the join runs with ZERO Exchange operators (the 100 TB answer
    # to the fact-fact shuffle; bucket once at write, join forever).
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.sources.io import read_table, write_bucketed

    write_bucketed(
        read_table(spark, sf_dir, "orders"), "orders_b", ["o_orderkey"], 8
    )
    write_bucketed(
        read_table(spark, sf_dir, "lineitem"), "lineitem_b", ["l_orderkey"], 8
    )
    try:
        joined = (
            spark.table("lineitem_b")
            .hint("merge")  # forbid broadcast so colocation is what's tested
            .join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == read_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_aqe_splits_skewed_join(spark, sf_dir):
    # Runtime skew handling: 90% of fact rows land on one join key; with
    # the skew thresholds scaled to test-sized data, AQE must split the
    # hot partition (SortMergeJoin(skew=true) in the final plan) while
    # producing exactly the plain-join result.
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.sources.io import read_table

    from ucl_data_pipeline_spark.sources.io import fan_out

    confs = {
        # Scaled to test data volume (defaults target 256MB partitions)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # fan_out matters: AQE splits a skewed reduce partition along
        # MAPPER output boundaries, so a single-split scan (one mapper)
        # leaves nothing to split.
        li = fan_out(
            read_table(spark, "/root/testdata/sf0.01", "lineitem")
        ).withColumn(
            "skew_key",
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        )
        dim = read_table(spark, "/root/testdata/sf0.01", "orders").select(
            F.col("o_orderkey").alias("skew_key"),
            (F.col("o_orderkey") * 2).alias("payload"),
        )
        joined = li.hint("merge").join(dim, "skew_key").select(
            "skew_key", "l_orderkey", "payload"
        )
        rows = joined.collect()  # finalizes THIS DataFrame's adaptive plan
        assert len(rows) == 60000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    # Runtime row-level filtering: a selective filter on one join side
    # injects a bloom filter onto the probe side's scan, so most fact
    # rows die before the shuffle (thresholds scaled to test data;
    # broadcast disabled so the shuffle join path is exercised).
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.sources.io import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1024",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, "/root/testdata/sf0.01", "lineitem")
        o = read_table(spark, "/root/testdata/sf0.01", "orders").filter(
            F.col("o_totalprice") > 450000
        )
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        # and the result matches the un-bloomed join (orders without
        # lineitems legitimately drop out of the inner join)
        n_bloomed = j.count()
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        assert n_bloomed == plain.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    # Scale layout: facts partitioned by a date-derived column →
    # downstream scans prune partitions at the source.
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.sources.io import read_table, write_parquet

    orders = read_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet(orders, out, partition_by=["order_year"])
    scan = spark.read.parquet(out).filter(F.col("order_year") == 1996)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_year" in plan
    got_years = {r.order_year for r in scan.select("order_year").distinct().collect()}
    assert got_years == {1996}


def test_bloom_fpr_broadcasts_filter_never_shuffles_probes(census):
    # The bloom words (≤512 rows) and member set are broadcast; the
    # probe side joins them without any SortMergeJoin — the shape that
    # lets the runtime filter ship to a 100 TB fact scan.
    plan = _plan(census, "bloom_semi_join_fpr")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_spearman_grain_has_no_raw_row_sort(census):
    # The grain spelling's windows run over (flag, value) grain AFTER
    # a hash-agg — every Sort in the plan must sit above an aggregate,
    # never directly on the lineitem scan (that raw-row sort is
    # exactly what the window spelling pays 5.66x for at 10x).
    plan = _plan(census, "spearman_rank_via_grain")
    for frag in plan.split("Sort ")[1:]:
        # each sort's subtree (the remainder string) must contain an
        # upstream HashAggregate before the parquet scan appears
        assert "HashAggregate" in frag.split("Scan parquet")[0], (
            "Sort directly over the raw scan in grain spearman"
        )


def test_ivf2_codebook_and_probe_broadcast(census):
    # nprobe=2 keeps the nprobe=1 shape: centroid codebook and probe
    # assignments broadcast; candidates join on the list id.
    plan = _plan(census, "embedding_ivf2_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dup_span_pairs_never_cartesian(census):
    # Pair generation must go through the span-key equi-join (bounded
    # by the df cap), never a cross product.
    plan = _plan(census, "dup_span_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_fold_is_scalar_no_extra_shuffle(census):
    # The order-pinned fold reduces per-source terms inside one
    # aggregate: the plan has the per-source hash-agg plus a scalar
    # agg, and the final weight projection joins ONE broadcast row.
    plan = _plan(census, "mixture_temperature_weights")
    assert "SortMergeJoin" not in plan


def test_no_expensive_expr_inside_lambdas(census):
    # Catalyst has no CSE across higher-order-function lambda
    # boundaries: an outer expression referenced inside a transform/
    # filter/aggregate lambda is re-evaluated once per ELEMENT.
    # For a tokenizer that turns O(len) into O(len × elements) — the
    # round-7 shingles bug cost 20-30× on every shingle scan until
    # functions/text.py _let let-bound the input. This gate scans every
    # registered query's optimized plan for regex/tokenize calls inside
    # a lambda body (a let-bound input appears as a cheap lambda-var
    # reference instead, and the one legitimate split sits OUTSIDE in
    # the wrapper array).
    expensive = re.compile(
        r"split\(|regexp_extract_all\(|regexp_replace\(|sentences\("
    )
    offenders = []
    for name, built in census.items():
        if any(expensive.search(b) for b in _lambda_bodies(built.optimized)):
            offenders.append(name)
    assert not offenders, (
        f"expensive expression inside a lambda (per-element "
        f"re-evaluation) in: {offenders} — let-bind the input with "
        "functions/text.py _let"
    )


def test_no_duplicated_fold_inside_lambdas(census):
    # The round-11 embedding_pq_topk defect class: the SAME expensive
    # fold subtree appearing twice inside one lambda body — e.g.
    # array_position(dists, array_min(dists)) where dists is an
    # aggregate() fold — is re-evaluated twice per element because
    # Catalyst performs no CSE inside higher-order-function lambdas
    # (top-level projections DO get subexpression elimination; an A/B
    # measured the top-level argmin spelling at parity while the
    # intra-lambda duplicate cost ~1.9x, SCALE_NOTES round-11). The
    # fix is the same _let pattern: bind the fold once as a lambda
    # variable. This gate paren-extracts every aggregate()/reduce()
    # subtree inside every lambda body of every registered query's
    # optimized plan and flags any subtree appearing more than once
    # within one body (>= 40 chars — skips degenerate tiny folds).
    offenders = []
    for name, built in census.items():
        for b in _lambda_bodies(built.optimized):
            seen: dict[str, int] = {}
            for tok in ("aggregate(", "reduce("):
                for start, end in _paren_spans(b, tok):
                    s = b[start:end]
                    if len(s) >= 40:
                        seen[s] = seen.get(s, 0) + 1
            if any(c > 1 for c in seen.values()):
                offenders.append(name)
                break
    assert not offenders, (
        f"duplicated fold subtree inside a lambda (re-evaluated per "
        f"element, no CSE) in: {offenders} — bind the fold once with "
        "the functions/text.py _let pattern"
    )


# Queries allowed to contain single-partition Window nodes, with the
# BOUNDED grain that justifies each (re-censused for round 9; the
# verdict's 100x-scale lens: an unpartitioned ranking/cumulative window
# is only acceptable when its input grain is structurally bounded —
# days, buckets, cells, value-or-vocab grain with a documented
# bucket-first hook, or a TakeOrdered top-k). Counts are plan-tree node
# instances (lazy branch re-execution can duplicate a bounded site).
SINGLE_PARTITION_WINDOW_GRAINS = {
    "abc_classification": (1, "range-bucket offsets (bounded buckets)"),
    "acf_table_daily": (2, "calendar day grain"),
    "auc_quality_langid": (1, "ROC over score grain, bucket hook documented"),
    "autocorr_daily_revenue": (1, "calendar day grain"),
    "benjamini_hochberg_promo": (1, "p-value family grain (bounded tests)"),
    "changepoint_single_split": (1, "calendar day grain"),
    "chi_square_independence": (1, "contingency cell grain"),
    "cliffs_delta_priority": (1, "value-grain cells, bucketed twin registered"),
    "cliffs_delta_bucketed": (2, "bucket grain + value-grain audit side"),
    "cumulative_distinct_users": (1, "calendar day grain"),
    "cusum_drift_daily": (1, "calendar day grain"),
    "decile_lift_table": (3, "range-bucket offsets + 10-row decile grain"),
    "dedup_saturation_curve": (2, "bucket offsets + checkpoint spine"),
    "forecast_mase_seasonal": (1, "calendar day grain"),
    "gini_impurity_feature_split": (1, "candidate split grain"),
    "heaps_law_exponent": (4, "bucket offsets + checkpoint spine"),
    "hurst_rs_exponent": (1, "calendar day grain (block sizes bounded)"),
    "isotonic_calibration_bins": (2, "calibration bin grain (PAVA unroll)"),
    "kaplan_meier_survival": (1, "duration grain (hours, bounded)"),
    "kruskal_wallis_h": (1, "value-grain cells, bucketed twin registered"),
    "kruskal_wallis_h_bucketed": (
        2,
        "bucket grain + value-grain audit side",
    ),
    "ks_bucketed_drift": (2, "bucket grain + value-grain audit side"),
    "ks_two_sample_drift": (1, "value grain, bucketed twin registered"),
    "largest_remainder_apportion": (1, "nation grain (25 rows)"),
    "logrank_survival_ab": (1, "duration grain (hours, bounded)"),
    "mann_whitney_u": (1, "value-grain cells, bucketed twin registered"),
    "mann_whitney_u_bucketed": (2, "bucket grain + value-grain audit side"),
    "market_concentration_hhi": (1, "supplier-share grain"),
    "monetary_unit_sample": (1, "range-bucket offsets (bounded buckets)"),
    "mutual_information_flags": (1, "flag-pair cell grain"),
    "nelson_aalen_hazard": (1, "duration grain (hours, bounded)"),
    "neyman_allocation_sample": (1, "stratum grain"),
    "otsu_quality_threshold": (2, "score-histogram bin grain"),
    "page_hinkley_drift_daily": (1, "calendar day grain"),
    "periodogram_fixed_freqs": (1, "calendar day grain x fixed freqs"),
    "permutation_entropy_daily": (3, "calendar day grain"),
    "rbo_ranker_agreement": (1, "top-k rank grain (bounded k)"),
    "runs_test_daily_revenue": (1, "calendar day grain"),
    "share_of_parent_rollup": (1, "rollup group grain"),
    "sprt_sequential_test": (3, "calendar day grain (sequential walk)"),
    # r13: the rank-selection queries share bucketed_rank_select
    # (plans/registry.py); its ≤4096-row bucket-grain prefix-count window
    # appears twice in the lazy plan (target-bucket locate + rank
    # attach reference the same tiny subtree) — bounded by the bucket
    # count at any data size.
    "theil_sen_slope_daily": (2, "4096-bucket prefix counts, bucketed_rank_select"),
    "quantile_sample_error": (2, "4096-bucket prefix counts, bucketed_rank_select"),
    "range_partition_boundaries": (2, "4096-bucket prefix counts, bucketed_rank_select"),
    "unigram_neg_sampling_table": (1, "vocab grain"),
    "vocab_coverage": (1, "vocab grain"),
    "weekly_revenue_growth": (1, "calendar week grain"),
    "wilcoxon_signed_rank": (
        1,
        "value-grain cells of paired diffs, bucketed twin registered",
    ),
    "wilcoxon_signed_rank_bucketed": (
        2,
        "bucket grain + pair-grain audit side",
    ),
}


# The census counts with plan_audit.single_partition_windows, the
# detector also behind `tools/plan_audit.py windows` — one source of
# truth so the gate and the census tool cannot drift apart, and
# ReusedExchange feeds (zero children, re-emitting a planned
# SinglePartition exchange) count like Exchange feeds so duplicated
# offending sites cannot undercount (round-9 advisor finding).


def test_single_partition_windows_are_allowlisted(census):
    # The round-8 verdict's scale-killer class: a row_number/rank/
    # cumulative window over an unpartitioned Window whose input is a
    # fact/corpus table means ONE task sorts everything at 100 TB.
    # Every remaining single-partition window must be a declared
    # bounded grain above; a new query (or a regression of the 8
    # fixed in round 9 — vsm/bm25/rocchio/mann_whitney/heaps/
    # saturation/decile_lift/monetary_unit) fails here.
    offenders = []
    for name, built in census.items():
        n = built.windows
        allowed = SINGLE_PARTITION_WINDOW_GRAINS.get(name, (0, ""))[0]
        if n > allowed:
            offenders.append((name, n, allowed))
    assert not offenders, (
        "single-partition Window over an undeclared grain (fix the plan "
        "to a bounded-grain spelling — registry.bucketed_row_number / "
        "range_bucket / orderBy().limit() — or declare the bounded "
        f"grain in SINGLE_PARTITION_WINDOW_GRAINS): {offenders}"
    )
