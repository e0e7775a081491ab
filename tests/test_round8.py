"""Round-8 additions: regression-tracker baseline preservation, the
ANSI-safe adaptive sign bucket, and the self-shrinking bench summary
line."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def test_bench_history_preserves_baseline_for_shielded_regressions(
    tmp_path, monkeypatch
):
    """The ADVICE-flagged blind spot: a query with baseline norm ~1.0
    that regresses 2x (to ~2.0, below MIN_FLAG_NORM=2.5) must NOT have
    its regressed norms absorbed into the rolling median — otherwise a
    later drift past the floor compares against the already-absorbed
    level and never flags. The pre-regression baseline is preserved
    while the floors shield, so the first observation past the floor
    still fires the ratio test."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    sf = 0.1
    for _ in range(3):
        bench._flag_and_update_history({"q": 1.0}, sf, raw={"q": 1.0})
    # Regressed 2x but shielded by MIN_FLAG_NORM (2.0 < 2.5): no flag,
    # and the 2.0 observations must NOT enter the history.
    for _ in range(4):
        regs, _sup, _ = bench._flag_and_update_history({"q": 2.0}, sf, raw={"q": 2.0})
        assert regs == []
    hist = bench._load_history()
    assert hist["norms"]["q"] == [1.0, 1.0, 1.0], (
        "shielded over-ratio observations must not re-baseline the median"
    )
    # Drifts past the floor: must flag against the PRESERVED baseline.
    regs, _sup, _ = bench._flag_and_update_history({"q": 2.6}, sf, raw={"q": 2.6})
    assert [r["query"] for r in regs] == ["q"]
    assert regs[0]["median_norm"] == 1.0


def test_bench_history_still_appends_benign_observations(tmp_path, monkeypatch):
    """Sub-ratio drift (the benign case) must keep appending so the
    rolling median tracks slow environmental drift as before."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    sf = 0.1
    for norm in (1.0, 1.1, 1.2, 1.3):
        bench._flag_and_update_history({"q": norm}, sf, raw={"q": 1.0})
    hist = bench._load_history()
    assert hist["norms"]["q"] == [1.0, 1.1, 1.2, 1.3]


def test_summary_line_shrinks_to_fit_without_assert(monkeypatch):
    """The emit path must not rely on `assert` (stripped under -O):
    _summary_line output larger than the tail window is shrunk by the
    explicit loop in main(). Reproduce the loop's contract directly:
    an oversized summary converges below 2000 bytes by dropping
    queries entries."""
    import bench

    timings = {f"query_with_a_rather_long_name_{i:04d}": 1.0 + i for i in range(10)}
    out = {
        "metric": "engine_query_suite_runtime",
        "value": 1.0,
        "sf": 0.1,
        "n_queries": len(timings),
        "mean_query_sec": 1.0,
        "mean_query_sec_headline": 1.0,
        "protocol": "cold-cache-per-run",
        "regressions": [
            {"query": "x" * 150, "norm": 9.9, "median_norm": 1.0, "ratio": 9.9}
            for _ in range(20)
        ],
        "regression_candidates": 20,
    }
    summary = bench._summary_line(out, timings)
    # Simulate the main() shrink loop with a tiny budget to prove it
    # terminates and lands under budget whenever anything is droppable.
    budget = 600
    while len(json.dumps(summary)) >= budget:
        if summary.get("queries"):
            summary["queries"].popitem()
            summary["queries_truncated_to_slowest"] = len(summary["queries"])
        elif summary.get("regressions"):
            summary["regressions"].pop()
            summary["regressions_truncated"] = out.get("regression_candidates", 0)
        else:
            for k in (
                "plan_counters_note",
                "regressions_truncated",
                "regressions",
                "history_reseeded",
                "queries_full",
                "queries_truncated_to_slowest",
                "queries",
            ):
                if k in summary:
                    del summary[k]
                    break
            else:
                break
    assert len(json.dumps(summary)) < budget
    # Scalars survive the shrink: the driver always gets the metrics.
    assert summary["metric"] == "engine_query_suite_runtime"
    assert summary["n_queries"] == len(timings)


def test_adaptive_sign_bucket_short_vector_ansi(spark):
    """ADVICE r7: under ANSI mode, element_at would raise
    INVALID_ARRAY_INDEX for vectors shorter than NBITS_MAX=20 (the
    when() guard does not short-circuit); try_element_at yields NULL →
    the 0 branch, matching the DuckDB list-index-out-of-range=NULL
    semantics. Both ANSI modes must return the same bucket for a
    3-dim vector."""
    from ucl_data_pipeline_spark.functions import vector as VX

    df = spark.createDataFrame(
        [([1.0, -2.0, 3.0],), ([-1.0, 1.0, 1.0],)], "v array<double>"
    )
    expected = [0b101, 0b110]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    results = {}
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            rows = df.select(
                VX.adaptive_sign_bucket("v", F.lit(20)).alias("b")
            ).collect()
            results[mode] = [r["b"] for r in rows]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert results["false"] == expected
    assert results["true"] == expected


# ---------------------------------------------------------------------------
# extras34: the round-8 audit queries
# ---------------------------------------------------------------------------


def test_percentile_sketch_rank_error_within_band(spark, sf_dir):
    """The k=256 bottom-k-by-hash sample's median must sit within a
    4-sigma rank band of the true median: |F(sample_median) - 0.5|
    <= 4 * 1/(2*sqrt(k)) = 0.125. Rank (not value) error is the
    quantity the estimator controls."""
    from ucl_data_pipeline_spark.plans.extras34 import (
        _PS_K,
        percentile_sketch_error,
    )
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = percentile_sketch_error(spark, sf_dir).collect()
    assert len(rows) == 5  # one per event_type
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    vals = {}
    for r in ev.collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    band = 4 * (1.0 / (2 * _PS_K**0.5))
    for r in rows:
        v = sorted(vals[r["event_type"]])
        rank = sum(1 for x in v if x <= r["sample_median"]) / len(v)
        assert abs(rank - 0.5) <= band, (r["event_type"], rank)
        assert r["exact_mad"] > 0 and r["sample_mad"] > 0


def test_pagerank_residual_contracts_and_converged(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras34 import (
        _PR_TOL,
        pagerank_residual_audit,
    )

    [r] = pagerank_residual_audit(spark, sf_dir).collect()
    assert r["n_nodes"] == 25
    # Contraction: the PageRank operator shrinks the residual by at
    # most d=0.85 per superstep; observed is d*|lambda_2|, far smaller
    # on the dense trade network.
    assert r["l1_last"] <= r["l1_prev"]
    assert r["contraction_ratio"] <= 0.85
    assert r["within_tol"] is True
    assert r["l1_last"] <= _PR_TOL


def test_cc_supersteps_reach_fixpoint(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras34 import cc_superstep_convergence

    rows = sorted(
        cc_superstep_convergence(spark, sf_dir).collect(),
        key=lambda r: r["superstep"],
    )
    changed = [r["n_changed"] for r in rows]
    assert changed == sorted(changed, reverse=True), "must be non-increasing"
    assert changed[-1] == 0, (
        "label propagation must reach fixpoint within the unrolled depth"
    )
    assert changed[0] > 0, "step 1 must do real work on this corpus"


def test_salted_exec_fans_out_and_merge_joins(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras34 import join_skew_salted_exec

    df = join_skew_salted_exec(spark, sf_dir)
    rows = df.collect()
    buckets = {r["salt_buckets"] for r in rows}
    assert len(buckets) == 1
    assert buckets.pop() >= 2, (
        "the demo target must prescribe a real fan-out at this SF"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, "salting must not be hidden by broadcast"
    assert "CartesianProduct" not in plan


def test_plan_unchanged_flag_autoclears(tmp_path, monkeypatch):
    """r8/r9: an over-ratio observation whose plan-counter hash AND
    query-source hash equal the stored ones is adjudicated
    environment — no flag, the norm IS absorbed into the rolling
    median (unlike floor-shielded observations), and the observation
    is reported once in the suppressed list. A changed plan OR a
    changed source at the same ratio still flags. A query whose
    source cannot be hashed (not in the registry) never auto-clears."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    sf = 0.1
    q = "group_agg_basic"  # real registry name: source hash exists
    plan = {"Exchange hashpartitioning": 1, "HashAggregate": 2}
    for _ in range(3):
        bench._flag_and_update_history(
            {q: 3.0}, sf, raw={q: 3.0}, plans={q: plan}
        )
    regs, sup, _ = bench._flag_and_update_history(
        {q: 9.0}, sf, raw={q: 9.0}, plans={q: plan}
    )
    assert regs == [], "plan+source-unchanged drift must auto-clear"
    assert [s["query"] for s in sup] == [q], (
        "the suppressed over-ratio must be surfaced, not cleared silently"
    )
    hist = bench._load_history()
    assert 9.0 in hist["norms"][q], "environmental drift must absorb"
    # Same magnitude with a DIFFERENT plan: flags (median is now
    # [3,3,3,9] -> 3.0; 9.0 > 1.5x).
    regs, sup, _ = bench._flag_and_update_history(
        {q: 9.0}, sf, raw={q: 9.0}, plans={q: {"SortMergeJoin": 2}}
    )
    assert [r["query"] for r in regs] == [q]
    # Unchanged plan but CHANGED source: flags (r9 — expression-level
    # edits move no operator token).
    bench._flag_and_update_history({q: 3.0}, sf, raw={q: 3.0}, plans={q: plan})
    monkeypatch.setattr(bench, "_source_hash", lambda name: "deadbeef0000")
    regs, sup, _ = bench._flag_and_update_history(
        {q: 9.0}, sf, raw={q: 9.0}, plans={q: plan}
    )
    assert [r["query"] for r in regs] == [q], (
        "source-changed over-ratio drift must flag even with an "
        "unchanged plan hash"
    )
    # Synthetic name with no registry source: never auto-clears.
    monkeypatch.undo()
    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist2.json"))
    for _ in range(3):
        bench._flag_and_update_history(
            {"nope": 3.0}, sf, raw={"nope": 3.0}, plans={"nope": plan}
        )
    regs, sup, _ = bench._flag_and_update_history(
        {"nope": 9.0}, sf, raw={"nope": 9.0}, plans={"nope": plan}
    )
    assert [r["query"] for r in regs] == ["nope"]


def test_plan_counters_deterministic_and_nonzero(spark, sf_dir):
    import bench
    from ucl_data_pipeline_spark.plans import REGISTRY

    df = REGISTRY["group_agg_basic"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    c1 = bench._plan_counters(df)
    assert c1.get("HashAggregate", 0) >= 1
    df2 = REGISTRY["group_agg_basic"].fn(spark, sf_dir)
    df2.write.format("noop").mode("overwrite").save()
    assert bench._plan_hash(bench._plan_counters(df2)) == bench._plan_hash(c1)

    # Whole node names: an ObjectHashAggregate is not a HashAggregate,
    # a WindowGroupLimit is not a Window.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ids = spark.range(100).withColumn("g", F.col("id") % 3)
    obj = ids.groupBy("g").agg(F.collect_list("id"))
    w = Window.partitionBy("g").orderBy("id")
    top = ids.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
    for df in (obj, top):
        bench._execute(df)
    c = bench._plan_counters(obj)
    assert c.get("ObjectHashAggregate", 0) >= 1 and "HashAggregate" not in c
    assert "WindowGroupLimit" in top._jdf.queryExecution().executedPlan().toString()
    assert bench._plan_counters(top)["Window"] == 1


def test_plan_counters_count_past_cached_relation(spark):
    # An executed cached relation prints its own final and initial
    # plans inside the parent's; the counters walk nodes, so what the
    # plan holds after the cached scan (here the broadcast side) counts.
    import bench
    from pyspark.sql import functions as F

    a = spark.range(1000).withColumn("g", F.col("id") % 7).repartition(3, "g").persist()
    try:
        agg = spark.range(500).groupBy((F.col("id") % 7).alias("g")).agg(
            F.sum("id").alias("s")
        )
        df = a.join(F.broadcast(agg), "g")
        bench._execute(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("== Initial Plan ==") > 1
        c = bench._plan_counters(df)
    finally:
        a.unpersist()
    assert c == {
        "InMemoryTableScan": 1,
        "Exchange hashpartitioning": 2,  # the cached repartition, the agg
        "BroadcastHashJoin": 1,
        "BroadcastExchange": 1,
        "HashAggregate": 2,
    }


def test_robust_zscore_sketch_parity_frontier(spark, sf_dir):
    """Decision-level substitution audit: sampled cuts UNDER-flag
    (precision stays >= 0.97 on every row) and the worst-group recall
    improves monotonically with sample size k."""
    from ucl_data_pipeline_spark.plans.extras34 import (
        _RZ_KS,
        robust_zscore_sketch_parity,
    )

    rows = robust_zscore_sketch_parity(spark, sf_dir).collect()
    assert len(rows) == 5 * len(_RZ_KS)
    by_k = {}
    for r in rows:
        assert r["precision_vs_exact"] is None or (
            r["precision_vs_exact"] >= 0.97
        ), (r["event_type"], r["sample_k"])
        by_k.setdefault(r["sample_k"], []).append(r["recall_vs_exact"])
    worst = [min(by_k[k]) for k in sorted(by_k)]
    assert worst == sorted(worst), (
        "worst-group recall must improve with sample size"
    )


def test_percentile_sketch_python_reference(spark, sf_dir):
    """Third-engine check (pure Python, no Spark/DuckDB): rebuild the
    identical per-group bottom-256 digest sample from the parquet
    file, recompute sample median and MAD as percentile_disc order
    statistics, and require bit-equality with the Spark output —
    proving the estimator (not a tolerance band) one engine deeper
    than the oracle."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from ucl_data_pipeline_spark.plans.extras34 import (
        _PS_K,
        _PS_TAG,
        percentile_sketch_error,
    )

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "event_type", "value"],
    ).to_pydict()

    def h48(s: str) -> int:
        return int(hashlib.md5(f"{_PS_TAG}:{s}".encode()).hexdigest()[:12], 16)

    groups: dict[str, list[tuple[int, int, float]]] = {}
    for eid, et, v in zip(t["event_id"], t["event_type"], t["value"]):
        groups.setdefault(et, []).append((h48(str(eid)), eid, v))

    def pdisc(sorted_vals: list[float], q: float) -> float:
        import math

        k = math.ceil(q * len(sorted_vals))
        return sorted_vals[max(k, 1) - 1]

    expected = {}
    for et, rows in groups.items():
        rows.sort()
        samp = [v for _, _, v in rows[:_PS_K]]
        med = pdisc(sorted(samp), 0.5)
        mad = pdisc(sorted(abs(v - med) for v in samp), 0.5)
        expected[et] = (med, mad)

    for r in percentile_sketch_error(spark, sf_dir).collect():
        med, mad = expected[r["event_type"]]
        assert r["sample_median"] == med, r["event_type"]
        assert r["sample_mad"] == mad, r["event_type"]


def test_zorder_beats_linear_on_2d_probes(spark, sf_dir):
    """Structural contract of the layout audit: on BOTH probe windows
    the Z-ordered layout reads no more files and strictly less data
    than the linear sort, and the Morton-aligned window collapses to
    a single file with amplification exactly 1.0."""
    from ucl_data_pipeline_spark.plans.extras35 import zorder_layout_audit

    rows = {
        (r["layout"], r["probe"]): r
        for r in zorder_layout_audit(spark, sf_dir).collect()
    }
    assert len(rows) == 4
    for probe in ("aligned_32x32", "unaligned_32x32"):
        lin, z = rows[("linear", probe)], rows[("zorder", probe)]
        assert lin["rows_matched"] == z["rows_matched"]
        assert z["n_files_hit"] <= lin["n_files_hit"]
        assert z["rows_scanned"] < lin["rows_scanned"]
        assert z["scan_amplification"] < lin["scan_amplification"]
    al = rows[("zorder", "aligned_32x32")]
    assert al["n_files_hit"] == 1
    assert al["scan_amplification"] == 1.0


def test_theta_intersection_sketch_properties(spark, sf_dir):
    """The theta-sketch intersection audit must exercise the REAL
    sketch branch (theta < U on every pair at this SF), be
    near-unbiased in aggregate, and keep the median relative error
    inside the documented band for this overlap regime."""
    import statistics

    from ucl_data_pipeline_spark.plans.extras36 import (
        _K,
        _U,
        ndv_intersection_sketch_error,
    )

    rows = ndv_intersection_sketch_error(spark, sf_dir).collect()
    assert len(rows) == 190  # C(20, 2) source pairs
    for r in rows:
        assert r["theta"] < _U, "sketch branch must be exercised"
        assert 0 <= r["n_common"] <= _K
        assert r["est_intersection"] >= 0.0
        assert r["exact_intersection"] > 0
    rels = [r["rel_error"] for r in rows]
    assert abs(statistics.fmean(rels)) <= 0.15, "aggregate bias"
    assert statistics.median(abs(x) for x in rels) <= 0.6, "median band"


def test_morton_interleave_property(spark):
    """Property check of the Spark Morton spelling against a pure-
    Python bit-interleave reference over the FULL 256x256 domain:
    bijective (65,536 distinct codes), exact per-cell equality, and
    the locality identity used by the file assignment — the top 6
    bits of z are the interleave of the top 3 bits of qx and qy."""
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.extras35 import _morton_col

    def py_morton(qx: int, qy: int) -> int:
        z = 0
        for i in range(8):
            z |= ((qx >> i) & 1) << (2 * i + 1)
            z |= ((qy >> i) & 1) << (2 * i)
        return z

    grid = (
        spark.range(256 * 256)
        .select(
            (F.col("id") / 256).cast("bigint").alias("qx"),
            (F.col("id") % 256).cast("bigint").alias("qy"),
        )
        .select(
            "qx", "qy", _morton_col(F.col("qx"), F.col("qy")).alias("z")
        )
    )
    rows = grid.collect()
    assert len({r["z"] for r in rows}) == 256 * 256, "must be a bijection"
    for r in rows[:: 257]:  # spot-check a diagonal-ish sample, plus all below
        assert r["z"] == py_morton(r["qx"], r["qy"])
    # full-domain equality against an independent bit-op spelling
    z2 = F.lit(0).cast("bigint")
    for i in range(8):
        z2 = (
            z2
            + F.shiftleft(F.shiftright("qx", i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright("qy", i).bitwiseAND(F.lit(1)), 2 * i)
        )
    mism = grid.filter(F.col("z") != z2).count()
    assert mism == 0
    # file-assignment locality: top 6 z-bits == interleave of top-3 bits
    bad = grid.filter(
        (F.col("z") / 1024).cast("bigint")
        != _morton_col((F.col("qx") / 32).cast("bigint"), (F.col("qy") / 32).cast("bigint"))
    ).count()
    assert bad == 0


def test_theta_intersection_python_reference(spark, sf_dir):
    """Third-engine check (pure Python): rebuild the per-source KMV
    sketches from the parquet text, apply the min-theta intersection
    rule, and require bit-equality of n_common/theta/estimate with
    the Spark output for every source pair."""
    import hashlib
    import os
    import re

    import pyarrow.parquet as pq

    from ucl_data_pipeline_spark.plans.extras36 import (
        _K,
        _TAG,
        _U,
        ndv_intersection_sketch_error,
    )

    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["source", "text"]
    ).to_pydict()

    def h48(s: str) -> int:
        return int(hashlib.md5(f"{_TAG}:{s}".encode()).hexdigest()[:12], 16)

    vocab: dict[str, set] = {}
    for src, text in zip(t["source"], t["text"]):
        if text is None:
            continue
        toks = re.split(r"\s+", text.strip().lower())
        for i in range(len(toks) - 2):
            vocab.setdefault(src, set()).add(
                h48(" ".join(toks[i : i + 3]))
            )
    sk = {s: sorted(v)[:_K] for s, v in vocab.items()}
    theta = {
        s: (_U if len(v) < _K else v[-1]) for s, v in sk.items()
    }

    for r in ndv_intersection_sketch_error(spark, sf_dir).collect():
        a, b = r["source_a"], r["source_b"]
        th = min(theta[a], theta[b])
        common = len(
            {h for h in sk[a] if h < th} & {h for h in sk[b] if h < th}
        )
        assert r["theta"] == th, (a, b)
        assert r["n_common"] == common, (a, b)
        assert r["exact_intersection"] == len(vocab[a] & vocab[b]), (a, b)


def test_mv_incremental_equals_recompute(spark, sf_dir):
    """The incremental MV path must equal direct recomputation over
    the effective row set (computed independently here, not via the
    oracle), and the synthesized CDC batch must exercise both inserts
    and deletes."""
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.extras37 import (
        mv_incremental_agg_parity,
    )
    from ucl_data_pipeline_spark.sources.io import read_table

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_ins = o.filter(F.col("o_orderkey") % 7 == 0).count()
    n_del = o.filter(
        (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 == 0)
    ).count()
    assert n_ins > 0 and n_del > 0, "CDC must contain both ops"

    effective = o.filter(
        ((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 != 0))
        | (F.col("o_orderkey") % 7 == 0)
    )
    truth = {
        r["custkey"]: (r["n"], r["s"])
        for r in effective.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    }
    got = {
        r["custkey"]: (r["n_orders"], r["spend"])
        for r in mv_incremental_agg_parity(spark, sf_dir).collect()
    }
    assert got == truth, "incremental maintenance must equal recomputation"


def test_canonical_selection_prefers_quality_over_min_id(spark, sf_dir):
    """The kept doc must be the quality-argmax of its component (ties
    to smallest doc_id), and on this corpus the decision must differ
    from min-doc_id keeper selection for at least one component —
    otherwise the operator adds nothing over pairwise dedup."""
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.extras38 import cc_canonical_selection
    from ucl_data_pipeline_spark.plans.llm_ops import (
        dedup_connected_components,
        text_quality_score,
    )

    rows = cc_canonical_selection(spark, sf_dir).collect()
    assert rows, "fixture must contain multi-member components"
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup_connected_components(spark, sf_dir).collect()
    }
    q = {
        r["doc_id"]: r["quality_score"]
        for r in text_quality_score(spark, sf_dir)
        .select("doc_id", "quality_score")
        .collect()
    }
    members: dict = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    non_min = 0
    for r in rows:
        mem = members[r["component_id"]]
        assert len(mem) == r["n_members"] >= 2
        assert r["kept_doc"] in mem
        best = min(mem, key=lambda d: (-q[d], d))
        assert r["kept_doc"] == best, r["component_id"]
        if r["kept_doc"] != min(mem):
            non_min += 1
    assert non_min > 0, "quality-argmax must differ from min-id somewhere"
