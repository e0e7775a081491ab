"""Round-7 regression pins.

1. The shingle CSE fix (functions/text.py ``_let``): Catalyst has no
   common-subexpression elimination across references inside
   higher-order-function lambdas, so the pre-fix
   ``shingles(tokens(text))`` re-evaluated the tokenizing regex split
   once per OUTPUT SHINGLE (O(len × shingles) per row — measured
   10.0 s → 0.3 s at sf0.1 for the corpus shingle scan). The pin
   asserts the optimized plan contains exactly ONE ``split(`` call, so
   a future refactor that drops the let-binding (or a CollapseProject
   behavior change that re-inlines it) fails loudly instead of
   silently going quadratic.
2. ``ann_recall_frontier`` invariants: recall@3 monotone
   non-decreasing in nprobe (probing another list only adds
   candidates) and candidate counts strictly increasing — the
   driver-visible recall/latency curve must actually curve the right
   way.
3. bench.py's absolute-seconds regression floor: a sub-half-second
   query can never be flagged regardless of norm ratio (round-6's
   doc_language_mix "confirmed" a 2× on a 0.35 s query that was pure
   JIT jitter), while slow queries still flag.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import text as TX


def test_shingles_plan_evaluates_tokenizer_once(spark):
    df = spark.createDataFrame(
        [("a b c d e f",)], "text string"
    ).select(F.explode(TX.shingles(TX.tokens("text"))).alias("g"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_splits = plan.count("split(")
    assert n_splits == 1, (
        f"tokenizer split() appears {n_splits}× in the optimized plan — "
        "the shingles() let-binding (functions/text.py _let) is not "
        "protecting the input from per-element re-evaluation"
    )


def test_shingles_values_and_short_input_guard(spark):
    rows = (
        spark.createDataFrame(
            [("one two three four",), ("one two",), (None,)],
            "text string",
        )
        .select(TX.shingles(TX.tokens("text")).alias("gs"))
        .collect()
    )
    assert rows[0]["gs"] == ["one two three", "two three four"]
    assert rows[1]["gs"] == []  # shorter than k → empty, not garbage
    assert rows[2]["gs"] == []  # NULL text → empty


def test_ann_recall_frontier_monotone(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras17 import ann_recall_frontier

    rows = sorted(
        ann_recall_frontier(spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 3]
    recalls = [r["mean_recall_at_3"] for r in rows]
    cands = [r["n_candidates"] for r in rows]
    assert recalls == sorted(recalls), "recall must be monotone in nprobe"
    assert cands == sorted(cands) and len(set(cands)) == 3, (
        "candidate work must strictly grow with nprobe"
    )
    assert len({r["n_queries"] for r in rows}) == 1


def test_bench_regression_floor_ignores_subsecond_queries(tmp_path, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    sf = 0.1
    # Seed 3 prior samples at norm 1.0 for both queries.
    for _ in range(3):
        bench._flag_and_update_history(
            {"fast_q": 1.0, "slow_q": 1.0},
            sf,
            raw={"fast_q": 0.3, "slow_q": 2.0},
        )
    # Both now run at 3× their median norm; only the ≥0.5 s query flags.
    regs, _sup, reseeded = bench._flag_and_update_history(
        {"fast_q": 3.0, "slow_q": 3.0},
        sf,
        raw={"fast_q": 0.3, "slow_q": 6.0},
    )
    assert not reseeded
    flagged = {r["query"] for r in regs}
    assert flagged == {"slow_q"}, (
        "sub-half-second queries must never flag; slow ones still must"
    )


def test_bench_summary_line_fits_driver_tail():
    # The driver archives only the last ~2 KB of bench stdout; the
    # summary line (printed LAST on full runs) must always fit whole,
    # even with the longest query names in the slowest-10 map and a
    # flag-storm of regressions (capped at 8 entries).
    import json

    import bench
    from ucl_data_pipeline_spark.plans import REGISTRY

    longest = sorted(REGISTRY, key=len, reverse=True)
    timings = {n: 123.456 for n in longest}
    out = {
        "metric": "engine_query_suite_runtime",
        "value": 99999.999,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(timings),
        "mean_query_sec": 123.4567,
        "mean_query_sec_headline": 123.4567,
        "protocol": "cold-cache-per-run",
        "calib_sec_median": 12.345,
        "regression_candidates": 40,
        "history_reseeded": False,
        "regressions": [
            {
                "query": n,
                "norm": 99.999,
                "median_norm": 88.888,
                "ratio": 9.99,
                "recheck_norm": 77.777,
            }
            for n in longest[:40]
        ],
    }
    summary = bench._summary_line(out, timings)
    line = json.dumps(summary)
    assert len(line) < 2000, f"summary line {len(line)} bytes"
    assert summary["regressions_truncated"] == 40
    assert len(summary["regressions"]) == 8
    assert len(summary["queries"]) == 10


def test_frontier_family_curves(spark, sf_dir):
    # The three round-7 tuning frontiers must hold their STRUCTURAL
    # invariants on the driver fixture:
    # - MinHash: every k grades the SAME candidate pair set and errors
    #   stay in [0, 1]. (The ~1/sqrt-k error decay is an expectation —
    #   at sf0.001's handful of candidate pairs a single lucky hash
    #   can invert it, so monotonicity is NOT pinned per-fixture; the
    #   sf0.01 curve in the docstring shows the law.)
    # - Pack count is non-increasing in the budget (256|512|1024 nest,
    #   so coarser pack boundaries can only merge packs).
    # - Contamination rate falls as grams lengthen (an 8-gram match
    #   contains 5-gram matches; distinct-instance rates on the
    #   fixture follow).
    from ucl_data_pipeline_spark.plans.extras21 import (
        contamination_gram_frontier,
        minhash_size_frontier,
        pack_budget_frontier,
    )

    mh = sorted(
        minhash_size_frontier(spark, sf_dir).collect(),
        key=lambda r: r["n_hashes"],
    )
    assert [r["n_hashes"] for r in mh] == [2, 4, 6]
    assert len({r["n_pairs"] for r in mh}) == 1
    for r in mh:
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] <= 1.0, r

    pk = sorted(
        pack_budget_frontier(spark, sf_dir).collect(),
        key=lambda r: r["budget"],
    )
    assert [r["budget"] for r in pk] == [256, 512, 1024]
    assert len({r["n_docs"] for r in pk}) == 1
    packs = [r["n_packs"] for r in pk]
    assert packs == sorted(packs, reverse=True), packs

    ct = sorted(
        contamination_gram_frontier(spark, sf_dir).collect(),
        key=lambda r: r["gram_len"],
    )
    assert [r["gram_len"] for r in ct] == [3, 5, 8]
    rates = [r["contamination_rate"] for r in ct]
    assert rates == sorted(rates, reverse=True), rates


def test_curation_pipeline_ladder(spark, sf_dir):
    # Structural invariants of the end-to-end composite: one row per
    # input doc; kept rows (and ONLY kept rows) carry split + pack_id;
    # the benchmark count matches the doc_id % 97 rule.
    from ucl_data_pipeline_spark.plans.extras21 import curation_pipeline
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = curation_pipeline(spark, sf_dir).collect()
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    n_bench = sum(1 for r in rows if r["disposition"] == "benchmark")
    assert n_bench == sum(1 for r in rows if r["doc_id"] % 97 == 0)
    for r in rows:
        if r["disposition"] == "kept":
            assert r["split"] in ("train", "val", "test") and r["pack_id"] >= 0
        else:
            assert r["split"] is None and r["pack_id"] is None
    assert {r["disposition"] for r in rows} <= {
        "benchmark", "contaminated", "low_quality", "near_dup", "kept"
    }


# ---------------------------------------------------------------------------
# extras22 monitoring-statistics batch: independent Python references
# ---------------------------------------------------------------------------

def _daily_decimal(sf_dir):
    """Daily revenue as EXACT decimals — mirrors the engine's
    cast-to-DECIMAL(18,2)-then-sum spelling so the reference model
    shares the queries' arithmetic, not their code."""
    from decimal import Decimal

    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    o["day"] = o["o_orderdate"].dt.date
    o["rev"] = [Decimal(f"{x:.2f}") for x in o["o_totalprice"]]
    return o.groupby("day")["rev"].apply(lambda s: sum(s, Decimal(0)))


def test_theil_sen_matches_python_reference(spark, sf_dir):
    daily = _daily_decimal(sf_dir).sort_index()
    days = list(daily.index)
    revs = [float(v) for v in daily.values]
    slopes = []
    for i in range(len(days)):
        for j in range(i + 1, len(days)):
            slopes.append(
                round((revs[j] - revs[i]) / (days[j] - days[i]).days, 6)
            )
    slopes.sort()
    k = (len(slopes) + 1) // 2
    expect_n, expect_med = len(slopes), slopes[k - 1]

    from ucl_data_pipeline_spark.plans.extras22 import theil_sen_slope_daily

    row = theil_sen_slope_daily(spark, sf_dir).collect()[0]
    assert row["n_pairs"] == expect_n
    assert abs(row["theil_sen_slope"] - expect_med) < 1e-9


def test_kendall_tau_matches_contingency_reference(spark, sf_dir):
    # Independent spelling: pandas crosstab + O(cells²) numpy loops,
    # vs the engine's cell×cell SQL join.
    import math

    import numpy as np
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_returnflag", "l_discount", "l_tax"])
    from ucl_data_pipeline_spark.plans.extras22 import kendall_tau_via_grain

    got = {r["flag"]: r for r in kendall_tau_via_grain(spark, sf_dir).collect()}
    for flag, sub in li.groupby("l_returnflag"):
        ct = pd.crosstab(sub["l_discount"], sub["l_tax"]).to_numpy()
        xs, ys = ct.shape
        conc = disc = 0
        for a in range(xs):
            for b in range(ys):
                if not ct[a, b]:
                    continue
                for a2 in range(a + 1, xs):
                    for b2 in range(ys):
                        if ys and ct[a2, b2]:
                            if b2 > b:
                                conc += int(ct[a, b]) * int(ct[a2, b2])
                            elif b2 < b:
                                disc += int(ct[a, b]) * int(ct[a2, b2])
        n = int(ct.sum())
        n0 = n * (n - 1) / 2
        tx = sum(int(t) * (int(t) - 1) // 2 for t in ct.sum(axis=1))
        ty = sum(int(t) * (int(t) - 1) // 2 for t in ct.sum(axis=0))
        tau = (conc - disc) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
        r = got[flag]
        assert (r["concordant"], r["discordant"]) == (conc, disc), flag
        assert abs(r["tau_b"] - round(tau, 6)) < 1e-6, flag
        # engine-level sanity: tau must land in [-1, 1]
        assert -1.0 <= r["tau_b"] <= 1.0


def test_erfc_polynomial_matches_math_erfc():
    # The A&S 7.1.26 approximation used for p-values is accurate to
    # 1.5e-7 — verify the exact Horner spelling the engine ships.
    import math

    for z in [0.0, 0.1, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 4.0, 5.0]:
        x = z / math.sqrt(2.0)
        t = 1.0 / (1.0 + 0.3275911 * x)
        poly = t * (0.254829592 + t * (-0.284496736 + t * (
            1.421413741 + t * (-1.453152027 + t * 1.061405429))))
        approx = poly * math.exp(-x * x)
        assert abs(approx - math.erfc(x)) < 1.5e-7, z


def test_benjamini_hochberg_stepup_properties(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras22 import benjamini_hochberg_promo

    rows = sorted(
        benjamini_hochberg_promo(spark, sf_dir).collect(),
        key=lambda r: (r["p_value"], r["container"]),
    )
    assert rows, "no test groups survived the n>=2 filters"
    prev_q = 0.0
    for r in rows:
        # q >= p (the step-up can only inflate), q in [0, 1], and the
        # adjusted values are monotone along the p ordering — the three
        # defining properties of BH adjustment.
        assert r["q_value"] >= r["p_value"] - 1e-9
        assert 0.0 <= r["q_value"] <= 1.0
        assert r["q_value"] >= prev_q - 1e-9
        prev_q = r["q_value"]
        assert r["reject"] == (1 if r["q_value"] <= 0.05 else 0)


def test_brown_forsythe_matches_python_reference(spark, sf_dir):
    from decimal import Decimal

    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderpriority", "o_totalprice"])
    o["x"] = [Decimal(f"{v:.2f}") for v in o["o_totalprice"]]
    groups = {}
    for grp, sub in o.groupby("o_orderpriority"):
        xs = sorted(sub["x"])
        med = xs[(len(xs) + 1) // 2 - 1]  # discrete lower median
        groups[grp] = [abs(v - med) for v in xs]
    k = len(groups)
    n_total = sum(len(z) for z in groups.values())
    sum_sq_over_n = sum(
        round(float(sum(z, Decimal(0))) ** 2 / len(z), 6)
        for z in groups.values()
    )
    s_all = float(sum((sum(z, Decimal(0)) for z in groups.values()),
                      Decimal(0)))
    ssw = sum(
        round(float(sum((v * v for v in z), Decimal(0)))
              - float(sum(z, Decimal(0))) ** 2 / len(z), 6)
        for z in groups.values()
    )
    f_expect = ((n_total - k) / (k - 1)) * (
        sum_sq_over_n - s_all * s_all / n_total) / ssw

    from ucl_data_pipeline_spark.plans.extras22 import brown_forsythe_priority

    row = brown_forsythe_priority(spark, sf_dir).collect()[0]
    assert (row["n_groups"], row["n_total"]) == (k, n_total)
    assert abs(row["f_stat"] - f_expect) < 1e-4


def test_page_hinkley_matches_python_reference(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> Decimal:
        # Spark's ROUND on doubles is HALF_UP; Python's format/round are
        # half-even — mirror the engine's rounding exactly.
        return Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    daily = _daily_decimal(sf_dir).sort_index()
    mmin = float("inf")
    expect = []
    s = Decimal(0)
    terms = Decimal(0)
    for i, (day, rev) in enumerate(daily.items(), start=1):
        s += rev
        t6 = r6(float(rev) - float(s) / i)
        terms += t6
        m = float(terms)
        mmin = min(mmin, m)
        expect.append((day, float(r6(m - mmin))))

    from ucl_data_pipeline_spark.plans.extras22 import page_hinkley_drift_daily

    got = sorted(
        page_hinkley_drift_daily(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert len(got) == len(expect)
    for r, (day, ph) in zip(got, expect):
        assert r["day"] == day
        assert abs(r["ph_stat"] - ph) < 1e-6, day
        assert r["ph_stat"] >= 0.0  # PH is a drawup: m_t - prefix-min


def test_assortativity_matches_python_reference(spark, sf_dir):
    import math

    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_suppkey"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderkey", "o_custkey"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_nationkey"])
    s = pd.read_parquet(f"{sf_dir}/supplier.parquet",
                        columns=["s_suppkey", "s_nationkey"])
    j = (li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
           .merge(c, left_on="o_custkey", right_on="c_custkey")
           .merge(s, left_on="l_suppkey", right_on="s_suppkey"))
    flows = (j.groupby(["s_nationkey", "c_nationkey"]).size()
              .reset_index(name="w"))
    avg_w = flows["w"].sum() / len(flows)
    edges = flows[flows["w"] > avg_w][["s_nationkey", "c_nationkey"]]
    outd = edges.groupby("s_nationkey").size()
    ind = edges.groupby("c_nationkey").size()
    u = edges["s_nationkey"].map(outd).astype(int)
    v = edges["c_nationkey"].map(ind).astype(int)
    n = len(edges)
    num = n * int((u * v).sum()) - int(u.sum()) * int(v.sum())
    den = (math.sqrt(n * int((u * u).sum()) - int(u.sum()) ** 2)
           * math.sqrt(n * int((v * v).sum()) - int(v.sum()) ** 2))
    expect = None if den == 0 else round(num / den, 6)

    from ucl_data_pipeline_spark.plans.extras22 import (
        degree_assortativity_trade,
    )

    row = degree_assortativity_trade(spark, sf_dir).collect()[0]
    assert row["n_edges"] == n
    if expect is None:
        assert row["assortativity"] is None
    else:
        assert abs(row["assortativity"] - expect) < 1e-6


def test_source_jsd_matches_python_reference(spark, sf_dir):
    # Full union-support JSD in plain Python (Counter-based) vs the
    # engine's intersection-join + exclusive-mass decomposition.
    import math
    import re
    from collections import Counter

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["source", "text"])
    dist: dict[str, Counter] = {}
    for src, sub in d.groupby("source"):
        c = Counter()
        for t in sub["text"]:
            c.update(re.split(r"\s+", t.strip().lower()))
        dist[src] = c

    def jsd(a: Counter, b: Counter) -> float:
        na, nb = sum(a.values()), sum(b.values())
        s = 0.0
        for t in set(a) | set(b):
            p, q = a.get(t, 0) / na, b.get(t, 0) / nb
            if p:
                s += p * math.log2(2 * p / (p + q))
            if q:
                s += q * math.log2(2 * q / (p + q))
        return s / 2

    from ucl_data_pipeline_spark.plans.extras23 import source_jsd_matrix

    rows = source_jsd_matrix(spark, sf_dir).collect()
    srcs = sorted(dist)
    assert len(rows) <= len(srcs) * (len(srcs) - 1) // 2
    for r in rows:
        expect = jsd(dist[r["source_a"]], dist[r["source_b"]])
        assert abs(r["jsd"] - expect) < 1e-5, (r["source_a"], r["source_b"])
        assert 0.0 <= r["jsd"] <= 1.0
        assert r["source_a"] < r["source_b"]


def test_ann_rrf_fusion_invariants(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras23 import _RRF_K, ann_rrf_fusion
    from ucl_data_pipeline_spark.plans.llm_ops import (
        embedding_ivf_topk,
        embedding_lsh_topk,
    )

    fused = ann_rrf_fusion(spark, sf_dir).collect()
    assert fused
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in embedding_lsh_topk(spark, sf_dir).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in embedding_ivf_topk(spark, sf_dir).collect()}
    by_q: dict[int, list] = {}
    for r in fused:
        by_q.setdefault(r["query_id"], []).append(r)
        # fused candidates come only from the two input rankings
        key = (r["query_id"], r["neighbor_id"])
        assert key in lsh or key in ivf
        assert r["n_lists"] == (key in lsh) + (key in ivf)
        # score bounds: n_lists terms, each in (0, 1/(k+1)]
        assert 0.0 < r["rrf_score"] <= round(r["n_lists"] / (_RRF_K + 1), 6)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["fused_rank"])
        assert [r["fused_rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["rrf_score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        # two-list scores have a hard floor: both ranks are ≤ 3, so
        # score ≥ 2/(k+3) — any single-list score is < 1/(k+1) < that,
        # i.e. consensus neighbors always outrank single-ranker ones
        for r in rs:
            if r["n_lists"] == 2:
                assert r["rrf_score"] >= round(2 / (_RRF_K + 3), 6) - 1e-9


def test_dedup_threshold_frontier_monotone(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras24 import dedup_threshold_frontier

    rows = sorted(
        dedup_threshold_frontier(spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rows] == [0.80, 0.90, 0.95]
    # one shared candidate pass: identical pair counts per setting
    assert len({r["n_candidate_pairs"] for r in rows}) == 1
    dups = [r["n_dup_pairs"] for r in rows]
    drops = [r["n_dropped"] for r in rows]
    # raising the threshold can only shrink the dup set
    assert dups == sorted(dups, reverse=True)
    assert drops == sorted(drops, reverse=True)
    for r in rows:
        assert r["n_dropped"] <= r["n_dup_pairs"]
        assert 0.0 <= r["drop_rate"] <= 1.0
    # the injected α=0.2 class (cos≈0.98) must survive even the
    # tightest threshold: the curve is non-trivial on the fixture
    assert rows[-1]["n_dup_pairs"] > 0


def test_watermark_lateness_frontier_monotone(spark, sf_dir):
    from ucl_data_pipeline_spark.plans.extras24 import (
        watermark_lateness_frontier,
    )

    rows = sorted(
        watermark_lateness_frontier(spark, sf_dir).collect(),
        key=lambda r: r["horizon_seconds"],
    )
    assert [r["horizon_seconds"] for r in rows] == [60, 3600, 86400]
    assert len({r["n_events"] for r in rows}) == 1
    dropped = [r["n_dropped"] for r in rows]
    # a longer watermark can only drop fewer events
    assert dropped == sorted(dropped, reverse=True)
    # injected delays are 30-120 min: the 60 s horizon must drop some,
    # the 1 d horizon must drop none
    assert dropped[0] > 0
    assert dropped[-1] == 0


def test_logrank_matches_python_reference(spark, sf_dir):
    # Independent reference: per-user durations in pandas, then the
    # textbook per-event-time O/E/V loop.
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet",
                        columns=["user_id", "ts", "value"])
    rows = []
    for uid, sub in e.groupby("user_id"):
        first = sub["ts"].min()
        hit = sub.loc[sub["value"] > 200, "ts"].min()
        end = hit if pd.notna(hit) else sub["ts"].max()
        dur = (end.value // 10**3) // 3_600_000_000 \
            - (first.value // 10**3) // 3_600_000_000
        rows.append((uid % 2, dur, int(pd.notna(hit))))
    df = pd.DataFrame(rows, columns=["grp", "dur", "obs"])
    na = int((df["grp"] == 1).sum())
    nb = int((df["grp"] == 0).sum())
    o1 = 0
    e1 = v = 0.0
    n1r, n0r = na, nb
    for dur, cell in df.sort_values("dur").groupby("dur"):
        d1 = int(cell.loc[cell["grp"] == 1, "obs"].sum())
        d0 = int(cell.loc[cell["grp"] == 0, "obs"].sum())
        d, n = d1 + d0, n1r + n0r
        if d > 0:
            o1 += d1
            e1 += d * n1r / n
            if n > 1:
                v += d * n1r / n * n0r / n * (n - d) / (n - 1)
        n1r -= int((cell["grp"] == 1).sum())
        n0r -= int((cell["grp"] == 0).sum())
    chi2 = (o1 - e1) ** 2 / v

    from ucl_data_pipeline_spark.plans.extras25 import logrank_survival_ab

    row = logrank_survival_ab(spark, sf_dir).collect()[0]
    assert (row["n_users_a"], row["n_users_b"]) == (na, nb)
    assert row["observed_a"] == o1
    assert abs(row["expected_a"] - e1) < 1e-4
    assert abs(row["logrank_chi2"] - chi2) < 1e-3


def test_tokenizer_fertility_matches_python_reference(spark, sf_dir):
    import re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["lang", "n_chars", "text"])
    from ucl_data_pipeline_spark.plans.extras25 import tokenizer_fertility

    got = {r["lang"]: r for r in tokenizer_fertility(spark, sf_dir).collect()}
    for lang, sub in d.groupby("lang"):
        toks = sum(len(re.split(r"\s+", t.strip().lower())) for t in sub["text"])
        chars = int(sub["n_chars"].sum())
        r = got[lang]
        assert r["n_docs"] == len(sub)
        assert r["total_tokens"] == toks
        assert r["total_chars"] == chars
        assert abs(r["tokens_per_100_chars"] - round(toks * 100 / chars, 6)) < 1e-9


def test_srm_gate_flags_biased_splitter(spark, sf_dir):
    # The registered splitter must PASS its own gate on the fixture,
    # and the chi2 must match a plain-Python recount; a deliberately
    # biased assignment (70/20/10 observed vs 80/10/10 declared at
    # n=500) would exceed the 2-df critical value — computed here
    # directly to pin the flag threshold's meaning.
    from ucl_data_pipeline_spark.plans.extras26 import _SRM_CRIT, srm_check_split

    row = srm_check_split(spark, sf_dir).collect()[0]
    assert row["n_docs"] == row["n_train"] + row["n_val"] + row["n_test"]
    n = row["n_docs"]
    chi2 = (
        (row["n_train"] - n * 0.8) ** 2 / (n * 0.8)
        + (row["n_val"] - n * 0.1) ** 2 / (n * 0.1)
        + (row["n_test"] - n * 0.1) ** 2 / (n * 0.1)
    )
    assert abs(row["srm_chi2"] - round(chi2, 6)) < 1e-6
    assert row["srm_flag"] == (1 if chi2 > _SRM_CRIT else 0)
    # a 70/20/10 split at n=500 yields chi2 = 62.5 >> crit: the gate
    # has teeth at fixture scale
    n = 500
    biased = (
        (0.7 * n - n * 0.8) ** 2 / (n * 0.8)
        + (0.2 * n - n * 0.1) ** 2 / (n * 0.1)
        + (0.1 * n - n * 0.1) ** 2 / (n * 0.1)
    )
    assert biased > _SRM_CRIT


def test_bm25_matches_python_reference(spark, sf_dir):
    import math
    import re

    import pandas as pd

    from ucl_data_pipeline_spark.plans.extras26 import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
        _BM25_TOPN,
        bm25_doc_ranking,
    )

    d = pd.read_parquet(f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "text"])
    toks = {
        r.doc_id: re.split(r"\s+", r.text.strip().lower())
        for r in d.itertuples()
    }
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {
        term: sum(1 for t in toks.values() if term in t)
        for term in _BM25_TERMS
    }
    scores = {}
    for doc, t in toks.items():
        s, matched = 0.0, 0
        for term in _BM25_TERMS:
            tf = t.count(term)
            if tf:
                matched += 1
                idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
                s += idf * (tf * (_BM25_K1 + 1)) / (
                    tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * len(t) / avgdl)
                )
        if matched:
            scores[doc] = (round(s, 6), matched)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:_BM25_TOPN]

    got = sorted(bm25_doc_ranking(spark, sf_dir).collect(),
                 key=lambda r: r["rank"])
    assert len(got) == min(_BM25_TOPN, len(scores))
    for r, (doc, (s, matched)) in zip(got, expect):
        assert r["doc_id"] == doc
        assert r["n_terms_matched"] == matched
        assert abs(r["bm25_score"] - s) < 1e-6


def test_adaptive_sign_bucket_agrees_with_fixed_at_8_bits(spark):
    # The corpus-sized ladder resolves to 8 bits at fixture sizes; the
    # adaptive fold must then agree bit-for-bit with the fixed
    # sign_bucket — this is what keeps the changed dedup queries'
    # driver results identical where the oracle checks them.
    from ucl_data_pipeline_spark.functions import vector as VX

    df = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", VX.as_double("embedding").alias("v"))
    )
    both = df.select(
        VX.sign_bucket("v", 8).cast("long").alias("fixed"),
        VX.adaptive_sign_bucket("v", F.lit(8)).alias("adaptive"),
        VX.adaptive_sign_bucket("v", F.lit(12)).alias("wide"),
    )
    rows = both.collect()
    assert rows
    for r in rows:
        assert r["fixed"] == r["adaptive"]
        # widening only ADDS high bits: low 8 bits must be preserved
        assert r["wide"] % 256 == r["adaptive"]


def test_nbits_ladder_values(spark):
    from ucl_data_pipeline_spark.functions import vector as VX

    cases = [(1, 8), (4096, 8), (4097, 9), (8192, 9), (262144, 14),
             (16 * 2**19, 19), (16 * 2**19 + 1, 20), (10**9, 20)]
    df = spark.createDataFrame([(n,) for n, _ in cases], "n long").select(
        "n", VX.nbits_for_count(F.col("n")).alias("b")
    )
    got = {r["n"]: r["b"] for r in df.collect()}
    for n, b in cases:
        assert got[n] == b, (n, got[n], b)


def test_source_overlap_matrix_shape(spark, sf_dir):
    """Every unordered source pair appears exactly once; the estimate
    is n_agree/16 by construction and bounded in [0, 1]."""
    from ucl_data_pipeline_spark.plans.extras27 import (
        _N_PERM,
        source_minhash_overlap,
    )

    n_src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    rows = source_minhash_overlap(spark, sf_dir).collect()
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_agree"] <= _N_PERM
        assert abs(r["jaccard_est"] - r["n_agree"] / _N_PERM) < 1e-9


def test_source_signature_min_of_mins_identity(spark):
    """The aggregation trick the operator rests on: min over docs of
    per-doc MinHash == MinHash of the union of the docs' shingle sets
    (min-of-mins = min over union). Verified per permutation on a
    synthetic corpus, including a source whose doc set is duplicated
    under another name (must agree on every permutation)."""
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.functions import text as TX

    docs = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("a", "pack my box with five dozen liquor jugs"),
            ("c", "the quick brown fox jumps over the lazy dog"),
            ("c", "pack my box with five dozen liquor jugs"),
            ("b", "sphinx of black quartz judge my vow today"),
        ],
        "source string, text string",
    )
    feats = docs.select(
        "source", F.array_distinct(TX.shingles(TX.tokens("text"))).alias("f")
    )
    n_perm = 4
    agg = (
        feats.select(
            "source", *[TX.minhash(F.col("f"), s).alias(f"m{s}") for s in range(n_perm)]
        )
        .groupBy("source")
        .agg(*[F.min(f"m{s}").alias(f"m{s}") for s in range(n_perm)])
    )
    union = (
        feats.select("source", F.explode("f").alias("g"))
        .groupBy("source")
        .agg(F.collect_set("g").alias("f"))
        .select(
            "source", *[TX.minhash(F.col("f"), s).alias(f"u{s}") for s in range(n_perm)]
        )
    )
    j = {r["source"]: r for r in agg.join(union, "source").collect()}
    assert set(j) == {"a", "b", "c"}
    for src, r in j.items():
        for s in range(n_perm):
            assert r[f"m{s}"] == r[f"u{s}"], (src, s)
    for s in range(n_perm):
        assert j["a"][f"m{s}"] == j["c"][f"m{s}"]
        assert j["a"][f"m{s}"] != j["b"][f"m{s}"]


def test_source_overlap_plan_shape(spark, sf_dir):
    """Plan property: doc->source collapse happens via map-side
    partial_min combine (shuffle bytes independent of corpus size) and
    the pairwise stage is a broadcast join over the aggregated table —
    never a cartesian doc-pair stage."""
    from ucl_data_pipeline_spark.plans.extras27 import source_minhash_overlap

    df = source_minhash_overlap(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_join_cardinality_audit_semantics(spark, sf_dir):
    """On the five FK edges the PK side is unique and FK integrity
    holds, so the System-R estimate is provably exact: est_rows ==
    actual_rows == n_right and q_error == 1.0 — the audit doubles as
    an FK-integrity check. The many-to-many nationkey edge is where
    uniform-frequency meets skew: q_error must exceed 1 there iff the
    per-nation count products deviate from uniform. q_error >= 1 is a
    mathematical invariant (max(r, 1/r))."""
    from ucl_data_pipeline_spark.plans.extras28 import (
        _FK_JOINS,
        join_cardinality_audit,
    )

    rows = {r["join_name"]: r for r in join_cardinality_audit(spark, sf_dir).collect()}
    assert set(rows) == {name for name, *_ in _FK_JOINS}
    for name, r in rows.items():
        assert r["q_error"] >= 1.0, (name, r["q_error"])
        # estimate recomputed from the row's own stats
        est = r["n_left"] * r["n_right"] / max(r["ndv_left"], r["ndv_right"])
        assert abs(r["est_rows"] - round(est, 6)) < 1e-9, name
    for name in (
        "customer_orders",
        "orders_lineitem",
        "part_lineitem",
        "supplier_lineitem",
        "nation_customer",
    ):
        r = rows[name]
        assert r["actual_rows"] == r["n_right"], name
        assert r["q_error"] == 1.0, name
    # the m2m edge: actual computed independently at row level on the
    # tiny fixture (the one place the test MAY afford the real join)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    true_m2m = c.join(s, c.c_nationkey == s.s_nationkey).count()
    assert rows["cust_supp_nation_m2m"]["actual_rows"] == true_m2m


def test_join_cardinality_audit_plan_shape(spark, sf_dir):
    """Plan property: every side collapses to key grain with a
    map-side partial_count combine BEFORE any join; the only
    non-equi-join stages are the broadcast singleton cross-joins. No
    CartesianProduct, no row-level join of the base tables."""
    from ucl_data_pipeline_spark.plans.extras28 import join_cardinality_audit

    df = join_cardinality_audit(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_join_skew_advisor_semantics(spark, sf_dir):
    """Invariants: skew_factor >= 1 (max >= mean always), top_share in
    (0, 1], mean_cnt recomputes from the row's own integers, and the
    events.user_id profile matches an independently-spelled pandas
    computation (value_counts on the tiny fixture)."""
    from ucl_data_pipeline_spark.plans.extras29 import (
        _SKEW_KEYS,
        join_skew_advisor,
    )

    rows = {r["key_col"]: r for r in join_skew_advisor(spark, sf_dir).collect()}
    assert set(rows) == {label for label, *_ in _SKEW_KEYS}
    for label, r in rows.items():
        assert r["skew_factor"] >= 1.0, label
        assert 0.0 < r["top_share"] <= 1.0, label
        assert abs(r["mean_cnt"] - round(r["n_rows"] / r["ndv"], 6)) < 1e-9
        assert r["max_cnt"] * r["ndv"] >= r["n_rows"], label
        assert r["salt_buckets"] == -(-r["max_cnt"] // 100_000), label
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .toPandas()["user_id"]
        .value_counts()
    )
    r = rows["events.user_id"]
    assert r["n_rows"] == int(ev.sum())
    assert r["ndv"] == len(ev)
    assert r["max_cnt"] == int(ev.max())
    # top_key: SMALLEST key among maximal counts
    assert r["top_key"] == int(min(k for k, c in ev.items() if c == ev.max()))


def test_join_skew_advisor_salt_ceil_boundary(spark):
    """The salt prescription is integer ceil-division — exact on the
    100k boundary where a float spelling could fork cross-engine."""
    df = spark.createDataFrame(
        [(1,), (99_999,), (100_000,), (100_001,), (200_000,), (200_001,)],
        "max_cnt long",
    ).select(
        "max_cnt",
        F.expr("(max_cnt + 99999) div 100000").alias("s"),
    )
    got = {r["max_cnt"]: r["s"] for r in df.collect()}
    assert got == {1: 1, 99_999: 1, 100_000: 1, 100_001: 2, 200_000: 2, 200_001: 3}


def test_join_skew_advisor_plan_shape(spark, sf_dir):
    """Plan property: each key profile is ONE pass over the fact
    rows — grain hash-agg with map-side partial_count; the argmax and
    advisory math run on the NDV-grain table via broadcast singletons.
    No CartesianProduct, no sort, no row-level self-join."""
    from ucl_data_pipeline_spark.plans.extras29 import join_skew_advisor

    df = join_skew_advisor(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "Sort " not in plan


def test_doc_lm_cross_entropy_semantics(spark, sf_dir):
    """Model checks against an independent pure-Python reference on a
    synthetic corpus written to a temp dir: a doc that repeats the
    corpus's dominant token scores LOW cross-entropy; a doc of
    corpus-rare tokens scores HIGH — even though the rare-token doc
    ALSO has high self-entropy while the dominant-token doc's is zero
    (the signal unigram_entropy cannot give). Values match the
    reference formula to the 6dp rounding contract."""
    import math
    import tempfile

    from ucl_data_pipeline_spark.plans.extras30 import doc_lm_cross_entropy

    docs = [
        ("d1", "common common common common common common"),
        ("d2", "rare1 rare2 rare3 rare4 rare5 rare6"),
        ("d3", "common rare1 common common rare2 common"),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(i, t, "s") for i, t in docs], "doc_id string, text string, source string"
        ).write.parquet(f"{td}/documents.parquet")
        rows = {
            r["doc_id"]: r
            for r in doc_lm_cross_entropy(spark, td).collect()
        }
    # python reference
    from collections import Counter

    corpus = Counter(tok for _, t in docs for tok in t.split())
    n_corpus = sum(corpus.values())
    for doc_id, t in docs:
        toks = Counter(t.split())
        n = sum(toks.values())
        s = sum(
            round(c * math.log2(n_corpus / corpus[w]), 6)
            for w, c in toks.items()
        )
        r = rows[doc_id]
        assert r["n_tokens"] == n
        assert abs(r["cross_entropy_bits"] - round(s / n, 6)) < 1e-6, doc_id
    assert rows["d1"]["cross_entropy_bits"] < rows["d3"]["cross_entropy_bits"]
    assert rows["d3"]["cross_entropy_bits"] < rows["d2"]["cross_entropy_bits"]
    for r in rows.values():
        assert abs(
            r["perplexity"] - round(2.0 ** r["cross_entropy_bits"], 6)
        ) < 1e-6


def test_doc_lm_cross_entropy_plan_shape(spark, sf_dir):
    """Plan property: the corpus LM is a RE-aggregation of the
    persisted (doc, token)-grain table — one corpus explode total;
    every shuffle is a grain hash-agg with map-side partial combine;
    the total-token scalar joins as a broadcast singleton. No
    CartesianProduct."""
    from ucl_data_pipeline_spark.plans.extras30 import doc_lm_cross_entropy

    df = doc_lm_cross_entropy(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # grain table reused, not re-scanned


def test_kmv_sketch_python_reference(spark, sf_dir):
    """The whole sketch is cross-engine-defined by the hash spelling,
    so a THIRD engine (pure Python hashlib) must reproduce it too:
    exact NDV, the k-th minimum 48-bit hash, the estimate, and the
    rel_error for orders.o_custkey — computed independently from the
    parquet file."""
    import hashlib

    from ucl_data_pipeline_spark.plans.extras31 import (
        _AUDIT_COLS,
        _EST_NUM,
        _K,
        ndv_kmv_sketch_error,
    )

    rows = {r["col_name"]: r for r in ndv_kmv_sketch_error(spark, sf_dir).collect()}
    assert set(rows) == {label for label, *_ in _AUDIT_COLS}
    tag = [i for i, (label, *_ ) in enumerate(_AUDIT_COLS)
           if label == "orders.o_custkey"][0]
    vals = set(
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey").toPandas()["o_custkey"].dropna()
    )
    hs = sorted(
        {int(hashlib.md5(f"{tag}:{v}".encode()).hexdigest()[:12], 16) for v in vals}
    )
    r = rows["orders.o_custkey"]
    assert r["exact_ndv"] == len(hs)
    if len(hs) >= _K:
        kth = hs[_K - 1]
        est = _EST_NUM / kth
    else:
        kth = hs[-1]
        est = float(len(hs))
    assert r["kth_min_hash"] == kth
    assert abs(r["ndv_est"] - round(est, 6)) < 1e-9
    assert abs(
        r["rel_error"] - round((est - len(hs)) / len(hs), 6)
    ) < 1e-9
    # estimator sanity across all columns: KMV at k=64 concentrates
    # within ~4 sigma of 1/sqrt(62)
    for label, r in rows.items():
        assert abs(r["rel_error"]) < 0.55, (label, r["rel_error"])


def test_kmv_small_cardinality_branch(spark):
    """Fewer than k distinct values -> the sketch IS the exact set and
    the estimator must return the exact count with zero error."""
    import tempfile

    from ucl_data_pipeline_spark.plans.extras31 import _kmv_one

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(i % 10,) for i in range(1000)], "o_custkey long"
        ).write.parquet(f"{td}/orders.parquet")
        r = _kmv_one(spark, td, 2, "orders.o_custkey", "orders", "o_custkey").collect()[0]
    assert r["exact_ndv"] == 10
    assert r["ndv_est"] == 10.0
    assert r["rel_error"] == 0.0


def test_kmv_plan_shape(spark, sf_dir):
    """Plan property: the bottom-k is TakeOrderedAndProject over
    the NDV-grain distinct-hash table (per-partition top-k + k-row
    merge), never a global sort exchange; no CartesianProduct."""
    from ucl_data_pipeline_spark.plans.extras31 import ndv_kmv_sketch_error

    df = ndv_kmv_sketch_error(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_copurchase_pairs_no_join_plan(spark, sf_dir):
    """The round-7 rewrite's contract: pair generation is scan-side
    array math after ONE order-grain hash-agg — there is NO join
    operator left to mis-size (the old basket self-join's fact-sized
    build side was getting auto-broadcast). partial_ aggregation
    (map-side combine) must appear for the collect_set stage."""
    from ucl_data_pipeline_spark.plans.extras3 import copurchase_pairs

    df = copurchase_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_collect_set" in plan or "objHashAggregate" in plan.lower()


def test_kmv_merge_parity_gate(spark, sf_dir):
    """The mergeability theorem, checked end-to-end: the bottom-k of
    the union of per-source bottom-k sketches equals the direct
    global bottom-k — same k-th minimum, same sketch size, gate true.
    Per-source rows carry a NULL gate; row count = |sources| + 2."""
    from ucl_data_pipeline_spark.plans.extras32 import kmv_merge_parity

    rows = kmv_merge_parity(spark, sf_dir).collect()
    by_scope = {r["scope"]: r for r in rows}
    n_src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source").distinct().count()
    )
    assert len(rows) == n_src + 2
    m, d = by_scope["__merged__"], by_scope["__direct__"]
    assert m["est_matches_direct"] is True
    assert m["kth_min_hash"] == d["kth_min_hash"]
    assert m["n_sketch"] == d["n_sketch"]
    assert m["ndv_est"] == d["ndv_est"]
    for scope, r in by_scope.items():
        if scope not in ("__merged__", "__direct__"):
            assert r["est_matches_direct"] is None
            # a per-source sketch can never see MORE hashes than k
            assert r["n_sketch"] <= 64


def test_kmv_merge_parity_plan_shape(spark, sf_dir):
    """Plan property: per-source bottom-k via a window sort
    WITHIN source partitions; the merged bottom-k is a TakeOrdered
    over the sketch-sized pool (k x |sources| rows max). No
    CartesianProduct."""
    from ucl_data_pipeline_spark.plans.extras32 import kmv_merge_parity

    df = kmv_merge_parity(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bench_norm_floor_ignores_overhead_dominated_queries(tmp_path, monkeypatch):
    """The cohort_retention case: a query just OVER the absolute 0.5 s
    floor but still within 2.5x of calibration (norm < MIN_FLAG_NORM)
    is scheduler-overhead-dominated and must not flag even at a >1.5x
    ratio; a genuinely plan-regressed query (norm well past the floor)
    still must."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    sf = 0.1
    for _ in range(3):
        bench._flag_and_update_history(
            {"overhead_q": 0.9, "real_q": 3.0},
            sf,
            raw={"overhead_q": 0.27, "real_q": 0.9},
        )
    regs, _sup, _ = bench._flag_and_update_history(
        # overhead_q: ratio 2.1, raw 0.57 (over absolute floor), but
        # norm 1.9 < MIN_FLAG_NORM -> not a flaggable regime.
        # real_q: ratio 2.0 at norm 6.0 -> flags.
        {"overhead_q": 1.9, "real_q": 6.0},
        sf,
        raw={"overhead_q": 0.57, "real_q": 1.8},
    )
    assert {r["query"] for r in regs} == {"real_q"}


def test_quantile_sample_python_reference(spark, sf_dir):
    """Third-engine check (pure Python): rebuild the identical
    bottom-1024 hash sample from the parquet file, recompute
    percentile_disc by hand (value at 1-indexed rank ceil(q*n)), and
    match both the sampled and exact quantiles bit-for-bit."""
    import hashlib
    import math

    from ucl_data_pipeline_spark.plans.extras33 import (
        _QS,
        _SAMPLE_K,
        _TAG,
        quantile_sample_error,
    )

    rows = {r["quantile"]: r for r in quantile_sample_error(spark, sf_dir).collect()}
    assert set(rows) == {float(q) for q in _QS}
    pdf = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).toPandas()

    def h(o, l):
        return int(
            hashlib.md5(f"{_TAG}:{o}:{l}".encode()).hexdigest()[:12], 16
        )

    def pdisc(vals, q):
        vs = sorted(vals)
        return vs[max(0, math.ceil(q * len(vs)) - 1)]

    pdf["h"] = [h(o, l) for o, l in zip(pdf.l_orderkey, pdf.l_linenumber)]
    sample = pdf.nsmallest(_SAMPLE_K, "h")["l_extendedprice"].tolist()
    full = pdf["l_extendedprice"].tolist()
    for q in _QS:
        r = rows[float(q)]
        assert r["sample_value"] == float(pdisc(sample, float(q))), q
        assert r["exact_value"] == float(pdisc(full, float(q))), q
        # k=1024 on the fixture: error concentrated well under 10%
        assert abs(r["rel_error"]) < 0.1, (q, r["rel_error"])


def test_quantile_sample_plan_shape(spark, sf_dir):
    """Plan property: the sample side is a TakeOrderedAndProject
    (per-partition bottom-k + k-row merge) — the sampled data is
    never shuffled; the exact side is the audited-against full
    aggregate. No CartesianProduct beyond the broadcast singleton
    cross."""
    from ucl_data_pipeline_spark.plans.extras33 import quantile_sample_error

    df = quantile_sample_error(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
