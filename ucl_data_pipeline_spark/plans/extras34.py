"""Round-8 batch 1: audit queries that turn three standing 100 TB
claims into driver-verifiable artifacts —

- ``percentile_sketch_error``: the documented substitution "at scale,
  sampled/sketched quantiles replace exact percentile buffers"
  (SCALE_NOTES round-7 percentile-buffer adjudication), measured at
  the EXACT cuts ``robust_zscore_outliers`` uses: per-event_type
  median, then MAD. The sampled path draws the k rows with the
  smallest row-key hash PER GROUP (the extras33 bottom-k-by-hash
  estimator, pushed down to group grain) and chains BOTH cuts off
  that one sample — the second buffer (MAD) runs over k rows instead
  of the full group, which is precisely what kills the
  bandwidth-sensitive double-buffer cost at scale.

- ``pagerank_residual_audit``: "5 supersteps is enough" for the
  fixed-iteration PageRank family, as a number instead of a constant
  in the code: the L1 residual between the last two rank frames, the
  previous residual, and their ratio — bounded above by the damping
  factor d=0.85 (the worst-case contraction rate of the PageRank
  operator; the observed rate is d·|λ₂| of the flow matrix, far
  smaller on a dense trade network), so the audit ALSO verifies the
  iteration is contracting as theory says, not merely "small by
  luck".

- ``cc_superstep_convergence``: the same claim for label-propagation
  connected components — labels changed per unrolled superstep over
  the exact CC edge set; reaching 0 within the unrolled depth proves
  the early-exit loop in ``dedup_connected_components`` terminates at
  near-dup-cluster diameter, not at the 20-round cap.

- ``join_skew_salted_exec``: closes the advisor → execution loop of
  ``join_skew_advisor`` (extras29): derive the salt fan-out from the
  data INSIDE the plan (ceil(max key frequency / target), the
  advisor's prescription spelling), execute the salted sort-merge
  join it prescribes, and hash-match the plain-join oracle — salted
  ≡ unsalted, with the prescribed fan-out emitted as a column.

Registry conventions (plans/registry.py): percentile_disc order
statistics (actual data values, never interpolated); exact BIGINT
counts; doubles only in final divisions of deterministic values,
ROUND 6/12; NULLIF-guarded divisions; bottom-k samples via the shared
48-bit md5 digest so both engines draw identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.extras31 import _h48, _sql_h48
from ucl_data_pipeline_spark.plans.graph import (
    PAGERANK_CTE_PREFIX,
    _N_ITER,
    pagerank_rank_chain,
)
from ucl_data_pipeline_spark.plans.llm_ops import CC_EDGES_SQL_CTES, cc_edge_set
from ucl_data_pipeline_spark.plans.registry import register, sql_percentile_disc
from ucl_data_pipeline_spark.sources.io import read_table

# ---------------------------------------------------------------------------
# Percentile sketch twin at robust_zscore's cuts (median + MAD)
# ---------------------------------------------------------------------------

_PS_K = 256  # sample rows per group: rank error concentrates ~1/(2*sqrt(k)) ~ 3%
_PS_TAG = 2100


_PS_ORACLE = f"""
WITH keyed AS (
  SELECT event_type, event_id, value AS v,
         {_sql_h48("event_id", _PS_TAG)} AS h
  FROM events
), samp AS (
  SELECT event_type, v
  FROM keyed
  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id)
          <= {_PS_K}
), smed AS (
  SELECT event_type, CAST({sql_percentile_disc("0.5", "v")} AS DOUBLE) AS med_s
  FROM samp GROUP BY event_type
), smad AS (
  SELECT s.event_type,
         CAST({sql_percentile_disc("0.5", "abs(s.v - m.med_s)")} AS DOUBLE) AS mad_s
  FROM samp s JOIN smed m USING (event_type)
  GROUP BY s.event_type
), emed AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST({sql_percentile_disc("0.5", "value")} AS DOUBLE) AS med_e
  FROM events GROUP BY event_type
), emad AS (
  SELECT e.event_type,
         CAST({sql_percentile_disc("0.5", "abs(e.value - m.med_e)")} AS DOUBLE) AS mad_e
  FROM events e JOIN emed m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type, e.n_rows,
       e.med_e AS exact_median,
       sm.med_s AS sample_median,
       ROUND((sm.med_s - e.med_e) / NULLIF(e.med_e, 0.0), 6)
         AS median_rel_error,
       d.mad_e AS exact_mad,
       sd.mad_s AS sample_mad,
       ROUND((sd.mad_s - d.mad_e) / NULLIF(d.mad_e, 0.0), 6)
         AS mad_rel_error
FROM emed e
JOIN emad d USING (event_type)
JOIN smed sm USING (event_type)
JOIN smad sd USING (event_type)
"""


@register(
    "percentile_sketch_error",
    oracle=_PS_ORACLE,
    tags=("stats", "sketch", "sample"),
)
def percentile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled median and MAD per event_type vs the exact two-buffer
    spelling ``robust_zscore_outliers`` pays for — one row per group
    with both signed relative errors.

    This is the class-level mitigation for the percentile-buffer
    bandwidth drift the bench kept re-adjudicating (SCALE_NOTES r7):
    robust_zscore's two buffers are inherently sequential (MAD needs
    the median first), so the array-form collapse cannot help it; the
    scale substitution is to run BOTH cuts over one deterministic
    per-group sample. The sample is the k=256 rows with the smallest
    48-bit row-key digest per group — uniform, mergeable (bottom-k of
    a union = bottom-k of merged bottom-k's), engine-independent, and
    the MAD pass then touches k rows instead of the full group.

    Plan shape (the 100 TB contract): the sample selection is one
    window rank over (event_type, digest) — a sort at group grain the
    exact percentile buffer pays anyway — after which every
    percentile buffer in the sampled path is k-bounded regardless of
    group size; the exact side (present to be audited against, like
    exact_ndv in the KMV audit) is the cost being replaced. Rank
    error at k=256 concentrates at ~1/(2·sqrt(k)) ≈ 3%; the pytest
    asserts the observed errors inside a 4-sigma band.

    Determinism: both engines draw the IDENTICAL sample (shared
    md5-hex 48-bit digest of the unique event_id, tag 2100, ties
    broken by event_id), and percentile_disc returns actual data
    values — sampled and exact cuts are bit-identical cross-engine;
    error divisions are IEEE on those values, ROUND 6,
    NULLIF-guarded.
    """
    e = read_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_type",
        "event_id",
        F.col("value").alias("v"),
        _h48(F.col("event_id").cast("string"), _PS_TAG).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PS_K)
        .select("event_type", "v")
    )
    smed = samp.groupBy("event_type").agg(
        F.expr(sql_percentile_disc("0.5", "v")).cast("double").alias("med_s")
    )
    smad = (
        samp.join(F.broadcast(smed), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(sql_percentile_disc("0.5", "abs(v - med_s)"))
            .cast("double")
            .alias("mad_s")
        )
    )
    emed = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr(sql_percentile_disc("0.5", "value")).cast("double").alias("med_e"),
    )
    emad = (
        e.join(F.broadcast(emed.select("event_type", "med_e")), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(sql_percentile_disc("0.5", "abs(value - med_e)"))
            .cast("double")
            .alias("mad_e")
        )
    )
    return (
        emed.join(emad, "event_type")
        .join(F.broadcast(smed), "event_type")
        .join(F.broadcast(smad), "event_type")
        .select(
            "event_type",
            "n_rows",
            F.col("med_e").alias("exact_median"),
            F.col("med_s").alias("sample_median"),
            F.round(
                (F.col("med_s") - F.col("med_e"))
                / F.nullif(F.col("med_e"), F.lit(0.0)),
                6,
            ).alias("median_rel_error"),
            F.col("mad_e").alias("exact_mad"),
            F.col("mad_s").alias("sample_mad"),
            F.round(
                (F.col("mad_s") - F.col("mad_e"))
                / F.nullif(F.col("mad_e"), F.lit(0.0)),
                6,
            ).alias("mad_rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank convergence residual
# ---------------------------------------------------------------------------

_PR_TOL = 0.01  # documented L1 tolerance for "5 supersteps is enough"

_PR_RESID_ORACLE = f"""{PAGERANK_CTE_PREFIX}
, d_last AS (
  SELECT a.node, ROUND(ABS(b.rank - a.rank), 12) AS d
  FROM r{_N_ITER - 1} a JOIN r{_N_ITER} b USING (node)
), d_prev AS (
  SELECT a.node, ROUND(ABS(b.rank - a.rank), 12) AS d
  FROM r{_N_ITER - 2} a JOIN r{_N_ITER - 1} b USING (node)
), sl AS (
  SELECT CAST(SUM(CAST(d AS DECIMAL(28,12))) AS DOUBLE) AS l1_last,
         MAX(d) AS max_abs_delta,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM d_last
), sp AS (
  SELECT CAST(SUM(CAST(d AS DECIMAL(28,12))) AS DOUBLE) AS l1_prev
  FROM d_prev
)
SELECT sl.n_nodes,
       sl.l1_last,
       sp.l1_prev,
       ROUND(sl.l1_last / NULLIF(sp.l1_prev, 0.0), 6) AS contraction_ratio,
       sl.max_abs_delta,
       sl.l1_last <= {_PR_TOL} AS within_tol
FROM sl CROSS JOIN sp
"""


@register(
    "pagerank_residual_audit",
    oracle=_PR_RESID_ORACLE,
    tags=("graph", "iterative", "stats"),
)
def pagerank_residual_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence audit for the fixed-superstep PageRank
    (pagerank_trade_network, graph.py): ONE row with the L1 residual
    between the last two rank frames, the previous step's residual,
    and their ratio — plus a within-tolerance verdict at the
    documented L1 tolerance 0.01.

    Why the ratio: ||r_{{k+1}} − r_k||₁ contracts by AT MOST the
    damping factor d=0.85 per superstep for a stochastic PageRank
    operator — the observed rate is d·|λ₂| of the column-stochastic
    flow matrix, and a dense near-regular 25-nation trade network
    mixes almost instantly (measured ratio ≈ 0.02 at sf0.01) — so
    contraction_ratio ≤ d verifies the ITERATION IS the contraction
    theory promises (a ratio near or above 1 would mean the
    constant-5 unroll is a guess; a tiny residual with ratio ≪ d
    proves every further superstep buys at least another ratio×).
    This converts "enough supersteps" from a constant in graph.py:28
    into a driver-verifiable number, per the round-7 brief.

    Plan shape: the audit reuses the SAME lazy rank chain (shared
    pagerank_rank_chain — not a re-implementation), differencing the
    last three frames with two broadcast joins over node-count-sized
    (25-row) tables; cost is one extra superstep's worth of plan, no
    new shuffles over the edge table.

    Determinism: every rank is 12-dp rounded each superstep (the
    PageRank convention), so per-node |Δ| is an exact IEEE difference
    of identical doubles, re-rounded to 12 dp and summed in
    DECIMAL(28,12) — both residuals and their ratio are bit-identical
    cross-engine, and the boolean verdict compares deterministic
    doubles against an exact literal.
    """
    chain = pagerank_rank_chain(spark, sf_dir, _N_ITER)
    # Persist the three 25-row frames: r_prev feeds BOTH residuals and
    # every frame's lineage contains all prior supersteps — without
    # this the two agg branches recompile/execute the superstep chain
    # repeatedly (measured: 178 Exchange nodes -> ~60, 4.6 s -> 2.6 s
    # warm at sf0.1). Node-count-bounded cache, not data-sized.
    r_prev2, r_prev, r_last = (c.persist() for c in chain[-3:])

    def _resid(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.select("node", F.col("rank").alias("ra"))
            .join(
                F.broadcast(b.select("node", F.col("rank").alias("rb"))),
                "node",
            )
            .select("node", F.round(F.abs(F.col("rb") - F.col("ra")), 12).alias("d"))
        )

    sl = _resid(r_prev, r_last).agg(
        F.sum(F.col("d").cast("decimal(28,12)")).cast("double").alias("l1_last"),
        F.max("d").alias("max_abs_delta"),
        F.count("*").cast("bigint").alias("n_nodes"),
    )
    sp = _resid(r_prev2, r_prev).agg(
        F.sum(F.col("d").cast("decimal(28,12)")).cast("double").alias("l1_prev")
    )
    return sl.crossJoin(F.broadcast(sp)).select(
        "n_nodes",
        "l1_last",
        "l1_prev",
        F.round(
            F.col("l1_last") / F.nullif(F.col("l1_prev"), F.lit(0.0)), 6
        ).alias("contraction_ratio"),
        "max_abs_delta",
        (F.col("l1_last") <= F.lit(_PR_TOL)).alias("within_tol"),
    )


# ---------------------------------------------------------------------------
# Connected-components superstep convergence
# ---------------------------------------------------------------------------

_CC_STEPS = 3


def _sql_cc_step(prev: str, cur: str) -> str:
    """One unrolled min-label-propagation step (mirrors the Spark loop
    body in dedup_connected_components expression-for-expression)."""
    return f"""{cur} AS (
  SELECT x.doc_id, MIN(x.component_id) AS component_id FROM (
    SELECT doc_id, component_id FROM {prev}
    UNION ALL
    SELECT e.src AS doc_id, p.component_id
    FROM edges e JOIN {prev} p ON p.doc_id = e.dst
  ) x GROUP BY x.doc_id
)"""


_CC_CONV_ORACLE = (
    rf"""
WITH {CC_EDGES_SQL_CTES}, l0 AS (
  SELECT doc_id, doc_id AS component_id FROM documents
),
"""
    + ",\n".join(_sql_cc_step(f"l{k}", f"l{k + 1}") for k in range(_CC_STEPS))
    + "\n"
    + " UNION ALL ".join(
        f"""
SELECT CAST({k + 1} AS INTEGER) AS superstep,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM l{k + 1} n JOIN l{k} o USING (doc_id)
        WHERE n.component_id <> o.component_id) AS n_changed"""
        for k in range(_CC_STEPS)
    )
)


@register(
    "cc_superstep_convergence",
    oracle=_CC_CONV_ORACLE,
    tags=("dedup", "llm", "iterative", "stats"),
)
def cc_superstep_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labels changed per superstep for min-label propagation over the
    EXACT connected-components edge set (shared cc_edge_set — not a
    re-derivation): one row per unrolled superstep (1..3) with the
    count of documents whose component label changed in that step.

    dedup_connected_components runs the same propagation with a
    driver-side early exit capped at 20 rounds; this audit makes its
    termination claim ("near-dup clusters are shallow — a handful of
    rounds") driver-verifiable: n_changed must hit 0 within the
    unrolled depth, and the step-over-step decay profile is the
    cluster-diameter distribution made visible. The pytest asserts
    the final step's count is 0 (propagation fully converged at depth
    3 on this corpus).

    Plan shape (r12): each superstep is one broadcast join (edges are
    sparse near-dup pairs, tiny vs the corpus) + a min hash-agg at
    EDGE-NODE grain — identical per-step cost to the CC query itself;
    the changed-count rides the same aggregate (the own-label fold),
    so it is a filter over the checkpointed step frame, not a join.
    Labels are localCheckpointed per step (the CC loop's own lineage
    policy), so the three counts don't re-execute shared superstep
    lineage.

    Determinism: labels are exact MIN aggregates of doc_ids (total
    order, no floats anywhere) — counts are bit-identical
    cross-engine by construction.
    """
    edges = cc_edge_set(spark, sf_dir)
    # r12 (optimization round): propagate on the EDGE-NODE subgraph
    # and fold the old label into the same min-aggregate (the
    # dedup_connected_components r12 spelling) — isolated docs never
    # change label, so every per-step n_changed is bit-identical while
    # each superstep shuffles dup-graph-sized frames (477 nodes vs
    # 5,000 docs at sf0.1) and the old per-step changed-count JOIN
    # becomes a filter over the already-checkpointed step frame.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )
    out: DataFrame | None = None
    for step in range(1, _CC_STEPS + 1):
        nbr = (
            F.broadcast(edges)
            .join(labels, F.col("dst") == F.col("doc_id"))
            .select(F.col("src").alias("doc_id"), "component_id")
        )
        merged = (
            labels.withColumn("__own", F.lit(1))
            .unionByName(nbr.withColumn("__own", F.lit(0)))
            .groupBy("doc_id")
            .agg(
                F.min("component_id").alias("component_id"),
                F.min(
                    F.when(F.col("__own") == 1, F.col("component_id"))
                ).alias("__old"),
            )
            .localCheckpoint()
        )
        changed = (
            merged.filter(F.col("component_id") != F.col("__old"))
            .agg(F.count("*").cast("bigint").alias("n_changed"))
            .select(
                F.lit(step).cast("int").alias("superstep"), "n_changed"
            )
        )
        out = changed if out is None else out.unionByName(changed)
        labels = merged.select("doc_id", "component_id")
    edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# Advisor-prescribed salted join execution
# ---------------------------------------------------------------------------

# Demo-scaled rows-per-task target (the production advisor uses 100k,
# extras29): at test SFs the o_custkey max frequency is tens of rows,
# so a 100k target would prescribe fan-out 1 and exercise nothing; 8
# rows/task makes the prescription a real >1 fan-out at sf0.01+ while
# keeping the formula identical.
_EXEC_TARGET = 8

_SALT_EXEC_ORACLE = f"""
WITH adv AS (
  SELECT CAST((MAX(cnt) + {_EXEC_TARGET - 1}) // {_EXEC_TARGET} AS BIGINT)
           AS salt_buckets
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_custkey)
)
SELECT c.c_custkey, c.c_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend,
       adv.salt_buckets
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
CROSS JOIN adv
GROUP BY c.c_custkey, c.c_name, adv.salt_buckets
"""


@register(
    "join_skew_salted_exec",
    oracle=_SALT_EXEC_ORACLE,
    tags=("join", "skew", "agg", "plan"),
)
def join_skew_salted_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor → execution round trip for skew salting: derive the
    salt fan-out the way ``join_skew_advisor`` (extras29) prescribes
    it — ceil(max key frequency / rows-per-task target), in exact
    integer arithmetic — then EXECUTE the salted sort-merge join with
    that fan-out and return the per-customer aggregate, which must
    hash-match the plain unsalted join (the oracle). The prescribed
    ``salt_buckets`` is emitted as a column, so the driver artifact
    records both that the prescription was followed and that it
    preserved the result.

    Unlike ``salted_skew_join`` (extras.py — fixed fan-out 8), the
    fan-out here is DATA-DERIVED inside the same Catalyst DAG: the
    one-row advisor aggregate broadcasts onto both sides; the fact
    side salts with pmod(xxhash64(row key), salt_buckets); the
    dimension side replicates via explode(sequence(0, salt_buckets-1))
    — a COLUMN fan-out, so no driver collect and no literal to go
    stale when the data changes. salt_buckets ≥ 1 always (max_cnt ≥ 1
    and ceil-division), so the sequence is never empty (the
    sequence(0,-1) trap).

    Scale: the advisor agg is one key-grain hash-agg (NDV-bounded
    shuffle); the salted join's hot-key rows spread over salt_buckets
    reducers — the whole point — and the final agg re-groups by the
    unsalted key. The salt column never leaves the plan, so
    engine-specific xxhash64 cannot affect the output.

    Cites the reference's skew-blind pandas merges
    (scripts/enrich_features.py:151-179) as the surface this
    replaces at cluster scale.
    """
    from ucl_data_pipeline_spark.plans.registry import dsum

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    adv = (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt").alias("max_cnt"))
        .select(
            F.expr(
                f"(max_cnt + {_EXEC_TARGET - 1}) div {_EXEC_TARGET}"
            )
            .cast("bigint")
            .alias("salt_buckets")
        )
    )
    fact = (
        o.crossJoin(F.broadcast(adv))
        .select(
            "o_custkey",
            "o_totalprice",
            F.pmod(F.xxhash64("o_orderkey"), F.col("salt_buckets"))
            .cast("int")
            .alias("salt"),
        )
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .crossJoin(F.broadcast(adv))
        .select(
            "c_custkey",
            "c_name",
            "salt_buckets",
            F.explode(
                F.sequence(
                    F.lit(0), (F.col("salt_buckets") - 1).cast("int")
                )
            ).alias("salt"),
        )
    )
    joined = fact.hint("merge").join(
        cust,
        (fact["o_custkey"] == cust["c_custkey"])
        & (fact["salt"] == cust["salt"]),
    )
    return joined.groupBy("c_custkey", "c_name", "salt_buckets").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("spend"),
    ).select("c_custkey", "c_name", "n_orders", "spend", "salt_buckets")


# ---------------------------------------------------------------------------
# Decision-level parity of the sampled robust-zscore, vs sample size
# ---------------------------------------------------------------------------

_RZ_CUT = "2.5"
_RZ_SCALE = "1.4826"
_RZ_KS = (256, 1024)  # sample sizes; max is the one window cut


def _rz_cut_ctes(k: int) -> str:
    """Sampled median+MAD CTEs for one sample size (suffix _{k})."""
    return f"""s{k} AS (
  SELECT event_type, v FROM ranked WHERE rn <= {k}
), smed{k} AS (
  SELECT event_type, CAST({sql_percentile_disc("0.5", "v")} AS DOUBLE) AS med_s
  FROM s{k} GROUP BY event_type
), smad{k} AS (
  SELECT s.event_type,
         CAST({sql_percentile_disc("0.5", "abs(s.v - m.med_s)")} AS DOUBLE) AS mad_s
  FROM s{k} s JOIN smed{k} m USING (event_type)
  GROUP BY s.event_type
)"""


def _rz_branch(k: int) -> str:
    return f"""
SELECT event_type, CAST({k} AS BIGINT) AS sample_k,
       CAST(SUM(CASE WHEN f_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(SUM(CASE WHEN f_sketch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sketch,
       CAST(SUM(CASE WHEN f_exact AND f_sketch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       ROUND(CAST(SUM(CASE WHEN f_exact AND f_sketch THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / NULLIF(CAST(SUM(CASE WHEN f_sketch THEN 1 ELSE 0 END)
                           AS DOUBLE), 0.0), 6) AS precision_vs_exact,
       ROUND(CAST(SUM(CASE WHEN f_exact AND f_sketch THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / NULLIF(CAST(SUM(CASE WHEN f_exact THEN 1 ELSE 0 END)
                           AS DOUBLE), 0.0), 6) AS recall_vs_exact
FROM (
  SELECT e.event_type,
         (d.mad_e > 0 AND
          abs((e.value - m.med_e) / ({_RZ_SCALE} * d.mad_e)) > {_RZ_CUT})
           AS f_exact,
         (sd.mad_s > 0 AND
          abs((e.value - sm.med_s) / ({_RZ_SCALE} * sd.mad_s)) > {_RZ_CUT})
           AS f_sketch
  FROM events e
  JOIN emed m USING (event_type)
  JOIN emad d USING (event_type)
  JOIN smed{k} sm USING (event_type)
  JOIN smad{k} sd USING (event_type)
)
GROUP BY event_type"""


_RZ_PARITY_ORACLE = (
    f"""
WITH keyed AS (
  SELECT event_type, event_id, value AS v,
         {_sql_h48("event_id", _PS_TAG)} AS h
  FROM events
), ranked AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id)
           AS rn
  FROM keyed
), """
    + ", ".join(_rz_cut_ctes(k) for k in _RZ_KS)
    + f""", emed AS (
  SELECT event_type, CAST({sql_percentile_disc("0.5", "value")} AS DOUBLE) AS med_e
  FROM events GROUP BY event_type
), emad AS (
  SELECT e.event_type,
         CAST({sql_percentile_disc("0.5", "abs(e.value - m.med_e)")} AS DOUBLE) AS mad_e
  FROM events e JOIN emed m USING (event_type)
  GROUP BY e.event_type
)
"""
    + " UNION ALL ".join(_rz_branch(k) for k in _RZ_KS)
)


@register(
    "robust_zscore_sketch_parity",
    oracle=_RZ_PARITY_ORACLE,
    tags=("stats", "sketch", "sample", "frontier"),
)
def robust_zscore_sketch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-level frontier for the percentile-sketch substitution:
    run robust_zscore_outliers' exact |x-med|/(1.4826*MAD) > 2.5 gate
    with cuts from per-group samples of k in {256, 1024} (both cut
    from ONE window-rank pass, the frontier discipline) and report,
    per (event_type, sample_k), outlier counts, overlap, and
    precision/recall of the sketched decision against the exact one.

    Why a frontier and not a single k: the first measurement at
    k=256 was the honest negative result this audit exists to catch —
    the signup group's sample median drifted 18.8% (within its 4-sigma
    rank band!), which moved the 2.5-MAD threshold enough to cut
    recall to 0.59. A cut-level error inside tolerance can still be a
    decision-level failure, because the outlier density concentrates
    just past the threshold — on this heavy-tail fixture even k=1024
    (HALF the sf0.01 group) only lifts the worst-group recall to
    0.78 while precision holds >= 0.97 everywhere. That asymmetry is
    the finding: sampled cuts under-flag (high precision, recall
    tracking threshold drift), so the substitution is safe for
    alerting precision but needs k sized from the local outlier
    density — not the rank tolerance — when recall is the contract.
    The pytest asserts precision >= 0.97 on every row and that worst-
    group recall improves monotonically in k. (The cut-level view of
    the same sample is percentile_sketch_error.)

    Plan shape: one window rank over (event_type, digest) bounds both
    samples; four k-bounded percentile buffers + two full-group exact
    buffers (the audited-against cost); the gate is one broadcast of
    the <=|event_type|x|ks| cut rows onto a single fact scan, then
    boolean-count hash-aggs. Fact scanned once per k-branch, never
    re-sorted.

    Determinism: identical samples cross-engine (shared 48-bit digest,
    tag 2100, event_id tie-break); order-statistic cuts; the gate
    compares IEEE expressions of identical doubles to exact literals;
    counts are integers, ratios exact-integer divisions ROUND 6 with
    NULLIF guards.
    """
    e = read_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_type",
        "event_id",
        F.col("value").alias("v"),
        _h48(F.col("event_id").cast("string"), _PS_TAG).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    ranked = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max(_RZ_KS))
        .select("event_type", "v", "rn")
        .persist()
    )
    emed = e.groupBy("event_type").agg(
        F.expr(sql_percentile_disc("0.5", "value")).cast("double").alias("med_e")
    )
    emad = (
        e.join(F.broadcast(emed), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(sql_percentile_disc("0.5", "abs(value - med_e)"))
            .cast("double")
            .alias("mad_e")
        )
    )
    exact_cuts = emed.join(emad, "event_type")
    scale = F.lit(float(_RZ_SCALE))
    cut = F.lit(float(_RZ_CUT))
    out: DataFrame | None = None
    for k in _RZ_KS:
        samp = ranked.filter(F.col("rn") <= k).select("event_type", "v")
        smed = samp.groupBy("event_type").agg(
            F.expr(sql_percentile_disc("0.5", "v")).cast("double").alias("med_s")
        )
        smad = (
            samp.join(F.broadcast(smed), "event_type")
            .groupBy("event_type")
            .agg(
                F.expr(sql_percentile_disc("0.5", "abs(v - med_s)"))
                .cast("double")
                .alias("mad_s")
            )
        )
        cuts = exact_cuts.join(smed, "event_type").join(smad, "event_type")
        f_exact = (F.col("mad_e") > 0) & (
            F.abs(
                (F.col("value") - F.col("med_e")) / (scale * F.col("mad_e"))
            )
            > cut
        )
        f_sketch = (F.col("mad_s") > 0) & (
            F.abs(
                (F.col("value") - F.col("med_s")) / (scale * F.col("mad_s"))
            )
            > cut
        )
        flagged = e.join(F.broadcast(cuts), "event_type").select(
            "event_type",
            f_exact.alias("f_exact"),
            f_sketch.alias("f_sketch"),
        )
        branch = (
            flagged.groupBy("event_type")
            .agg(
                F.sum(F.when(F.col("f_exact"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_exact"),
                F.sum(F.when(F.col("f_sketch"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_sketch"),
                F.sum(
                    F.when(F.col("f_exact") & F.col("f_sketch"), 1).otherwise(
                        0
                    )
                )
                .cast("bigint")
                .alias("n_both"),
            )
            .select(
                "event_type",
                F.lit(k).cast("bigint").alias("sample_k"),
                "n_exact",
                "n_sketch",
                "n_both",
                F.round(
                    F.col("n_both").cast("double")
                    / F.nullif(F.col("n_sketch").cast("double"), F.lit(0.0)),
                    6,
                ).alias("precision_vs_exact"),
                F.round(
                    F.col("n_both").cast("double")
                    / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)),
                    6,
                ).alias("recall_vs_exact"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out
