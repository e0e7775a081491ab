"""Round-8 batch 31: experiment sizing, dedup growth, hazard depth —

- ``mde_power_analysis``: the minimum detectable effect table for a
  two-arm experiment on customer revenue at standard power points
  (80/90/95%, α = 0.05 two-sided) — MDE = (z_{{α/2}}+z_β)·σ·√(2/n) —
  computed TWICE: from the raw outcome variance and from the
  CUPED-adjusted variance (``cuped_variance_reduction``'s identity),
  so the table answers the actual planning question: "how much
  smaller an effect can I detect after covariate adjustment?".
- ``dedup_saturation_curve``: the exact-duplicate rate as the corpus
  grows — cumulative distinct text-hashes vs docs at doc-order
  checkpoints, the dedup-side companion of ``heaps_law_exponent``
  (type growth) answering the capacity question every ingestion
  pipeline asks: is the duplicate rate rising as we ingest more
  (sources converging) or flat (fresh supply)?
- ``nelson_aalen_hazard``: the Nelson–Aalen cumulative-hazard
  estimator H(t) = Σ dᵢ/nᵢ with its variance Σ dᵢ/nᵢ², on the SAME
  censored time-to-high-value-event data as
  ``kaplan_meier_survival`` — the hazard-scale read (and the
  Breslow link exp(−H) ≈ S emitted alongside KM's product-limit S
  as a built-in cross-estimator audit).

Registry conventions (plans/registry.py): exact decimal/integer
sufficient statistics; VARCHAR round-trip for wide-decimal casts;
first-occurrence grain for cumulative-distinct; ROUND-then-decimal
sums on bounded grains; ROUND 6 outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.scalar import epoch_us
from ucl_data_pipeline_spark.plans.registry import bucketed_row_number, register
from ucl_data_pipeline_spark.sources.io import read_table

# ---------------------------------------------------------------------------
# Minimum detectable effect, raw and CUPED-adjusted
# ---------------------------------------------------------------------------

# (z_{alpha/2}, z_beta) pinned to 6 dp: alpha = 0.05 two-sided with
# power 80 / 90 / 95%.
_MDE_POINTS = (
    (80, 1.959964, 0.841621),
    (90, 1.959964, 1.281552),
    (95, 1.959964, 1.644854),
)
_PRE_YEAR, _EXP_YEAR = 1996, 1997

_MDE_ROWS_SQL = ", ".join(
    f"({p}, {za}, {zb})" for p, za, zb in _MDE_POINTS
)

_MDE_ORACLE = f"""
WITH cy AS (
  SELECT o_custkey AS cust, year(o_orderdate) AS y,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders
  WHERE year(o_orderdate) IN ({_PRE_YEAR}, {_EXP_YEAR})
  GROUP BY 1, 2
), panel AS (
  SELECT CAST(p.r AS DECIMAL(18,2)) AS x, CAST(e.r AS DECIMAL(18,2)) AS y
  FROM cy p JOIN cy e ON e.cust = p.cust
  WHERE p.y = {_PRE_YEAR} AND e.y = {_EXP_YEAR}
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM panel
), st AS (
  SELECT n,
         (syy - sy * sy / n) / (n - 1) AS var_y,
         (syy - sy * sy / n) / (n - 1)
           - POWER((sxy - sx * sy / n) / (n - 1), 2)
             / ((sxx - sx * sx / n) / (n - 1)) AS var_cuped,
         sy / n AS mean_y
  FROM mom
), pts AS (
  SELECT * FROM (VALUES {_MDE_ROWS_SQL}) AS t(power_pct, za, zb)
)
SELECT CAST(p.power_pct AS INTEGER) AS power_pct,
       s.n AS n_per_arm,
       ROUND((p.za + p.zb) * SQRT(s.var_y) * SQRT(2.0 / s.n), 6) AS mde_raw,
       ROUND((p.za + p.zb) * SQRT(s.var_cuped) * SQRT(2.0 / s.n), 6)
         AS mde_cuped,
       ROUND((p.za + p.zb) * SQRT(s.var_y) * SQRT(2.0 / s.n)
             / s.mean_y * 100, 6) AS mde_raw_pct_of_mean
FROM pts p CROSS JOIN st s
ORDER BY power_pct
"""


@register("mde_power_analysis", oracle=_MDE_ORACLE, tags=("stats", "agg"))
def mde_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for a two-arm test on yearly customer
    revenue at 80/90/95% power (α = 0.05 two-sided): MDE =
    (z_{{α/2}}+z_β)·σ·√(2/n), with n = the matched-panel size per arm
    and σ from BOTH the raw outcome variance and the CUPED-adjusted
    variance (var·(1−ρ²), ``cuped_variance_reduction``'s identity) —
    one table that says what the experiment can see today and what it
    could see after covariate adjustment, plus the raw MDE as % of
    mean (the number PMs actually discuss). This is the sizing step
    run BEFORE ``welch_ttest_promo``-style reads.

    Determinism: moments are exact decimal sums (second-order via the
    VARCHAR round-trip, extras52 trap); the z constants are 6-dp
    literals pinned on both sides; every MDE is a pinned expression
    ROUND 6 over a 3-row broadcast knob table.

    Scale: one year-filtered fact pass to (customer, year) grain, one
    panel self-join, one scalar moment agg × 3 knob rows.
    """
    o = read_table(spark, sf_dir, "orders")
    cy = (
        o.filter(F.year("o_orderdate").isin(_PRE_YEAR, _EXP_YEAR))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    pre = cy.filter(F.col("y") == _PRE_YEAR).select(
        "cust", F.col("r").alias("x")
    )
    post = cy.filter(F.col("y") == _EXP_YEAR).select(
        "cust", F.col("r").alias("yy")
    )
    x, y = F.col("x"), F.col("yy")
    mom = pre.join(post, "cust").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n")
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    st = mom.select(
        "n",
        var_y.alias("var_y"),
        (var_y - cov * cov / var_x).alias("var_cuped"),
        (F.col("sy") / n).alias("mean_y"),
    )
    pts = spark.createDataFrame(
        list(_MDE_POINTS), "power_pct int, za double, zb double"
    )
    mde = lambda v: (F.col("za") + F.col("zb")) * F.sqrt(v) * F.sqrt(  # noqa: E731
        2.0 / F.col("n")
    )
    return (
        pts.crossJoin(F.broadcast(st))
        .select(
            F.col("power_pct").cast("int").alias("power_pct"),
            F.col("n").alias("n_per_arm"),
            F.round(mde(F.col("var_y")), 6).alias("mde_raw"),
            F.round(mde(F.col("var_cuped")), 6).alias("mde_cuped"),
            F.round(
                mde(F.col("var_y")) / F.col("mean_y") * 100, 6
            ).alias("mde_raw_pct_of_mean"),
        )
        .orderBy("power_pct")
    )


# ---------------------------------------------------------------------------
# Exact-duplicate saturation curve over ingestion order
# ---------------------------------------------------------------------------

_SAT_STEP = 50

_SAT_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, md5(text) AS h,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
  FROM documents
), first_seen AS (
  SELECT h, MIN(rk) AS first_rk FROM ranked GROUP BY h
), cks AS (
  SELECT UNNEST(generate_series({_SAT_STEP},
           (SELECT MAX(rk) FROM ranked), {_SAT_STEP})) AS c
)
SELECT CAST(c.c AS BIGINT) AS n_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen f
        WHERE f.first_rk <= c.c) AS n_unique,
       ROUND(1.0 - (SELECT CAST(COUNT(*) AS DOUBLE) FROM first_seen f
                    WHERE f.first_rk <= c.c) / c.c, 6) AS dup_rate
FROM cks c
ORDER BY n_docs
"""


@register("dedup_saturation_curve", oracle=_SAT_ORACLE, tags=("dedup", "llm"))
def dedup_saturation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate saturation: cumulative unique text-hashes and
    the duplicate rate at every {step}-doc checkpoint of ingestion
    order. A RISING curve means sources are converging on the same
    content (dedup gets more valuable per ingested byte — and the
    dedup index stops growing linearly); flat means fresh supply.
    The corpus-growth companion of ``heaps_law_exponent`` (type
    growth) and ``dedup_exact`` (the endpoint), and the curve that
    sizes incremental-dedup state (``dedup_cross_snapshot``) over
    time.

    Determinism: first occurrence of each md5 text-hash is a
    type-grain MIN over the doc_id ingestion order (exact integers
    throughout — the cumulative_distinct_users machinery); checkpoint
    counts are exact BIGINTs; the rate is one division ROUND 6.

    Scale: one hash pass to text-hash grain with a MIN agg — the
    exact shuffle ``dedup_exact`` already pays. The ingestion rank is
    the range-bucketed exact row_number (registry.bucketed_row_number
    — per-bucket sorts + bounded bucket offsets, never a
    single-partition sort of the corpus), and the curve is
    checkpoint-grain accumulation: each first-seen hash feeds its own
    ⌈rk/step⌉ bucket once, the cumulative sum runs on the bounded
    checkpoint spine — O(hashes + checkpoints), no hashes×checkpoints
    fan-out, no window at doc grain.
    """
    d = read_table(spark, sf_dir, "documents")
    ranked = bucketed_row_number(
        d.select("doc_id", F.md5("text").alias("h")), "doc_id"
    ).select("h", "rk")
    first_seen = ranked.groupBy("h").agg(F.min("rk").alias("first_rk"))
    # Checkpoint-grain accumulation, NOT a (hashes × checkpoints)
    # crossJoin fan-out: each first-seen hash feeds its ⌈rk/step⌉
    # bucket once; "unique ≤ c" becomes a cumulative sum on the
    # bounded checkpoint spine — O(hashes + checkpoints), flat in the
    # checkpoint count.
    v_inc = first_seen.groupBy(
        F.expr(
            f"CAST((first_rk + {_SAT_STEP - 1}) DIV {_SAT_STEP} AS BIGINT)"
        ).alias("j")
    ).agg(F.count("*").cast("long").alias("dv"))
    n_docs = ranked.agg(F.max("rk").alias("max_rk"))
    # Clamp-and-refilter spine guard (extras57.py heaps_law_exponent
    # has the full rationale): sequence(1, 0) defaults to step -1 and
    # yields phantom checkpoints [1, 0] when the corpus is smaller
    # than one step, while the oracle's generate_series is empty; the
    # j*step <= max_rk filter keeps both engines at zero checkpoints
    # there and is a no-op otherwise.
    spine = (
        n_docs.select(
            "max_rk",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.greatest(
                        F.expr(f"CAST(max_rk DIV {_SAT_STEP} AS BIGINT)"),
                        F.lit(1).cast("long"),
                    ),
                )
            ).alias("j"),
        )
        .filter(F.col("j") * _SAT_STEP <= F.col("max_rk"))
        .select("j")
    )
    w_ck = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(v_inc, "j", "left")
        .select(
            (F.col("j") * _SAT_STEP).cast("long").alias("n_docs"),
            F.sum(F.coalesce("dv", F.lit(0)))
            .over(w_ck)
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            "n_docs",
            "n_unique",
            F.round(
                1.0 - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
        .orderBy("n_docs")
    )


dedup_saturation_curve.__doc__ = dedup_saturation_curve.__doc__.format(
    step=_SAT_STEP
)


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (same censored setup as KM)
# ---------------------------------------------------------------------------

_NA_ORACLE = """
WITH users AS (
  SELECT user_id,
         MIN(ts) AS first_ts,
         MAX(ts) AS last_ts,
         MIN(CASE WHEN value > 200 THEN ts END) AS hit_ts
  FROM events GROUP BY user_id
),
durs AS (
  SELECT epoch_us(COALESCE(hit_ts, last_ts)) // 3600000000
           - epoch_us(first_ts) // 3600000000 AS dur,
         CASE WHEN hit_ts IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM users
),
by_dur AS (
  SELECT dur, CAST(SUM(observed) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(observed) AS BIGINT) AS c
  FROM durs GROUP BY dur
),
risk AS (
  SELECT dur, d, c,
         (SELECT COUNT(*) FROM durs)
           - (SUM(d + c) OVER (ORDER BY dur) - (d + c)) AS n_risk
  FROM by_dur
),
na AS (
  SELECT dur, d, CAST(n_risk AS BIGINT) AS n_risk,
         CAST(SUM(CAST(ROUND(d * 1.0 / n_risk, 9) AS DECIMAL(18,9)))
              OVER (ORDER BY dur) AS DOUBLE) AS h,
         CAST(SUM(CAST(ROUND(d * 1.0 / (CAST(n_risk AS DOUBLE) * n_risk), 9)
                       AS DECIMAL(18,9))) OVER (ORDER BY dur) AS DOUBLE)
           AS h_var
  FROM risk
)
SELECT CAST(dur AS BIGINT) AS duration_hours,
       n_risk AS n_at_risk,
       d AS n_events,
       ROUND(h, 6) AS cum_hazard,
       ROUND(SQRT(h_var), 6) AS hazard_se,
       ROUND(EXP(-h), 6) AS breslow_survival
FROM na
WHERE d > 0
ORDER BY duration_hours
"""


@register("nelson_aalen_hazard", oracle=_NA_ORACLE, tags=("stats", "window"))
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with its
    standard error √(Σ dᵢ/nᵢ²) and the Breslow survival exp(−H), on
    the SAME censored time-to-first-high-value-event data as
    ``kaplan_meier_survival`` — the hazard-scale estimate (additive,
    better small-sample behavior) whose Breslow transform should
    track KM's product-limit S(t) from above; the pair is the
    standard cross-estimator audit (asserted in pytest).

    Determinism: durations and event/censor counts are exact
    integers; the risk-set walk is an exact cumulative window over
    the duration total order; each hazard increment d/n (and d/n²)
    is a pinned division ROUND-9 then DECIMAL(18,9) cumulative-summed;
    outputs ROUND 6.

    Scale: one user-grain agg, one duration-grain rollup (bounded by
    the observation span in hours), cumulative windows on that
    bounded grain — identical shape to KM.
    """
    ev = read_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("value") > 200, F.col("ts"))).alias("hit_ts"),
    )
    hours = lambda c: F.floor(epoch_us(c) / 3600000000)  # noqa: E731
    durs = users.select(
        (hours(F.coalesce("hit_ts", "last_ts")) - hours("first_ts")).alias(
            "dur"
        ),
        F.when(F.col("hit_ts").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    by_dur = durs.groupBy("dur").agg(
        F.sum("observed").cast("long").alias("d"),
        (F.count("*") - F.sum("observed")).cast("long").alias("c"),
    )
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    risk = by_dur.select(
        "dur",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - (F.sum(F.col("d") + F.col("c")).over(w_cum) - (F.col("d") + F.col("c")))
        ).alias("n_risk"),
    )
    inc = F.round(F.col("d") * 1.0 / F.col("n_risk"), 9)
    inc_var = F.round(
        F.col("d") * 1.0 / (F.col("n_risk").cast("double") * F.col("n_risk")),
        9,
    )
    na = risk.select(
        "dur",
        "d",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.sum(inc.cast("decimal(18,9)")).over(w_cum).cast("double").alias("h"),
        F.sum(inc_var.cast("decimal(18,9)"))
        .over(w_cum)
        .cast("double")
        .alias("h_var"),
    )
    return (
        na.filter(F.col("d") > 0)
        .select(
            F.col("dur").cast("long").alias("duration_hours"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            F.round("h", 6).alias("cum_hazard"),
            F.round(F.sqrt("h_var"), 6).alias("hazard_se"),
            F.round(F.exp(-F.col("h")), 6).alias("breslow_survival"),
        )
        .orderBy("duration_hours")
    )
