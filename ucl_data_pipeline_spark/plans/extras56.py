"""Round-8 batch 23: the economics/retail-analytics readouts —

- ``price_index_fisher``: bilateral price indices between two years
  of lineitem trade — Laspeyres (base-year basket), Paasche
  (current-year basket), and Fisher's ideal index √(L·P) — from
  per-part unit values (Σ price / Σ qty per part-year, the "unit
  value index" national statistics offices actually compute from
  transaction data). Restricted to parts traded in BOTH years (the
  matched-model rule).
- ``abc_classification``: ABC inventory analysis — parts ranked by
  revenue, classified A/B/C at the 80%/95% cumulative-share cuts,
  reported as one row per class with part counts and revenue shares.
  The Pareto partition behind every stocking-policy table
  (``pareto_frontier_parts`` is multi-criteria dominance; this is
  the single-axis cumulative cut).
- ``theil_index_decomposition``: the Theil T inequality index of
  customer revenue, EXACTLY decomposed into between-nation and
  within-nation components (T = T_b + Σ s_g·T_g) — the additive
  decomposition that Gini famously lacks and the reason Theil is the
  inequality measure reported by segment. Emits both components, the
  directly-computed total, and the decomposition gap as a built-in
  audit column.

Registry conventions (plans/registry.py): exact decimal sufficient
statistics; transcendental terms ROUND-6 then decimal-summed; ROUND 6
outputs; atomic columns; BIGINT/DOUBLE oracle casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.registry import (
    bucketed_running_sum,
    register,
)
from ucl_data_pipeline_spark.sources.io import read_table

# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices (1996 -> 1997)
# ---------------------------------------------------------------------------

_BASE_YEAR, _CUR_YEAR = 1996, 1997

_FISHER_ORACLE = f"""
WITH py AS (
  SELECT l_partkey AS part, year(l_shipdate) AS y,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
  FROM lineitem
  WHERE year(l_shipdate) IN ({_BASE_YEAR}, {_CUR_YEAR})
  GROUP BY 1, 2
), matched AS (
  SELECT b.part,
         b.ext / b.qty AS p0, b.qty AS q0,
         c.ext / c.qty AS p1, c.qty AS q1
  FROM py b JOIN py c ON c.part = b.part
  WHERE b.y = {_BASE_YEAR} AND c.y = {_CUR_YEAR}
), terms AS (
  SELECT part,
         ROUND(p1 * q0, 6) AS l_num, ROUND(p0 * q0, 6) AS l_den,
         ROUND(p1 * q1, 6) AS p_num, ROUND(p0 * q1, 6) AS p_den
  FROM matched
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CAST(l_num AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_den AS DECIMAL(28,6))) AS DOUBLE) AS lasp,
         CAST(SUM(CAST(p_num AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST(p_den AS DECIMAL(28,6))) AS DOUBLE) AS paas
  FROM terms
)
SELECT n_parts,
       ROUND(lasp, 6) AS laspeyres,
       ROUND(paas, 6) AS paasche,
       ROUND(SQRT(lasp * paas), 6) AS fisher
FROM st
"""


@register("price_index_fisher", oracle=_FISHER_ORACLE, tags=("agg", "stats"))
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral price indices {b} → {c}: Laspeyres Σp₁q₀/Σp₀q₀
    (what the OLD basket costs now), Paasche Σp₁q₁/Σp₀q₁ (what the
    NEW basket would have cost then), and Fisher's ideal √(L·P) —
    the superlative index that bounds both biases. Prices are
    per-part UNIT VALUES (Σ extendedprice / Σ quantity per
    part-year); only matched parts (traded both years) enter — the
    matched-model rule every statistical office applies to
    transaction data.

    Determinism: per-(part, year) sums are exact decimals cast to
    exact-range doubles; unit values are identical IEEE divisions;
    each basket term p·q is ROUND-6 (of identical doubles) then
    decimal-summed, so the four basket totals are order-free; the
    three indices are pinned expressions ROUND 6.

    Scale: one year-filtered fact pass to (part, year) grain
    (map-combinable), one part-grain self-join (co-partitioned on
    part — at 100 TB this is the bucketed-join case), one scalar agg.
    """
    li = read_table(spark, sf_dir, "lineitem")
    py = (
        li.filter(F.year("l_shipdate").isin(_BASE_YEAR, _CUR_YEAR))
        .groupBy(
            F.col("l_partkey").alias("part"), F.year("l_shipdate").alias("y")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("ext"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
    )
    b = py.filter(F.col("y") == _BASE_YEAR).select(
        "part",
        (F.col("ext") / F.col("qty")).alias("p0"),
        F.col("qty").alias("q0"),
    )
    c = py.filter(F.col("y") == _CUR_YEAR).select(
        "part",
        (F.col("ext") / F.col("qty")).alias("p1"),
        F.col("qty").alias("q1"),
    )
    terms = b.join(c, "part").select(
        F.round(F.col("p1") * F.col("q0"), 6).alias("l_num"),
        F.round(F.col("p0") * F.col("q0"), 6).alias("l_den"),
        F.round(F.col("p1") * F.col("q1"), 6).alias("p_num"),
        F.round(F.col("p0") * F.col("q1"), 6).alias("p_den"),
    )

    def _dsum(col: str) -> F.Column:
        return F.sum(F.col(col).cast("decimal(28,6)")).cast("double")

    st = terms.agg(
        F.count("*").cast("long").alias("n_parts"),
        (_dsum("l_num") / _dsum("l_den")).alias("lasp"),
        (_dsum("p_num") / _dsum("p_den")).alias("paas"),
    )
    return st.select(
        "n_parts",
        F.round("lasp", 6).alias("laspeyres"),
        F.round("paas", 6).alias("paasche"),
        F.round(F.sqrt(F.col("lasp") * F.col("paas")), 6).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# ABC classification (80 / 95 cumulative-revenue cuts)
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS part,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT part, rev,
         SUM(rev) OVER (ORDER BY rev DESC, part
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS tot
  FROM per_part
), classed AS (
  SELECT part, rev,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.80
                THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
                THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS DOUBLE) AS class_revenue,
       ROUND(CAST(SUM(rev) AS DOUBLE)
             / (SELECT CAST(SUM(rev) AS DOUBLE) FROM per_part), 6)
         AS revenue_share,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM per_part), 6) AS part_share
FROM classed
GROUP BY abc
ORDER BY abc
"""


@register("abc_classification", oracle=_ABC_ORACLE, tags=("window", "agg"))
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory analysis: parts ranked by lifetime revenue and
    classified at the classic cumulative cuts — A-parts carry the
    first 80% of revenue, B the next 15%, C the tail — reported per
    class with part counts, revenue, and both shares. The expected
    Pareto read: a small part_share for A and a long C tail. The
    single-axis cumulative partition behind stocking policies
    (``pareto_frontier_parts`` handles multi-criteria dominance).

    Determinism: per-part revenue and the running total stay exact
    DECIMAL; the cumulative walk rides the (rev DESC, part) total
    order; class cuts compare exact-range doubles (cum/tot unscaled
    < 2^53); shares are single divisions ROUND 6.

    Scale: one fact pass to part grain, then the range-bucketed
    cumulative walk (registry.bucketed_running_sum) over the NEGATED
    revenue with a (neg, part) tie-break — bit-identical to a global
    window (exact decimal addition), no single-partition sort.
    Totals come from one scalar agg broadcast back, then a 3-row
    class agg.
    """
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    tot = per_part.agg(
        F.sum("rev").alias("tot"),
        F.count("*").cast("long").alias("n_all"),
    )
    walked, _subs = bucketed_running_sum(
        per_part.withColumn("neg", -F.col("rev")),
        "neg",
        ["neg", "part"],
        F.col("rev"),
        out="cum",
    )
    ranked = walked.select("rev", "cum")
    share = F.col("cum").cast("double") / F.col("tot").cast("double")
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "rev",
        "tot",
        "n_all",
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        classed.groupBy(F.col("abc").alias("abc_class"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("double").alias("class_revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max(F.col("tot").cast("double")),
                6,
            ).alias("revenue_share"),
            F.round(
                F.count("*").cast("double") / F.max("n_all"), 6
            ).alias("part_share"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Theil T inequality index, decomposed by nation
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH cust AS (
  SELECT c.c_nationkey AS g,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_nationkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(x AS DECIMAL(18,2)))
         AS DOUBLE) AS s
  FROM cust
), within_terms AS (
  SELECT c.g,
         ROUND((c.x / gs.sg) * LN(c.x / gs.sg * gs.ng), 6) AS wt
  FROM cust c JOIN (
    SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sg,
           CAST(COUNT(*) AS BIGINT) AS ng
    FROM cust GROUP BY g
  ) gs ON gs.g = c.g
), grp AS (
  SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sg,
         CAST(COUNT(*) AS BIGINT) AS ng
  FROM cust GROUP BY g
), t_within AS (
  SELECT CAST(SUM(CAST(t_g AS DECIMAL(28,6))) AS DOUBLE) AS tw
  FROM (
    SELECT w.g,
           ROUND((g2.sg / t.s)
                 * CAST(SUM(CAST(w.wt AS DECIMAL(28,6))) AS DOUBLE), 6)
             AS t_g
    FROM within_terms w
    JOIN grp g2 ON g2.g = w.g CROSS JOIN tot t
    GROUP BY w.g, g2.sg, t.s
  )
), t_between AS (
  SELECT CAST(SUM(CAST(
           ROUND((g.sg / t.s) * LN((g.sg / t.s) * t.n / g.ng), 6)
           AS DECIMAL(28,6))) AS DOUBLE) AS tb
  FROM grp g CROSS JOIN tot t
), t_total AS (
  SELECT CAST(SUM(CAST(
           ROUND((c.x / t.s) * LN(c.x / t.s * t.n), 6)
           AS DECIMAL(28,6))) AS DOUBLE) AS tt
  FROM cust c CROSS JOIN tot t
)
SELECT (SELECT n FROM tot) AS n_customers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM grp) AS n_groups,
       ROUND((SELECT tt FROM t_total), 6) AS theil_total,
       ROUND((SELECT tw FROM t_within), 6) AS theil_within,
       ROUND((SELECT tb FROM t_between), 6) AS theil_between,
       ROUND((SELECT tt FROM t_total) - (SELECT tw FROM t_within)
             - (SELECT tb FROM t_between), 6) AS decomp_gap
"""


@register(
    "theil_index_decomposition", oracle=_THEIL_ORACLE, tags=("stats", "agg")
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer-revenue inequality with its EXACT
    additive decomposition by nation: T = T_between + Σ_g s_g·T_g —
    the property that makes Theil (not Gini) the per-segment
    inequality report: "how much inequality lives BETWEEN nations vs
    WITHIN them". T_total is also computed directly from customer
    grain, and the decomposition gap is emitted as a built-in audit
    column (≈ 0 up to the 6-dp term rounding; the identity is exact
    in real arithmetic).

    Determinism: customer revenues and all group sums are exact
    decimals cast to exact-range doubles; every transcendental term
    (x/s)·ln(·) is ROUND-6 then decimal-summed at its grain (customer
    for totals/within, nation for between); outputs ROUND 6.

    Scale: one fact pass to customer grain (the only fact-sized
    stage), nation-grain second-level aggs, broadcast grand totals.
    Same shuffle shape as gini_revenue_concentration, plus the
    decomposition audit Gini cannot offer.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey", F.col("c_nationkey").alias("g"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("x")
        )
        .select("g", "x")
    )
    tot = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("s"),
    )
    grp = cust.groupBy("g").agg(
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("sg"),
        F.count("*").cast("long").alias("ng"),
    )
    # T_total directly from customer grain
    ct = cust.crossJoin(F.broadcast(tot))
    tt = ct.agg(
        F.sum(
            F.round(
                (F.col("x") / F.col("s"))
                * F.log(F.col("x") / F.col("s") * F.col("n")),
                6,
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("tt")
    )
    # Within: per-group Theil over x/sg, weighted by sg/s
    wterm = cust.join(F.broadcast(grp), "g").select(
        "g",
        F.round(
            (F.col("x") / F.col("sg"))
            * F.log(F.col("x") / F.col("sg") * F.col("ng")),
            6,
        ).alias("wt"),
    )
    tg = (
        wterm.groupBy("g")
        .agg(
            F.sum(F.col("wt").cast("decimal(28,6)")).cast("double").alias("tg_raw")
        )
        .join(F.broadcast(grp), "g")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((F.col("sg") / F.col("s")) * F.col("tg_raw"), 6).alias(
                "t_g"
            )
        )
    )
    tw = tg.agg(
        F.sum(F.col("t_g").cast("decimal(28,6)")).cast("double").alias("tw")
    )
    # Between: nation-grain
    tb = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    (F.col("sg") / F.col("s"))
                    * F.log(
                        (F.col("sg") / F.col("s")) * F.col("n") / F.col("ng")
                    ),
                    6,
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("tb")
        )
    )
    ngroups = grp.agg(F.count("*").cast("long").alias("n_groups"))
    return (
        tot.crossJoin(F.broadcast(ngroups))
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("n").alias("n_customers"),
            "n_groups",
            F.round("tt", 6).alias("theil_total"),
            F.round("tw", 6).alias("theil_within"),
            F.round("tb", 6).alias("theil_between"),
            F.round(
                F.col("tt") - F.col("tw") - F.col("tb"), 6
            ).alias("decomp_gap"),
        )
    )
