"""Round-7 batch 2: robust statistics, multiple-testing control and
sequential drift detection — the monitoring layer a 100 TB pipeline
runs ON TOP of its metrics, each as one driver-verifiable query:

- ``theil_sen_slope_daily``: robust trend slope (median of pairwise
  slopes) of daily revenue — outlier-proof companion to
  ``ols_slope_per_nation``/``mann_kendall_trend``.
- ``kendall_tau_via_grain``: Kendall tau-b rank correlation computed
  from VALUE-GRAIN cell counts (the ``spearman_rank_via_grain``
  discipline): concordant/discordant pair counts come from a bounded
  cell×cell join, never a row×row join.
- ``benjamini_hochberg_promo``: per-brand Welch z-tests of the
  promo price effect with Benjamini-Hochberg FDR control — what an
  experimentation platform runs when it fires forty tests at once.
- ``brown_forsythe_priority``: variance-homogeneity test (Levene with
  median centers) across order priorities — the guard in front of any
  pooled-variance comparison.
- ``degree_assortativity_trade``: Pearson correlation of endpoint
  degrees across trade-graph edges — do high-degree exporter nations
  trade with high-degree importers?
- ``page_hinkley_drift_daily``: the Page-Hinkley sequential
  change-point statistic over daily revenue — the streaming-friendly
  sibling of ``cusum_drift_daily``.

Registry conventions (plans/registry.py): exact decimal sums, per-term
ROUND-then-decimal-sum for transcendental/divided terms whose addition
order differs across engines, final ROUND 6, atomic BIGINT/DOUBLE
output columns.

Reference parity: the reference pipeline's pandas scripts stop at
fixed-effect means (scripts/enrich_features.py hybrid means); this
module is the statistics the same pipeline needs once it monitors its
own output at scale. No reference counterpart — new surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.registry import bucketed_rank_select, register
from ucl_data_pipeline_spark.sources.io import read_table

_DAILY_CTE = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev) with rev an exact decimal daily sum — the shared
    fact-sized stage of every daily-series query in this module (same
    spelling as extras5.cusum_drift_daily's input)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope of the daily revenue series
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = f"""
WITH daily AS ({_DAILY_CTE}),
pairs AS (
  SELECT ROUND((CAST(b.rev AS DOUBLE) - CAST(a.rev AS DOUBLE))
               / datediff('day', a.day, b.day), 6) AS slope6
  FROM daily a JOIN daily b ON a.day < b.day
),
k AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST((COUNT(*) + 1) // 2 AS BIGINT) AS kk
  FROM pairs
),
r AS (
  SELECT slope6, ROW_NUMBER() OVER (ORDER BY slope6) AS rn FROM pairs
)
SELECT (SELECT n FROM k) AS n_pairs, slope6 AS theil_sen_slope
FROM r WHERE rn = (SELECT kk FROM k)
"""


@register(
    "theil_sen_slope_daily", oracle=_THEIL_SEN_ORACLE, tags=("temporal", "stats")
)
def theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator: the median of all pairwise slopes
    (revⱼ−revᵢ)/(dayⱼ−dayᵢ) of the daily revenue series — the robust
    trend line (breakdown point 29%) where OLS is dragged by a single
    outlier day. Median = lower median (element ⌈n/2⌉ of the sorted
    slopes), deterministic on both engines because equal-rounded slopes
    are exact ties.

    Determinism: daily revenues are exact decimal sums; each pairwise
    slope is one double subtraction + division (identical IEEE ops both
    engines) rounded to 6 dp BEFORE ranking, so the rank-k value
    depends only on the rounded-slope multiset, never on tie order.

    Scale: the pair set is DAY-GRAIN — calendar-bounded (~2.4k days →
    ~3M pairs) and CONSTANT in data size; only the per-day hash-agg
    underneath scales with the fact table. The small side is broadcast,
    making the pair generator shuffle-free. The rank-k element is found
    by DISTRIBUTED SELECTION (registry.bucketed_rank_select), never a
    global sort — the oracle pins the result with the naive ROW_NUMBER
    spelling, proving the selection path exact.
    """
    daily = _daily(spark, sf_dir)
    a = daily.select(F.col("day").alias("day_a"), F.col("rev").alias("rev_a"))
    b = daily.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    pairs = (
        F.broadcast(a)
        .join(b, F.col("day_a") < F.col("day_b"))
        .select(
            F.round(
                (F.col("rev_b").cast("double") - F.col("rev_a").cast("double"))
                / F.datediff("day_b", "day_a"),
                6,
            ).alias("slope6")
        )
        # Three passes share the expanded pair set (min/max + rank-k
        # scalars, bucket histogram, target-bucket scan): materialize
        # the ~3M-row single-column set once instead of re-running the
        # day×day expansion per pass — the pagerank persist precedent.
        .persist()
    )
    one = spark.range(1).select(F.lit(1).alias("rid"))
    sel = bucketed_rank_select(
        pairs, "slope6", one, ((F.col("__n") + 1) / 2).cast("long")
    )
    return sel.select(
        F.col("__n").alias("n_pairs"),
        F.col("slope6").alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b from value-grain cell counts
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS flag, l_discount AS x, l_tax AS y,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
),
cd AS (
  SELECT a.flag,
    CAST(SUM(CASE WHEN a.y < b.y THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
      AS concordant,
    CAST(SUM(CASE WHEN a.y > b.y THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
      AS discordant
  FROM cells a JOIN cells b ON a.flag = b.flag AND a.x < b.x
  GROUP BY a.flag
),
mx AS (
  SELECT flag, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS tie_x,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT flag, x, SUM(cnt) AS t FROM cells GROUP BY 1, 2)
  GROUP BY flag
),
my AS (
  SELECT flag, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS tie_y
  FROM (SELECT flag, y, SUM(cnt) AS t FROM cells GROUP BY 1, 2)
  GROUP BY flag
)
SELECT cd.flag, mx.n AS n_rows, cd.concordant, cd.discordant,
  ROUND((cd.concordant - cd.discordant)
        / (SQRT(CAST(mx.n AS DOUBLE) * (mx.n - 1) / 2 - tie_x)
           * SQRT(CAST(mx.n AS DOUBLE) * (mx.n - 1) / 2 - tie_y)), 6)
    AS tau_b
FROM cd JOIN mx ON cd.flag = mx.flag JOIN my ON cd.flag = my.flag
"""


@register(
    "kendall_tau_via_grain",
    oracle=_KENDALL_ORACLE,
    tags=("stats", "agg", "scale"),
)
def kendall_tau_via_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation of discount vs tax per return
    flag, computed ENTIRELY from value-grain cell counts — the
    ``spearman_rank_via_grain`` discipline applied to the other classic
    rank statistic. Concordant/discordant pair counts come from a
    cell×cell join over the (x, y) contingency grain (≤ 11×9 cells per
    flag), never from row pairs: C = Σ n₁n₂ over cells with x₁<x₂,
    y₁<y₂, and tau-b's tie corrections come from the x- and y-marginal
    counts. Raw rows are touched by exactly one hash-agg.

    Determinism: every quantity up to the final division is an exact
    BIGINT (cell counts and their products); the one double step is
    (C−D)/(√(n₀−T_x)·√(n₀−T_y)) — the √ split keeps the intermediate
    below BIGINT overflow AND in identical IEEE order both engines —
    rounded to 6 dp.

    Scale: cells are the bounded grain of two low-cardinality columns;
    at 100 TB the cell join is identical while the single fact-sized
    hash-agg partial-aggregates map-side. This is how a columnar
    engine should compute tau over billions of rows.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_discount").alias("x"),
        F.col("l_tax").alias("y"),
    )
    cells = li.groupBy("flag", "x", "y").agg(
        F.count("*").cast("long").alias("cnt")
    )
    a = cells.select(
        F.col("flag"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("cnt").alias("ca"),
    )
    b = cells.select(
        F.col("flag").alias("flag_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cnt").alias("cb"),
    )
    cd = (
        F.broadcast(a)
        .join(b, (F.col("flag") == F.col("flag_b")) & (F.col("xa") < F.col("xb")))
        .groupBy("flag")
        .agg(
            F.sum(
                F.when(F.col("ya") < F.col("yb"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(F.col("ya") > F.col("yb"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    mx = (
        cells.groupBy("flag", "x")
        .agg(F.sum("cnt").alias("t"))
        .groupBy("flag")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("tie_x"),
            F.sum("t").cast("long").alias("n_rows"),
        )
    )
    my = (
        cells.groupBy("flag", "y")
        .agg(F.sum("cnt").alias("t"))
        .groupBy("flag")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("tie_y")
        )
    )
    n0 = F.col("n_rows").cast("double") * (F.col("n_rows") - 1) / 2
    return (
        cd.join(mx, "flag")
        .join(my, "flag")
        .select(
            "flag",
            "n_rows",
            "concordant",
            "discordant",
            F.round(
                (F.col("concordant") - F.col("discordant"))
                / (
                    F.sqrt(n0 - F.col("tie_x"))
                    * F.sqrt(n0 - F.col("tie_y"))
                ),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-brand promo z-tests
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erfc approximation (|eps| < 1.5e-7): the
# SAME Horner-ordered polynomial is spelled on both engines so the only
# cross-engine divergence is exp()'s last ulp, absorbed by ROUND 6.
_BH_ALPHA = 0.05


def _erfc_col(x: Column) -> Column:
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        0.254829592
        + t
        * (
            -0.284496736
            + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
        )
    )
    return poly * F.exp(-x * x)


def _sql_erfc(x: str) -> str:
    return (
        f"((1.0 / (1.0 + 0.3275911 * {x})) * (0.254829592 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * (-0.284496736 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * (1.421413741 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * (-1.453152027 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * 1.061405429)))) "
        f"* EXP(-({x}) * ({x})))"
    )


_BH_ORACLE = f"""
WITH j AS (
  SELECT p.p_brand AS container,
         (p.p_type LIKE 'PROMO%') AS promo,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (
  SELECT container,
    CAST(COUNT(*) FILTER (WHERE promo) AS BIGINT) AS n1,
    CAST(SUM(price) FILTER (WHERE promo) AS DOUBLE) AS s1,
    CAST(SUM(CAST(price * price AS DECIMAL(38,4))) FILTER (WHERE promo)
         AS DOUBLE) AS ss1,
    CAST(COUNT(*) FILTER (WHERE NOT promo) AS BIGINT) AS n0,
    CAST(SUM(price) FILTER (WHERE NOT promo) AS DOUBLE) AS s0,
    CAST(SUM(CAST(price * price AS DECIMAL(38,4))) FILTER (WHERE NOT promo)
         AS DOUBLE) AS ss0
  FROM j GROUP BY container
  HAVING COUNT(*) FILTER (WHERE promo) >= 2
     AND COUNT(*) FILTER (WHERE NOT promo) >= 2
),
z AS (
  SELECT container, n1, n0,
    (s1 / n1 - s0 / n0)
      / SQRT((ss1 - s1 * s1 / n1) / (n1 - 1) / n1
           + (ss0 - s0 * s0 / n0) / (n0 - 1) / n0) AS zval
  FROM g
),
p AS (
  SELECT container, n1, n0, ROUND(zval, 6) AS z_stat,
    ROUND({_sql_erfc("ABS(zval) / SQRT(2.0)")}, 6) AS p_value
  FROM z
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, container) AS i,
         COUNT(*) OVER () AS m
  FROM p
)
SELECT container, n1 AS n_promo, n0 AS n_other, z_stat, p_value,
  ROUND(LEAST(MIN(p_value * m / i) OVER
          (ORDER BY p_value DESC, container DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6)
    AS q_value,
  CAST(CASE WHEN LEAST(MIN(p_value * m / i) OVER
          (ORDER BY p_value DESC, container DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
          <= {_BH_ALPHA} THEN 1 ELSE 0 END AS BIGINT) AS reject
FROM ranked
"""


@register(
    "benjamini_hochberg_promo", oracle=_BH_ORACLE, tags=("stats", "agg")
)
def benjamini_hochberg_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over ~40 simultaneous tests: per
    part brand, a Welch z-test of promo vs non-promo line-item
    price, then the BH step-up — adjusted q-value qᵢ = min_{j≥i} pⱼ·m/j
    (a running min from the largest p) and a reject flag at FDR 5%.
    This is what separates a metrics platform from a t-test loop: forty
    tests at α=.05 expect two false positives; BH bounds the false
    discovery RATE.

    Determinism: per-arm sufficient statistics (n, Σx, Σx²) are exact
    decimal sums; z is identical double arithmetic; the normal-tail
    p-value uses the Abramowitz-Stegun 7.1.26 erfc polynomial spelled
    in the SAME Horner order both engines (only exp()'s last ulp
    differs, absorbed by ROUND 6); the BH pass then runs on 6
    dp-identical doubles with (p, container) total order.

    Scale: ONE conditional-agg pass over the fact join produces the
    per-test moments (map-side partial agg); the z/p/BH math runs on
    the m-row test grain. m grows with the hypothesis set, never the
    data.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_brand").alias("container"),
        F.col("p_type").startswith("PROMO").alias("promo"),
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])

    def arm(flag: Column, name: str) -> list[Column]:
        price = F.when(flag, F.col("price"))
        return [
            F.count(F.when(flag, F.lit(1))).cast("long").alias(f"n{name}"),
            F.sum(price).cast("double").alias(f"s{name}"),
            F.sum((price * price).cast("decimal(38,4)"))
            .cast("double")
            .alias(f"ss{name}"),
        ]

    g = (
        j.groupBy("container")
        .agg(*arm(F.col("promo"), "1"), *arm(~F.col("promo"), "0"))
        .filter((F.col("n1") >= 2) & (F.col("n0") >= 2))
    )
    var1 = (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var0 = (F.col("ss0") - F.col("s0") * F.col("s0") / F.col("n0")) / (
        F.col("n0") - 1
    )
    zval = (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")) / F.sqrt(
        var1 / F.col("n1") + var0 / F.col("n0")
    )
    pdf = g.select(
        "container",
        F.col("n1").alias("n_promo"),
        F.col("n0").alias("n_other"),
        F.round(zval, 6).alias("z_stat"),
        F.round(_erfc_col(F.abs(zval) / F.sqrt(F.lit(2.0))), 6).alias("p_value"),
    )
    w_rank = Window.orderBy("p_value", "container")
    w_all = Window.partitionBy()
    ranked = pdf.withColumn("i", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(w_all)
    )
    w_step = (
        Window.orderBy(F.col("p_value").desc(), F.col("container").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.least(
        F.min(F.col("p_value") * F.col("m") / F.col("i")).over(w_step),
        F.lit(1.0),
    )
    return ranked.select(
        "container",
        "n_promo",
        "n_other",
        "z_stat",
        "p_value",
        F.round(q, 6).alias("q_value"),
        F.when(q <= F.lit(_BH_ALPHA), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("reject"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test across order priorities
# ---------------------------------------------------------------------------

_BF_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS grp, CAST(o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders
),
cnt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY grp),
ranked AS (
  SELECT grp, x, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn
  FROM o
),
med AS (
  SELECT r.grp, r.x AS med
  FROM ranked r JOIN cnt c ON c.grp = r.grp
  WHERE r.rn = (c.n + 1) // 2
),
z AS (
  SELECT o.grp, ABS(o.x - m.med) AS z
  FROM o JOIN med m ON m.grp = o.grp
),
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS DOUBLE) AS s,
         CAST(SUM(CAST(z * z AS DECIMAL(38,4))) AS DOUBLE) AS q
  FROM z GROUP BY grp
),
terms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CAST(ROUND(s * s / n, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_sq_over_n,
         CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE) AS s_all,
         CAST(SUM(CAST(ROUND(q - s * s / n, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS ssw
  FROM g
)
SELECT k AS n_groups, n_total,
  ROUND((CAST(n_total - k AS DOUBLE) / (k - 1))
        * (sum_sq_over_n - s_all * s_all / n_total) / ssw, 6) AS f_stat
FROM terms
"""


@register(
    "brown_forsythe_priority", oracle=_BF_ORACLE, tags=("stats", "agg", "window")
)
def brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with MEDIAN centers): are order-value
    variances equal across the five order priorities? Computes
    z = |x − median_g| per row, then the one-way ANOVA F on z — the
    robust guard every pooled-variance comparison should run first.

    Determinism: group medians are DISCRETE lower medians of exact
    decimals (rank (n+1)//2 — value deterministic under ties because
    tied rows hold equal values); z and its square stay exact decimal;
    the 5 per-group double terms (S²_g/n_g and SSW_g) are rounded to
    6 dp and summed exactly in decimal, because a 5-term double sum
    already differs in order across engines. Final F rounded 6 dp.

    Scale: the exact median costs one ranking window per group — the
    honest exact spelling at bench scale; at 100 TB swap the median
    stage for approx_percentile(0.5) (the ``robust_zscore_outliers`` /
    ``_approx`` pair documents exactly this swap). Everything after the
    |x−med| map is a single hash-agg on the 5-group grain.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )
    cnt = o.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    ranked = o.withColumn(
        "rn", F.row_number().over(Window.partitionBy("grp").orderBy("x"))
    )
    med = (
        ranked.join(F.broadcast(cnt), "grp")
        .filter(F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        .select("grp", F.col("x").alias("med"))
    )
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("double").alias("s"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,4)"))
        .cast("double")
        .alias("q"),
    )
    terms = g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.round(F.col("s") * F.col("s") / F.col("n"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sum_sq_over_n"),
        F.sum(F.col("s").cast("decimal(38,6)")).cast("double").alias("s_all"),
        F.sum(
            F.round(
                F.col("q") - F.col("s") * F.col("s") / F.col("n"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ssw"),
    )
    return terms.select(
        "n_groups",
        "n_total",
        F.round(
            ((F.col("n_total") - F.col("n_groups")).cast("double")
             / (F.col("n_groups") - 1))
            * (
                F.col("sum_sq_over_n")
                - F.col("s_all") * F.col("s_all") / F.col("n_total")
            )
            / F.col("ssw"),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the nation trade graph
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH flows AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
),
thresh AS (
  SELECT CAST(SUM(w) AS DOUBLE) / COUNT(*) AS avg_w FROM flows
),
edges AS (
  SELECT src, dst FROM flows WHERE w > (SELECT avg_w FROM thresh)
),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS ud FROM edges GROUP BY src),
ind  AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS vd FROM edges GROUP BY dst),
ev AS (
  SELECT o.ud AS u, i.vd AS v
  FROM edges e JOIN outd o ON o.src = e.src JOIN ind i ON i.dst = e.dst
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
  ROUND((COUNT(*) * CAST(SUM(u * v) AS DOUBLE) - CAST(SUM(u) AS DOUBLE) * SUM(v))
        / NULLIF(
            SQRT(COUNT(*) * CAST(SUM(u * u) AS DOUBLE) - CAST(SUM(u) AS DOUBLE) * SUM(u))
          * SQRT(COUNT(*) * CAST(SUM(v * v) AS DOUBLE) - CAST(SUM(v) AS DOUBLE) * SUM(v)),
            0.0), 6)
    AS assortativity
FROM ev
"""


@register(
    "degree_assortativity_trade", oracle=_ASSORT_ORACLE, tags=("graph", "stats")
)
def degree_assortativity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the nation trade network: the Pearson
    correlation of (out-degree of source, in-degree of destination)
    across trade edges — positive means hub exporters trade with hub
    importers (hub-hub mixing), negative means hub-periphery. The
    standard one-number summary of graph mixing structure (Newman
    2002), joining the pagerank/triangle/modularity family. Edges are
    the ABOVE-AVERAGE-weight flows: the 25-nation flow matrix is
    complete (every pair trades a little), so the unweighted complete
    graph has constant degrees and an undefined correlation — the
    thresholded backbone is the graph whose mixing is worth measuring.

    Determinism: the edge threshold compares exact BIGINT flow counts
    to one global double mean (identical division both engines);
    degrees and all Pearson sufficient statistics are exact BIGINTs
    over ≤ 625 edges; the only double step is the final
    covariance/√(var·var), NULLIF-guarded against a degenerate
    constant-degree backbone, ROUND 6.

    Scale: the fact-sized stage is the distinct-edge agg (map-side
    partial); degrees and the correlation run on the bounded edge set,
    joined back via two broadcast joins. For a billion-node graph the
    same plan holds with degree tables shuffle-joined on node key.
    """
    l = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flows = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    thresh = flows.agg(
        (F.sum("w").cast("double") / F.count("*")).alias("avg_w")
    )
    edges = (
        flows.crossJoin(F.broadcast(thresh))
        .filter(F.col("w") > F.col("avg_w"))
        .select("src", "dst")
    )
    outd = edges.groupBy("src").agg(F.count("*").cast("long").alias("ud"))
    ind = edges.groupBy("dst").agg(F.count("*").cast("long").alias("vd"))
    ev = (
        edges.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("ud").alias("u"), F.col("vd").alias("v"))
    )
    n = F.count("*")
    su, sv = F.sum("u").cast("double"), F.sum("v").cast("double")
    suv = F.sum(F.col("u") * F.col("v")).cast("double")
    suu = F.sum(F.col("u") * F.col("u")).cast("double")
    svv = F.sum(F.col("v") * F.col("v")).cast("double")
    return ev.agg(
        n.cast("long").alias("n_edges"),
        F.round(
            (n * suv - su * sv)
            / F.nullif(
                F.sqrt(n * suu - su * su) * F.sqrt(n * svv - sv * sv),
                F.lit(0.0),
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley sequential drift statistic over daily revenue
# ---------------------------------------------------------------------------

_PH_ORACLE = f"""
WITH daily AS ({_DAILY_CTE}),
seq AS (
  SELECT day, CAST(rev AS DOUBLE) AS x,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         CAST(SUM(rev) OVER (ORDER BY day) AS DOUBLE) AS s
  FROM daily
),
term AS (
  SELECT day, x, CAST(ROUND(x - s / i, 6) AS DECIMAL(28,6)) AS t6 FROM seq
),
m AS (
  SELECT day, x, CAST(SUM(t6) OVER (ORDER BY day) AS DOUBLE) AS mt FROM term
)
SELECT day, x AS revenue,
       ROUND(mt - MIN(mt) OVER (ORDER BY day), 6) AS ph_stat
FROM m
"""


def page_hinkley_over_daily(daily: DataFrame) -> DataFrame:
    """Day-grain Page-Hinkley math shared by the batch query and the
    streaming rollup (streaming/windows.py ``rollup_page_hinkley``):
    input is (day, rev) with ``rev`` an exact decimal daily sum; output
    is (day, revenue, ph_stat). ONE implementation, the
    ``cusum_over_daily`` discipline, so the stream≡batch parity test
    pins the streaming twin against exactly the arithmetic the driver
    oracle checks."""
    w = Window.orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = daily.select(
        "day",
        F.col("rev").cast("double").alias("x"),
        F.row_number().over(w).alias("i"),
        F.sum("rev").over(wc).cast("double").alias("s"),
    )
    term = seq.select(
        "day",
        "x",
        F.round(F.col("x") - F.col("s") / F.col("i"), 6)
        .cast("decimal(28,6)")
        .alias("t6"),
    )
    m = term.select(
        "day", "x", F.sum("t6").over(wc).cast("double").alias("mt")
    )
    return m.select(
        "day",
        F.col("x").alias("revenue"),
        F.round(F.col("mt") - F.min("mt").over(wc), 6).alias("ph_stat"),
    )


@register(
    "page_hinkley_drift_daily", oracle=_PH_ORACLE, tags=("temporal", "stats")
)
def page_hinkley_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential change-point statistic over daily
    revenue: mₜ = Σᵢ≤ₜ (xᵢ − x̄ᵢ) with x̄ᵢ the RUNNING mean (δ=0
    variant), reported as PHₜ = mₜ − minᵢ≤ₜ mᵢ — the one-pass upward
    drift detector streaming systems run (an alarm fires when PH
    exceeds λ). Sibling of ``cusum_drift_daily``, which uses the fixed
    global mean; PH needs no second pass, which is why it streams.

    Determinism: the running revenue sum stays in exact decimal; each
    deviation term xᵢ − Sᵢ/i is one identical double op rounded to 6 dp
    and CUMULATIVELY SUMMED IN DECIMAL (window sum implementations
    accumulate doubles in different orders — segment trees vs running —
    so the prefix sum must be exact to be cross-engine stable); the
    prefix min is order-safe. Final ROUND 6.

    Scale: identical to the cusum family — fact-sized work is the
    per-day hash-agg; every window runs on the calendar-bounded day
    grain. The streaming twin is a transformWithState/applyInPandas
    running (count, sum, min) per key — see streaming/windows.py
    rollup_cusum for the registered precedent; ``rollup_page_hinkley``
    delegates to the same :func:`page_hinkley_over_daily` this uses.
    """
    return page_hinkley_over_daily(_daily(spark, sf_dir))
