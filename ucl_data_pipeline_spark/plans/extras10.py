"""Round-5 inventory depth, seventh batch: sketch-accuracy gating
(HLL), graph community quality (modularity), text readability, lagged
series cross-correlation, SQL null-semantics surfaces, a cross-field
constraint audit, and hourly trending ranks.

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.registry import register, sql_dsum
from ucl_data_pipeline_spark.sources.io import read_table

# ---------------------------------------------------------------------------
# HyperLogLog distinct-count error gate
# ---------------------------------------------------------------------------

_HLL_TOL = 0.10

_HLL_GATE_ORACLE = f"""
SELECT c_nationkey,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_cnt,
       ABS(approx_count_distinct(c_custkey) - COUNT(DISTINCT c_custkey))
         <= {_HLL_TOL} * COUNT(DISTINCT c_custkey) AS within_10pct
FROM customer GROUP BY c_nationkey
"""


@register("hll_distinct_error_gate", oracle=_HLL_GATE_ORACLE, tags=("sketch", "gate"))
def hll_distinct_error_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog accuracy gate: per nation, the exact distinct
    customer count next to a boolean asserting the engine's HLL
    estimate lands within 10%. Companions minhash_jaccard_error /
    ann_recall gates — every sketch the engine leans on at 100 TB
    (where exact COUNT DISTINCT is a full shuffle but HLL merges
    map-side in O(registers)) gets a driver-visible quality row.
    Each engine gates its OWN sketch (Spark HLL++ vs DuckDB's HLL
    — different registers, same guarantee class); only the exact
    count and the pass boolean are compared, which is the point:
    the gate is engine-portable, the sketch is not.
    """
    c = read_table(spark, sf_dir, "customer")
    exact = F.count_distinct("c_custkey")
    approx = F.approx_count_distinct("c_custkey", 0.02)
    return c.groupBy("c_nationkey").agg(
        exact.alias("exact_cnt"),
        (F.abs(approx - exact) <= F.lit(_HLL_TOL) * exact).alias("within_10pct"),
    )


# ---------------------------------------------------------------------------
# Trade-graph modularity of the region partition
# ---------------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
lab AS (
  SELECT e.src, e.dst, e.w,
         ns.n_regionkey AS comm_src, nd.n_regionkey AS comm_dst
  FROM edges e
  JOIN nation ns ON ns.n_nationkey = e.src
  JOIN nation nd ON nd.n_nationkey = e.dst
),
tot AS (SELECT SUM(w) AS m FROM lab),
within AS (
  SELECT SUM(CASE WHEN comm_src = comm_dst THEN w ELSE 0 END) AS w_in FROM lab
),
degs AS (
  SELECT comm, SUM(w_out) AS d_out, SUM(w_in) AS d_in FROM (
    SELECT comm_src AS comm, SUM(w) AS w_out, 0 AS w_in FROM lab GROUP BY 1
    UNION ALL
    SELECT comm_dst AS comm, 0 AS w_out, SUM(w) AS w_in FROM lab GROUP BY 1
  ) GROUP BY comm
),
crossterm AS (SELECT SUM(d_out * d_in) AS dd FROM degs)
SELECT CAST(tot.m AS BIGINT) AS m_edges,
       ROUND(CAST(within.w_in AS DOUBLE) / tot.m
             - CAST(crossterm.dd AS DOUBLE) / (tot.m * tot.m), 6)
         AS q_modularity
FROM tot, within, crossterm
"""


@register(
    "trade_modularity_score", oracle=_MODULARITY_ORACLE, tags=("graph", "stats")
)
def trade_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity of the region partition over the
    nation trade graph: Q = Σ_within w/m − Σ_c (dᵒᵘᵗ_c·dⁱⁿ_c)/m² —
    the community-quality score a Louvain-style pipeline maximizes,
    computed here for the given (region) labeling. Every sufficient
    statistic is an INTEGER (edge-count weights, degree products), so
    both engines divide identical exact integers — the only float ops
    are two divisions and one subtraction, ROUND 6.

    Scale: one fact-side aggregation to nation-level edges (the same
    persisted shape pagerank/BFS/Bellman-Ford reuse), then all
    modularity math runs on ≤ 625 edge rows and 5 community rows.
    """
    l = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    ns = n.select(F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("comm_src"))
    nd = n.select(F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("comm_dst"))
    lab = edges.join(F.broadcast(ns), "src").join(F.broadcast(nd), "dst").persist()
    tot = lab.agg(F.sum("w").alias("m"))
    within = lab.agg(
        F.sum(F.when(F.col("comm_src") == F.col("comm_dst"), F.col("w")).otherwise(0)).alias("w_in")
    )
    outs = lab.groupBy(F.col("comm_src").alias("comm")).agg(F.sum("w").alias("d_out"))
    ins = lab.groupBy(F.col("comm_dst").alias("comm")).agg(F.sum("w").alias("d_in"))
    crossterm = (
        outs.join(ins, "comm", "full_outer")
        .agg(
            F.sum(
                F.coalesce("d_out", F.lit(0)) * F.coalesce("d_in", F.lit(0))
            ).alias("dd")
        )
    )
    return (
        tot.crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(crossterm))
        .select(
            F.col("m").cast("bigint").alias("m_edges"),
            F.round(
                F.col("w_in").cast("double") / F.col("m")
                - F.col("dd").cast("double") / (F.col("m") * F.col("m")),
                6,
            ).alias("q_modularity"),
        )
    )


# ---------------------------------------------------------------------------
# Flesch-style readability scores
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = r"""
WITH counts AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_words,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       CAST(n_sentences AS INTEGER) AS n_sentences,
       CAST(n_syllables AS INTEGER) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
         AS flesch_ease
FROM counts
"""


@register("readability_scores", oracle=_READABILITY_ORACLE, tags=("text", "llm"))
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from surface counts: words
    (whitespace tokens), sentences (terminal-punctuation runs, floored
    at 1), and syllables approximated as vowel-group runs — the
    standard dictionary-free estimator. Joins text_quality_score in
    the quality-filter family: readability is the classic cheap prior
    for "is this prose or junk" in a training-data pipeline.

    Determinism: the formula is a fixed expression tree over integer
    counts and literal constants — both engines evaluate the identical
    double operations; ROUND 6 caps printing drift. Scale: pure
    scan-side regexp counting, no shuffle at all.
    """
    d = read_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
    )
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_sent.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent)
            - F.lit(84.6) * (n_syll.cast("double") / n_words),
            6,
        ).alias("flesch_ease"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation of two daily event series
# ---------------------------------------------------------------------------

_XCORR_LAGS = list(range(-3, 4))

_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS x,
         {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
           AS y
  FROM events GROUP BY 1
),
lagged AS (
  SELECT lag, a.x AS x, b.y AS y
  FROM daily a,
       (SELECT unnest([{", ".join(str(v) for v in _XCORR_LAGS)}]) AS lag) lags
  JOIN daily b ON b.day = a.day + lag
),
stats AS (
  SELECT lag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6)))
              AS DOUBLE) AS qx,
         CAST(SUM(CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
              AS DOUBLE) AS qy,
         CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
              AS DOUBLE) AS xy
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_days,
       ROUND((n * xy - sx * sy)
             / SQRT((n * qx - sx * sx) * (n * qy - sy * sy)), 6) AS r
FROM stats
"""


@register("crosscorr_event_series", oracle=_XCORR_ORACLE, tags=("temporal", "stats"))
def crosscorr_event_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged Pearson cross-correlation between two daily series —
    view COUNT vs purchase REVENUE — at lags −3..+3 days: the lead-lag
    diagnostic behind "do views predict purchases, and how far ahead?"
    (the argmax-|r| lag is the candidate lead time). Per lag, the five
    sufficient statistics are computed as exact DECIMAL(28,6) sums
    (corr_matrix_lineitem's convention) so both engines feed identical
    doubles into the one SQRT, ROUND 6.

    Scale: ONE fact pass builds the daily aggregate (map-combined);
    the lag fan-out (×7 literal lags) and the self-join run on the
    DAY-grain table — thousands of rows per decade of data.
    """
    e = read_table(spark, sf_dir, "events")
    dec = "decimal(28,6)"
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
            .cast("decimal(18,6)")
        )
        .cast("double")
        .alias("y"),
    )
    a = daily.select(
        "day", "x", F.explode(F.array(*[F.lit(v) for v in _XCORR_LAGS])).alias("lag")
    )
    b = daily.select(F.col("day").alias("bday"), F.col("y").alias("by"))
    lagged = a.join(b, F.expr("bday = date_add(day, lag)")).select(
        "lag", "x", F.col("by").alias("y")
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    stats = lagged.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("qx"),
        F.sum(yd * yd).cast("double").alias("qy"),
        F.sum(xd * yd).cast("double").alias("xy"),
    )
    r = (F.col("n") * F.col("xy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("qx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("qy") - F.col("sy") * F.col("sy"))
    )
    return stats.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_days"),
        F.round(r, 6).alias("r"),
    )


# ---------------------------------------------------------------------------
# Null-safe equality join surface (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_NULL_SAFE_ORACLE = """
WITH cg AS (
  SELECT NULLIF(c_nationkey % 5, 4) AS grp, COUNT(*) AS cust_cnt
  FROM customer GROUP BY 1
),
sg AS (
  SELECT NULLIF(s_nationkey % 5, 4) AS grp, COUNT(*) AS supp_cnt
  FROM supplier GROUP BY 1
)
SELECT CAST(cg.grp AS INTEGER) AS grp,
       CAST(cg.cust_cnt AS BIGINT) AS cust_cnt,
       CAST(sg.supp_cnt AS BIGINT) AS supp_cnt
FROM cg JOIN sg ON cg.grp IS NOT DISTINCT FROM sg.grp
"""


@register("null_safe_join_surface", oracle=_NULL_SAFE_ORACLE, tags=("join", "sql"))
def null_safe_join_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    NULL group on both sides MATCHES (one output row pairs the two
    NULL-key aggregates), where a plain `=` join would silently drop
    it — the semantic every dimension-conformance pipeline needs when
    'unknown' is a legitimate key. Joining the two pre-aggregated
    grain tables (≤5 rows each) keeps the null-safe comparison off
    the fact path; Spark plans `<=>` as a regular hash join key, so
    no nested-loop penalty.
    """
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    cg = c.groupBy(
        F.nullif(F.pmod("c_nationkey", F.lit(5)), F.lit(4)).alias("grp")
    ).agg(F.count("*").alias("cust_cnt"))
    sg = s.groupBy(
        F.nullif(F.pmod("s_nationkey", F.lit(5)), F.lit(4)).alias("sgrp")
    ).agg(F.count("*").alias("supp_cnt"))
    return (
        cg.join(sg, cg["grp"].eqNullSafe(sg["sgrp"]))
        .select(
            F.col("grp").cast("int").alias("grp"), "cust_cnt", "supp_cnt"
        )
    )


# ---------------------------------------------------------------------------
# NOT IN vs NOT EXISTS under NULLs (three-valued logic surface)
# ---------------------------------------------------------------------------

_NOT_IN_ORACLE = """
WITH sub AS (
  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders WHERE o_custkey % 7 <> 0
)
SELECT
  CAST((SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN (SELECT k FROM sub)) AS BIGINT) AS n_not_in,
  CAST((SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
       AS BIGINT) AS n_not_exists
"""


@register("not_in_null_semantics", oracle=_NOT_IN_ORACLE, tags=("sql",))
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap as a checked surface: against a subquery
    containing one NULL, `NOT IN` can never be TRUE (x <> NULL is
    UNKNOWN, and one UNKNOWN conjunct poisons the whole predicate), so
    n_not_in = 0, while `NOT EXISTS` — an anti-join on equality, where
    NULL simply never matches — returns the real orphan count. Both
    engines must implement identical three-valued logic for this row
    to hash-match; Catalyst plans NOT IN as a null-aware anti join
    rather than a per-row subquery.
    """
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("nin_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("nin_orders")
    return spark.sql(
        """
        WITH sub AS (
          SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS k
          FROM nin_orders WHERE o_custkey % 7 <> 0
        )
        SELECT
          CAST((SELECT COUNT(*) FROM nin_customer
                WHERE c_custkey NOT IN (SELECT k FROM sub)) AS BIGINT)
            AS n_not_in,
          CAST((SELECT COUNT(*) FROM nin_customer c
                WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
               AS BIGINT) AS n_not_exists
        """
    )


# ---------------------------------------------------------------------------
# Cross-field / referential constraint audit
# ---------------------------------------------------------------------------

_CONSTRAINT_ORACLE = """
WITH li AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bad_qty,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END)
           AS bad_disc,
         SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS bad_price
  FROM lineitem
),
orph AS (
  SELECT COUNT(*) AS n_orphans FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
),
ship AS (
  SELECT COUNT(*) AS n_joined,
         SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
           AS ship_before_order
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT * FROM (
  SELECT 'quantity_positive' AS constraint_name,
         CAST(li.n AS BIGINT) AS n_checked,
         CAST(li.bad_qty AS BIGINT) AS n_violations FROM li
  UNION ALL
  SELECT 'discount_in_range', CAST(li.n AS BIGINT),
         CAST(li.bad_disc AS BIGINT) FROM li
  UNION ALL
  SELECT 'price_positive', CAST(li.n AS BIGINT),
         CAST(li.bad_price AS BIGINT) FROM li
  UNION ALL
  SELECT 'lineitem_order_fk', CAST(li.n AS BIGINT),
         CAST(orph.n_orphans AS BIGINT) FROM li, orph
  UNION ALL
  SELECT 'ship_after_order', CAST(ship.n_joined AS BIGINT),
         CAST(ship.ship_before_order AS BIGINT) FROM ship
)
"""


@register(
    "constraint_violation_audit", oracle=_CONSTRAINT_ORACLE, tags=("quality", "agg")
)
def constraint_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field and referential constraint audit — the warehouse
    contract checks data_quality_profile (per-column stats) cannot
    see: domain ranges (quantity > 0, discount ∈ [0, 0.5], price >
    0), the lineitem→orders foreign key (anti-join orphan count), and
    the cross-TABLE temporal invariant shipdate ≥ orderdate. One
    conditional-sum pass covers all single-table rules; the two
    join-based rules share the o_orderkey join key. Output is one row
    per named constraint — the shape a data-contract monitor alerts
    on.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    one = li.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("bad_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)
            .otherwise(0)
        ).alias("bad_disc"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
    )
    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("n_orphans"))
    )
    ship = li.join(o, li["l_orderkey"] == o["o_orderkey"]).agg(
        F.count("*").alias("n_joined"),
        F.sum(
            F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
        ).alias("ship_before_order"),
    )
    base = one.crossJoin(F.broadcast(orphans)).crossJoin(F.broadcast(ship))

    def row(name: str, checked: str, viol: str) -> DataFrame:
        return base.select(
            F.lit(name).alias("constraint_name"),
            F.col(checked).cast("bigint").alias("n_checked"),
            F.col(viol).cast("bigint").alias("n_violations"),
        )

    return (
        row("quantity_positive", "n", "bad_qty")
        .unionByName(row("discount_in_range", "n", "bad_disc"))
        .unionByName(row("price_positive", "n", "bad_price"))
        .unionByName(row("lineitem_order_fk", "n", "n_orphans"))
        .unionByName(row("ship_after_order", "n_joined", "ship_before_order"))
    )


# ---------------------------------------------------------------------------
# Hourly trending event types (rank + delta vs previous hour)
# ---------------------------------------------------------------------------

_TRENDING_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT hr, event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY hr ORDER BY cnt DESC, event_type)
           AS rnk,
         cnt - LAG(cnt) OVER (PARTITION BY event_type ORDER BY hr) AS delta
  FROM hourly
)
SELECT hr, event_type, CAST(cnt AS BIGINT) AS cnt,
       CAST(rnk AS INTEGER) AS rnk, CAST(delta AS BIGINT) AS delta_vs_prev
FROM ranked WHERE rnk <= 3
"""


@register("trending_event_types_hourly", oracle=_TRENDING_ORACLE, tags=("temporal", "window"))
def trending_event_types_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly trending leaderboard: top-3 event types per hour by
    count, each carrying its delta against the SAME type's previous
    hour — rank-within-period composed with lag-across-periods, the
    two window partitionings a trending feed needs (and they cannot
    share a shuffle: one keys by hour, one by type; both run on the
    hour×type AGGREGATE, which is domain-bounded — 5 types × hours —
    so neither window ever sees fact-table volume).
    """
    e = read_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    w_rank = Window.partitionBy("hr").orderBy(F.col("cnt").desc(), "event_type")
    w_lag = Window.partitionBy("event_type").orderBy("hr")
    return (
        hourly.withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("delta_vs_prev", F.col("cnt") - F.lag("cnt").over(w_lag))
        .filter(F.col("rnk") <= 3)
        .select(
            "hr",
            "event_type",
            "cnt",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("delta_vs_prev").cast("bigint").alias("delta_vs_prev"),
        )
    )
