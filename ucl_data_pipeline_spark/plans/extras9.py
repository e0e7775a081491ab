"""Round-5 inventory depth, fifth batch: engagement windows, budget
apportionment, frequency sketches, multi-dim data layout, and
dimension time-travel — the storage-layout / planning shapes of a
large-scale pipeline (plus their everyday analytics cousins).

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.registry import (
    bucketed_rank_select,
    percentile_disc_rank,
    register,
)
from ucl_data_pipeline_spark.sources.io import read_table, stats_barrier

# ---------------------------------------------------------------------------
# Trailing 7-day distinct users (sliding COUNT DISTINCT)
# ---------------------------------------------------------------------------

_SLIDE_DAYS = 7

_SLIDING_DAU_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM du),
contrib AS (
  SELECT d.day AS obs_day, du.user_id
  FROM du JOIN days d ON d.day BETWEEN du.day AND du.day + {_SLIDE_DAYS - 1}
)
SELECT obs_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
FROM contrib GROUP BY obs_day
"""


@register(
    "sliding_distinct_users_7d", oracle=_SLIDING_DAU_ORACLE, tags=("temporal", "agg")
)
def sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the canonical
    WAU-by-day metric). COUNT DISTINCT over a sliding window cannot be
    computed with a window frame (distinct state is not subtractable),
    so the classic rewrite applies: collapse the fact table to the
    (day, user) grain first, then let each active day CONTRIBUTE to the
    7 observation days it falls in and re-aggregate.

    Scale: the expansion is a constant ×7 of the already-collapsed
    (day, user) table — NOT of the raw fact table — expressed as an
    `explode(sequence(...))` so the contribution join is a pure
    equi-shuffle on the day key (never an inequality/range join, which
    Spark would plan as a nested-loop). Semi-join against observed
    days prunes partial windows that precede the data.
    """
    e = read_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select(F.col("day").alias("obs_day")).distinct()
    contrib = du.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {_SLIDE_DAYS - 1}), interval 1 day)")
        ).alias("obs_day"),
        "user_id",
    )
    return (
        contrib.join(days, "obs_day")
        .groupBy("obs_day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment of a sampling budget
# ---------------------------------------------------------------------------

_APPORTION_BUDGET = 10_000

_APPORTION_ORACLE = f"""
WITH cnt AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS total FROM cnt),
shares AS (
  SELECT source, n_docs,
         (n_docs * {_APPORTION_BUDGET}) // total AS floor_seats,
         (n_docs * {_APPORTION_BUDGET}) % total AS remainder
  FROM cnt, tot
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rem_rank,
         SUM(floor_seats) OVER () AS floor_total
  FROM shares
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(floor_seats
            + CASE WHEN rem_rank <= {_APPORTION_BUDGET} - floor_total
                   THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM ranked
"""


@register(
    "largest_remainder_apportion", oracle=_APPORTION_ORACLE, tags=("llm", "sampling")
)
def largest_remainder_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split a fixed
    sampling budget across document sources proportionally to corpus
    counts, with the integer leftovers going to the largest fractional
    remainders (tie-broken by source name). This is the deterministic
    integer allocator a training-data mixer needs BEFORE
    mixture_resample can draw per-source quotas: quotas sum to the
    budget exactly, no float drift, reproducible across engines.

    All arithmetic is integer (scaled products, `div`/`pmod`) — no
    floating shares anywhere. The windows are keyless but run on the
    per-source aggregate (domain-bounded: one row per source, ~20),
    after the only fact-table pass (the count). At 100 TB the count is
    a map-side-combined hash-agg; everything after is driver-trivial.
    """
    d = read_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = cnt.agg(F.sum("n_docs").alias("total"))
    scaled = F.col("n_docs") * F.lit(_APPORTION_BUDGET)
    shares = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"(n_docs * {_APPORTION_BUDGET}) div total").alias("floor_seats"),
        F.pmod(scaled, F.col("total")).alias("remainder"),
    )
    w_all = Window.partitionBy(F.lit(1))
    ranked = shares.select(
        "source",
        "n_docs",
        "floor_seats",
        F.row_number()
        .over(w_all.orderBy(F.col("remainder").desc(), "source"))
        .alias("rem_rank"),
        F.sum("floor_seats").over(w_all).alias("floor_total"),
    )
    return ranked.select(
        "source",
        "n_docs",
        (
            F.col("floor_seats")
            + F.when(
                F.col("rem_rank")
                <= F.lit(_APPORTION_BUDGET) - F.col("floor_total"),
                1,
            ).otherwise(0)
        ).alias("quota"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch: SQL-expressed CMS + overestimate gate vs exact counts
# ---------------------------------------------------------------------------

# Four public odd 32-bit multipliers (Knuth 2654435761 + xxHash primes)
# drive the d=4 hash rows; w=64 buckets per row.
_CMS_MULTIPLIERS = (2654435761, 2246822519, 3266489917, 668265263)
_CMS_W = 64
_CMS_TRACKED = 20


def _cms_hash(key: Column, c: int, w: int) -> Column:
    """Overflow-safe ``(key·c mod 2³²) mod w`` — the split-multiply
    scheme of functions.scalar.knuth_bucket generalized to any odd
    multiplier (see its docstring for the 2⁴⁹-bound argument)."""
    m32 = 4294967296
    k = F.pmod(key, F.lit(m32))
    k_hi = F.shiftright(k, 16)
    k_lo = k.bitwiseAND(F.lit(65535))
    h = F.pmod(
        F.pmod(k_hi * F.lit(c), F.lit(m32)) * F.lit(65536) + k_lo * F.lit(c),
        F.lit(m32),
    )
    return F.pmod(h, F.lit(w))


def _sql_cms_hash(key: str, c: int, w: int) -> str:
    return (
        f"(((({key} % 4294967296) >> 16) * {c} % 4294967296) * 65536"
        f" + (({key} % 4294967296) & 65535) * {c}) % 4294967296 % {w}"
    )


_CMS_ORACLE = f"""
WITH kc AS (
  SELECT l_partkey AS key, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1
),
cells AS (
  SELECT j, h, SUM(exact_cnt) AS cell FROM (
    {" UNION ALL ".join(
        f"SELECT {j} AS j, {_sql_cms_hash('key', c, _CMS_W)} AS h, exact_cnt FROM kc"
        for j, c in enumerate(_CMS_MULTIPLIERS)
    )}
  ) GROUP BY j, h
),
tracked AS (
  SELECT key, exact_cnt,
         ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, key) AS rnk
  FROM kc QUALIFY rnk <= {_CMS_TRACKED}
),
est AS (
  SELECT t.key, t.exact_cnt, MIN(cells.cell) AS cms_est
  FROM tracked t JOIN cells ON (
    {" OR ".join(
        f"(cells.j = {j} AND cells.h = {_sql_cms_hash('t.key', c, _CMS_W)})"
        for j, c in enumerate(_CMS_MULTIPLIERS)
    )}
  )
  GROUP BY t.key, t.exact_cnt
)
SELECT key AS l_partkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overestimate
FROM est
"""


@register("count_min_estimate_error", oracle=_CMS_ORACLE, tags=("sketch", "gate"))
def count_min_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch expressed as pure relational algebra — d=4 hash
    rows × w=64 buckets over part-key frequencies — plus the quality
    gate: for the 20 hottest keys, the CMS point estimate (min over
    the d cells) against the exact count. CMS never underestimates, so
    ``overestimate`` ≥ 0 row-wise is the sketch's correctness
    invariant, and its magnitude is the collision error a heavy-hitter
    monitor would pay at this (d, w).

    Scale: the sketch is built from the per-key AGGREGATE (one
    map-side-combined pass over the fact table), then exploded ×d over
    the distinct-key table only; the sketch itself is d·w = 256 cells
    — mergeable across partitions/days by cell-wise addition, which is
    the whole point of CMS at 100 TB. Everything is integer arithmetic
    on shared public constants, so both engines agree bit-for-bit.
    """
    li = read_table(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").alias("exact_cnt")
    )
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_hash(F.col("key"), c, _CMS_W).alias("h")
            )
            for j, c in enumerate(_CMS_MULTIPLIERS)
        ]
    )
    exploded = kc.select("key", "exact_cnt", F.explode(hashes).alias("jh"))
    cells = exploded.groupBy(
        F.col("jh.j").alias("j"), F.col("jh.h").alias("h")
    ).agg(F.sum("exact_cnt").alias("cell"))
    tracked = (
        kc.orderBy(F.col("exact_cnt").desc(), "key")
        .limit(_CMS_TRACKED)
        .select("key", "exact_cnt", F.explode(hashes).alias("jh"))
        .select(
            "key",
            "exact_cnt",
            F.col("jh.j").alias("tj"),
            F.col("jh.h").alias("th"),
        )
    )
    return (
        tracked.join(
            F.broadcast(cells),
            (tracked["tj"] == cells["j"]) & (tracked["th"] == cells["h"]),
        )
        .groupBy("key", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            F.col("key").alias("l_partkey"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: interleaved-bit clustering key + file stats
# ---------------------------------------------------------------------------

_Z_BITS = 4  # 16 buckets per dimension → 8-bit z-key → 16 files of 16 keys


def _morton(px: Column, sx: Column) -> Column:
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftright(px, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
            + F.shiftright(sx, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
    return z


_SQL_MORTON = " + ".join(
    f"((px >> {i}) & 1) * {1 << (2 * i + 1)} + ((sx >> {i}) & 1) * {1 << (2 * i)}"
    for i in range(_Z_BITS)
)

_ZORDER_ORACLE = f"""
WITH b AS (
  SELECT l_partkey % 16 AS px, l_suppkey % 16 AS sx FROM lineitem
),
z AS (
  SELECT px, sx, ({_SQL_MORTON}) // 16 AS file_id FROM b
)
SELECT CAST(file_id AS INTEGER) AS file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(px) AS INTEGER) AS px_min, CAST(MAX(px) AS INTEGER) AS px_max,
       CAST(MIN(sx) AS INTEGER) AS sx_min, CAST(MAX(sx) AS INTEGER) AS sx_max,
       CAST((MAX(px) - MIN(px) + 1) * (MAX(sx) - MIN(sx) + 1) AS INTEGER)
         AS bbox_area
FROM z GROUP BY file_id
"""


@register("zorder_layout_stats", oracle=_ZORDER_ORACLE, tags=("layout", "scale"))
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key + the per-file min/max stats it
    yields — the multi-dimensional data-layout trick behind Delta/
    Iceberg `OPTIMIZE ZORDER BY`. Interleaving the bits of two bucket
    keys and range-splitting the result gives every file a TIGHT
    bounding box in BOTH dimensions (bbox_area ≤ 16 per 16-key file
    here vs 16×16 for files split on either single key), so min/max
    file statistics prune point/range scans on either predicate column
    — the property this query's output makes checkable.

    Scale: the z-key is a pure bitwise projection (no shuffle); the
    stats roll up with one hash-agg, exactly the manifest-building
    pass a 100 TB table write performs. Bit arithmetic is identical
    integer math in both engines.
    """
    li = read_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.pmod("l_partkey", F.lit(16)).alias("px"),
        F.pmod("l_suppkey", F.lit(16)).alias("sx"),
    )
    z = b.select("px", "sx", F.shiftright(_morton(F.col("px"), F.col("sx")), 4).alias("file_id"))
    return z.groupBy(F.col("file_id").cast("int").alias("file_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("px").cast("int").alias("px_min"),
        F.max("px").cast("int").alias("px_max"),
        F.min("sx").cast("int").alias("sx_min"),
        F.max("sx").cast("int").alias("sx_max"),
        ((F.max("px") - F.min("px") + 1) * (F.max("sx") - F.min("sx") + 1))
        .cast("int")
        .alias("bbox_area"),
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join (time-travel dimension lookup)
# ---------------------------------------------------------------------------

_SCD2_PIT_ORACLE = """
WITH v1 AS (
  SELECT c_custkey, c_acctbal, 1 AS version FROM customer
),
v2 AS (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 2 AS version
  FROM customer WHERE c_custkey % 3 = 0
),
scd AS (
  SELECT c_custkey, c_acctbal, version AS valid_from,
         COALESCE(
           LEAD(version) OVER (PARTITION BY c_custkey ORDER BY version) - 1,
           2147483647) AS valid_to
  FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
)
SELECT o.o_orderkey, o.o_custkey,
       CAST(1 + o.o_orderkey % 2 AS INTEGER) AS as_of_version,
       s.c_acctbal AS acctbal_as_of
FROM orders o
JOIN scd s
  ON s.c_custkey = o.o_custkey
 AND 1 + o.o_orderkey % 2 BETWEEN s.valid_from AND s.valid_to
"""


@register("scd2_point_in_time_join", oracle=_SCD2_PIT_ORACLE, tags=("join", "pipeline"))
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) fact→dimension lookup against an
    SCD2 history: every order reads the customer attribute that was
    VALID AT its as-of version — the query shape that makes SCD2
    worth building (scd2_history constructs the intervals; this
    consumes them). Interval containment is resolved as an EQUI-join
    on the customer key followed by the validity predicate: each key
    has at most a handful of versions, so the bounded post-join filter
    beats a range-join plan (which Spark would nested-loop). At 100 TB
    both sides bucket on the key and the join is exchange-free.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    v1 = c.select("c_custkey", "c_acctbal", F.lit(1).alias("version"))
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("c_custkey").orderBy("version")
    scd = (
        v1.unionByName(v2)
        .select(
            "c_custkey",
            "c_acctbal",
            F.col("version").alias("valid_from"),
            F.coalesce(
                F.lead("version").over(w) - 1, F.lit(2147483647)
            ).alias("valid_to"),
        )
    )
    fact = o.select(
        "o_orderkey",
        "o_custkey",
        (1 + F.pmod("o_orderkey", F.lit(2))).cast("int").alias("as_of_version"),
    )
    return (
        fact.join(scd, fact["o_custkey"] == scd["c_custkey"])
        .filter(
            F.col("as_of_version").between(
                F.col("valid_from"), F.col("valid_to")
            )
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "as_of_version",
            F.col("c_acctbal").alias("acctbal_as_of"),
        )
    )


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (double exponential smoothing, literal weights)
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.2
_HOLT_N = 14


def _holt_coeffs(n: int, a: float, b: float) -> list[float]:
    """Unroll Holt's recursion symbolically: coefficients c_i such that
    (level_n + trend_n) = Σ c_i · y_i for the oldest-first series
    y_1..y_n with l1=y1, b1=y2-y1. Pure float arithmetic on module
    constants — both engines receive the IDENTICAL literal weights."""
    lvl = [0.0] * n
    trd = [0.0] * n
    lvl[0] = 1.0
    trd[0], trd[1] = -1.0, 1.0
    for t in range(1, n):
        prev_l, prev_t = lvl[:], trd[:]
        lvl = [(1 - a) * (pl + pt) for pl, pt in zip(prev_l, prev_t)]
        lvl[t] += a
        trd = [b * (nl - pl) + (1 - b) * pt
               for nl, pl, pt in zip(lvl, prev_l, prev_t)]
    return [l + t for l, t in zip(lvl, trd)]


_HOLT_C = _holt_coeffs(_HOLT_N, _HOLT_ALPHA, _HOLT_BETA)
_SQL_HOLT_C = "[" + ", ".join(repr(c) for c in _HOLT_C) + "]"

_HOLT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
lastn AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day DESC) AS rd
  FROM daily QUALIFY rd <= {_HOLT_N}
),
ranked AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM lastn
)
SELECT MAX(day) AS last_day,
       CAST(SUM(CAST(ROUND(({_SQL_HOLT_C})[rn] * rev, 6) AS DECIMAL(18,6)))
            AS DOUBLE) AS forecast_next_revenue
FROM ranked
"""


@register("holt_linear_forecast", oracle=_HOLT_ORACLE, tags=("temporal", "forecast"))
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + trend) one-step revenue
    forecast over the last 14 days — the forecasting step up from the
    flat EWMA (ewma_bounded): a linear trend component keeps the
    prediction from lagging a drifting series. The inherently
    sequential recursion is made engine-neutral by unrolling it
    SYMBOLICALLY at import time: over a fixed 14-day horizon, Holt is
    a linear filter, so level₁₄+trend₁₄ = Σ cᵢ·yᵢ with weights cᵢ
    depending only on (α, β) — computed once in Python and fed to
    BOTH engines as shared literals. Per-term products are ROUND-6 +
    decimal-summed, the house rule for order-independent float totals.

    Scale: one map-combined hash-agg over orders builds the daily
    series; everything after runs on 14 rows. The bounded-horizon
    linear-filter trick generalizes to any fixed-window recursive
    smoother (Brown, damped-trend Holt).
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("rev")
    )
    lastn = daily.orderBy(F.col("day").desc()).limit(_HOLT_N)
    w = Window.partitionBy(F.lit(1)).orderBy("day")
    ranked = lastn.select("day", "rev", F.row_number().over(w).alias("rn"))
    coeffs = F.array(*[F.lit(c) for c in _HOLT_C])
    term = F.round(F.element_at(coeffs, F.col("rn")) * F.col("rev"), 6)
    return ranked.agg(
        F.max("day").alias("last_day"),
        F.sum(term.cast("decimal(18,6)"))
        .cast("double")
        .alias("forecast_next_revenue"),
    )


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford: cheapest nation-to-nation trade route
# ---------------------------------------------------------------------------

_BF_ITER = 3
_BF_SOURCE = 0


def _sql_bf_iter(prev: str, nxt: str) -> str:
    return f"""{nxt} AS (
  SELECT n.node,
         CASE WHEN n.cost IS NULL THEN c.cand
              WHEN c.cand IS NULL THEN n.cost
              ELSE LEAST(n.cost, c.cand) END AS cost
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS node, MIN(p.cost + e.w) AS cand
    FROM {prev} p JOIN edges e ON e.src = p.node
    WHERE p.cost IS NOT NULL GROUP BY e.dst
  ) c ON c.node = n.node
)"""


_BF_ORACLE = f"""
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(FLOOR(
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(l.l_extendedprice)) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
  GROUP BY 1, 2
),
d0 AS (
  SELECT n_nationkey AS node,
         CASE WHEN n_nationkey = {_BF_SOURCE}
              THEN CAST(0 AS BIGINT) END AS cost
  FROM nation
),
{",".join(_sql_bf_iter(f"d{i}", f"d{i + 1}") for i in range(_BF_ITER))}
SELECT node, CAST(cost AS BIGINT) AS cost FROM d{_BF_ITER}
"""


@register(
    "cheapest_route_nations", oracle=_BF_ORACLE, tags=("graph", "iterative", "join")
)
def cheapest_route_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford ({N} relaxations) over the weighted trade
    graph: minimum cumulative cost from nation {SRC} to every nation,
    where an edge costs the FLOOR of the mean line price on that trade
    lane — min-plus relaxation, the weighted generalization of
    bfs_reach_hops (a 2-hop detour can genuinely beat a direct edge
    here, which hop-BFS cannot see). Edge weights are floored to
    BIGINT so the entire computation is integer min-plus — zero float
    conventions needed (the mean itself is the exact-decimal davg
    both engines compute bit-identically before the floor).

    Scale shape: the fact-side edge aggregation happens ONCE and is
    persisted; each relaxation joins broadcast node-bounded state
    (≤25 rows) against the edge table — no SortMergeJoin, edges never
    re-shuffle, one lazy Catalyst plan end-to-end; the oracle unrolls
    the identical supersteps as chained CTEs.
    """
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(
            F.floor(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                .cast("double")
                / F.count("l_extendedprice")
            )
            .cast("bigint")
            .alias("w")
        )
        .persist()
    )
    d = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"),
        F.when(F.col("n_nationkey") == _BF_SOURCE, F.lit(0))
        .cast("bigint")
        .alias("cost"),
    )
    for _ in range(_BF_ITER):
        cand = (
            edges.join(
                F.broadcast(d.filter(F.col("cost").isNotNull())),
                d["node"] == edges["src"],
            )
            .groupBy(F.col("dst").alias("cnode"))
            .agg(F.min(F.col("cost") + F.col("w")).alias("cand"))
        )
        d = d.join(F.broadcast(cand), d["node"] == cand["cnode"], "left").select(
            "node",
            F.when(F.col("cost").isNull(), F.col("cand"))
            .when(F.col("cand").isNull(), F.col("cost"))
            .otherwise(F.least("cost", "cand"))
            .alias("cost"),
        )
    return d.select("node", F.col("cost").cast("bigint").alias("cost"))


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity self-join (ppjoin-style)
# ---------------------------------------------------------------------------

_PF_THETA_NUM, _PF_THETA_DEN = 1, 2  # Jaccard threshold 0.5 as a rational

from ucl_data_pipeline_spark.plans.llm_ops import (  # noqa: E402
    _SQL_SHINGLES as _LLM_SQL_SHINGLES,
    _SQL_TOKS as _LLM_SQL_TOKS,
)

_PREFIX_FILTER_ORACLE = f"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
tok0 AS (
  SELECT doc_id, {_LLM_SQL_TOKS} AS t FROM rep
),
tok AS (
  SELECT doc_id, {_LLM_SQL_SHINGLES.format(t="t")} AS toks FROM tok0
),
ex AS (
  SELECT doc_id, unnest(toks) AS tok FROM tok
),
df AS (
  SELECT tok, COUNT(*) AS df FROM ex GROUP BY tok
),
sized AS (
  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
),
pfx AS (
  SELECT e.doc_id, e.tok
  FROM ex e JOIN df USING (tok) JOIN sized s USING (doc_id)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY df.df, e.tok)
          <= s.n - (s.n + 1) // 2 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
shared AS (
  SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter
  FROM ex ea JOIN ex eb ON ea.tok = eb.tok
  JOIN cand ON cand.doc_a = ea.doc_id AND cand.doc_b = eb.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.inter AS DOUBLE) / CAST(sa.n + sb.n - s.inter AS DOUBLE)
         AS jaccard
FROM shared s
JOIN sized sa ON s.doc_a = sa.doc_id
JOIN sized sb ON s.doc_b = sb.doc_id
WHERE s.inter * {_PF_THETA_DEN}
      >= (sa.n + sb.n - s.inter) * {_PF_THETA_NUM}
"""


@register(
    "jaccard_prefix_filter_pairs",
    oracle=_PREFIX_FILTER_ORACLE,
    tags=("dedup", "llm"),
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level set-similarity self-join via PREFIX FILTERING
    (the ppjoin family): documents pair as candidates only if they
    share a shingle in their rarest-first PREFIX of n - ⌈θ·n⌉ + 1 — any
    pair with Jaccard ≥ θ provably shares one, so the candidate set is
    exact, then full-set verification computes true Jaccard. This is
    the alternative scale path to the df-capped inverted index
    (jaccard_shingle_pairs): instead of dropping stop-shingles, EVERY
    document indexes only its globally-rarest few tokens, so hot
    tokens never form join buckets at all — the candidate count is
    bounded by rare-token collisions, the right trade when the corpus
    has no clean stop-token frontier.

    Exact-dup collapse first (rep), integer threshold algebra
    (inter·2 ≥ union·1 for θ=1/2 — no float compare), and the final
    jaccard is a same-integers division, bit-identical cross-engine.

    Scale: df ranking is one hash-agg over the exploded token table;
    the prefix cut drops each doc to ~n/2 rarest tokens; the self-join
    key distribution is the RARE tail of the vocabulary by
    construction. Verification joins run only on surviving candidates.

    Shuffle keys are 8-byte xxhash64 DIGESTS of the shingles, not the
    raw strings (same re-keying as the LSH band keys, llm_ops.py) —
    the df hash-agg, the doc_id-window sort, and the prefix self-join
    all move fixed-width longs. The prefix set chosen under the
    (df, digest) total order can differ from the oracle's (df, string)
    order on equal-df ties, but prefix filtering is COMPLETE under any
    consistent global order (every pair with J ≥ θ shares a prefix
    token), and full-set verification computes exact Jaccard — so the
    final output is order-invariant and the string-keyed DuckDB oracle
    remains the digest-collision check.
    """
    from ucl_data_pipeline_spark.plans.llm_ops import _rep_features

    toks = _rep_features(spark, sf_dir).withColumnRenamed("feats", "toks").persist()
    ex = (
        toks.select("doc_id", F.explode("toks").alias("tok_s"))
        .select("doc_id", F.xxhash64("tok_s").alias("tok"))
        .persist()
    )
    # df = token document frequency as a WINDOW over the tok
    # partitioning, not groupBy+join (r12): the join spelling's build
    # side is an explode-fed VOCABULARY-sized aggregate, and Catalyst's
    # static size estimate cannot see through Generate — at ×100 data
    # the static planner still chose BroadcastHashJoin for a ~20M-row
    # vocab and the broadcast build blew the driver (the ×100 smoke's
    # one real find this round; SCALE_NOTES). The window needs exactly
    # the one tok-shuffle any scale-safe join spelling would pay, with
    # no join operator left for the planner to misplan at any scale.
    # rn and n ride the SAME doc_id shuffle (two window specs, one
    # partitioning) — no doc-level side table to join or broadcast,
    # which would be corpus-sized at 100 TB.
    w_tok = Window.partitionBy("tok")
    w_part = Window.partitionBy("doc_id")
    w_doc = w_part.orderBy("df", "tok")
    pfx = (
        ex.withColumn("df", F.count("*").over(w_tok))
        .withColumn("rn", F.row_number().over(w_doc))
        .withColumn("n", F.count("*").over(w_part))
        .filter(
            F.col("rn")
            <= F.col("n") - F.expr("(n + 1) div 2") + F.lit(1)
        )
        .select("doc_id", "tok", "rn", "n")
    )
    # ppjoin candidate pruning — both filters only discard pairs that
    # provably CANNOT reach θ, so the verified output (and the oracle)
    # is unchanged: (1) length filter — J ≥ 1/2 forces 2·min(na,nb) ≥
    # max(na,nb); (2) positional filter — a match at prefix ranks
    # (ra, rb) caps the total overlap at min(na-ra, nb-rb)+1, which
    # must reach the θ-equivalent overlap ⌈(na+nb)/3⌉ (3x ≥ y is the
    # integer spelling of x ≥ ⌈y/3⌉).
    # stats-barrier the prefix self-join (r13, replacing the r12 merge
    # hint): BOTH sides are the corpus-sized prefix index, but its
    # window-only lineage gives Catalyst a Generate-blind size estimate
    # small enough to broadcast statically (driver kill at scale). The
    # barrier keeps the static plan SMJ — fixed-width (tok, ids) rows
    # sort and spill gracefully, the classic ppjoin physical shape —
    # while AQE's runtime conversion (decided from measured shuffle
    # sizes) may broadcast exactly when the prefix index really fits.
    pfx = stats_barrier(pfx)
    a, b = pfx.alias("a"), pfx.alias("b")
    an, bn = F.col("a.n"), F.col("b.n")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(an, bn) * 2 >= F.greatest(an, bn))
            & (
                (F.least(an - F.col("a.rn"), bn - F.col("b.rn")) + 1) * 3
                >= an + bn
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    fa = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    fb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    # Verification joins carry the CORPUS-sized feature arrays on the
    # fa/fb side — statically the planner broadcast them (the same
    # Generate-blind estimate as the df join above; at ×100 the fa
    # broadcast alone is ~0.5 GB of arrays). These STAY merge-pinned
    # in r13 while the prefix self-join above moved to the stats
    # barrier: the 4-variant interleaved A/B (pin/barrier × self/
    # verify, 3 cold-cache reps each) measured the verify joins'
    # runtime BHJ conversion a ~1.9× REGRESSION here (6.0 s vs 3.2 s
    # min) — broadcasting this query's larger candidate×array working
    # set loses to SMJ even at sf0.1, unlike dedup_minhash_lsh's
    # smaller banded candidate set where the same barrier wins 1.25×
    # (OPTIMIZATION_r13.md). SMJ also keeps the ×100 memory argument:
    # no hash relation, sorts spill (a shuffle_hash spelling blew
    # per-task memory at ×100 in r12). The hint is consumed per-join,
    # so the intermediate is re-hinted.
    return (
        cand.hint("merge")
        .join(fa, "doc_a")
        .hint("merge")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter_n"),
            union.alias("union_n"),
        )
        .filter(
            F.col("inter_n") * _PF_THETA_DEN >= F.col("union_n") * _PF_THETA_NUM
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter_n").cast("double") / F.col("union_n").cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Range-partition boundary planning (write-layout split points)
# ---------------------------------------------------------------------------

_RANGE_PARTS = 8
_RANGE_FRACS = [i / _RANGE_PARTS for i in range(1, _RANGE_PARTS)]

_RANGE_BOUNDS_ORACLE = f"""
WITH ordered AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
fr AS (SELECT unnest([{", ".join(repr(q) for q in _RANGE_FRACS)}]) AS q),
bnd AS (
  SELECT q, MIN(v) AS bv
  FROM ordered, fr
  WHERE rn = CAST(CEIL(q * n) AS BIGINT)
  GROUP BY q
),
assigned AS (
  SELECT v, len(list_filter(b.bounds, x -> v > x)) AS p
  FROM (SELECT o_totalprice AS v FROM orders), (SELECT LIST(bv ORDER BY q) AS bounds FROM bnd) b
)
SELECT CAST(p AS INTEGER) AS partition_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(v) AS price_lo, MAX(v) AS price_hi
FROM assigned GROUP BY p
"""


@register(
    "range_partition_boundaries",
    oracle=_RANGE_BOUNDS_ORACLE,
    tags=("layout", "scale"),
)
def range_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioning planner: compute the {P}-way split points of
    the sort key (discrete ⅛-quantiles — actual data values, the same
    statistic Spark's RangePartitioner samples for) and prove the
    layout balanced by assigning every row to its partition and
    reporting per-partition counts and key ranges — the planning pass
    behind a sorted 100 TB table write (global sort, Z-less case).

    Cross-engine exactness: boundaries are ORDER STATISTICS (chosen
    values, never interpolated) spelled identically in both engines as
    the value at rank ⌈q·n⌉ — Spark's percentile_disc definition —
    with q ∈ {{i/8}} all exactly representable doubles. Assignment is
    a broadcast of 7 boundary values folded per row; counts are
    integers.

    Scale: one pass to rank (sample-based in production — the exact
    rank here doubles as the oracle), one broadcast-fold pass to
    assign; no shuffle larger than the final 8-group agg.
    """
    o = read_table(spark, sf_dir, "orders")
    # r13 (guide §5): seven scalar percentile_disc aggregates would hold
    # EVERY o_totalprice value in one task each; distributed selection
    # at percentile_disc's own rank gives bit-identical boundaries.
    fr = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in _RANGE_FRACS])).alias("q")
    )
    bnd = bucketed_rank_select(
        o.select(F.col("o_totalprice").alias("bv")),
        "bv",
        fr,
        percentile_disc_rank("q"),
    )
    # bounds array ordered by q (7 rows → one struct-sorted array)
    bounds_row = bnd.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("q", "bv"))),
            lambda s: s["bv"],
        ).alias("bounds")
    )
    assigned = (
        o.select(F.col("o_totalprice").alias("v"))
        .crossJoin(F.broadcast(bounds_row))
        .select(
            "v",
            F.aggregate(
                "bounds",
                F.lit(0),
                lambda acc, x: acc + F.when(F.col("v") > x, 1).otherwise(0),
            ).alias("p"),
        )
    )
    return assigned.groupBy(F.col("p").cast("int").alias("partition_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("v").alias("price_lo"),
        F.max("v").alias("price_hi"),
    )
