"""Query registry: name → (Spark callable, DuckDB oracle SQL).

Every operator the engine claims (SURVEY.md §2 inventory + the
training-data operators) registers here; the driver harness compares
each Spark result against its oracle SQL on the same parquet tables
(row count + schema + order-insensitive value hash).

Cross-engine float determinism convention (critical for value-hash
equality — Spark and DuckDB sum doubles in different orders):

- Aggregates over money/ratio doubles are computed EXACTLY by casting
  inputs to DECIMAL before SUM and casting the final result to DOUBLE.
  Decimal addition is exact, so both engines produce bit-identical
  doubles regardless of partitioning. Helper: ``dsum``/``davg`` below,
  mirrored in oracle SQL as
  ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)``.
- Per-row transcendental math (haversine, cosine) differs in the last
  ulp between libm and the JVM; such outputs are wrapped in
  ``ROUND(x, 6)`` on both sides.
- **Atomic output columns only**: a registered query's result schema
  must contain no ArrayType / MapType / StructType column. The driver
  canonicalizes results with pandas ``sort_values``/``factorize``,
  which cannot hash list cells (``TypeError: unhashable type``), so an
  array column makes the hard correctness signal blind even when the
  values match. Serialize collections deterministically instead:
  ``concat_ws``/``to_json`` after ``array_sort`` on the Spark side,
  ``array_to_string(list_sort(...))``/``to_json`` in the oracle.
  Enforced by tests/test_plans.py::test_registered_outputs_atomic.
- **Oracle aggregate outputs must be CAST to BIGINT/DOUBLE/VARCHAR —
  never HUGEINT or wide DECIMAL.** DuckDB types a bare ``SUM(BIGINT)``
  as HUGEINT, which pandas converts to float64, while Spark returns
  int64; the driver's dtype-sensitive canonicalizer then hashes
  ``60000 != 60000.0`` even though every value matches. Write
  ``CAST(SUM(x) AS BIGINT)``. Values wider than 15-16 significant
  digits (e.g. a DECIMAL(38,0) checksum) must be emitted as strings on
  BOTH sides — float64 transport silently truncates them. Enforced by
  tests/test_queries_oracle.py::test_query_matches_oracle's dtype
  check (compares ``duckdb .df()`` vs ``toPandas()`` dtypes — the
  driver's view).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query and its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, fn, oracle, fn.__doc__ or "", tuple(tags))
        return fn

    return deco


# ---------------------------------------------------------------------------
# Export ordering
# ---------------------------------------------------------------------------
# The verification driver checks a bounded prefix (first 50) of the
# exported query dict each round, so export order is rotated per round
# to maximize cumulative driver-verified coverage: queries that have
# never been driver-checked come first; queries with a green
# CORRECTNESS row from a prior round come last (they stay registered
# and locally verified -- tools/verify_local.py covers the full
# inventory).
#
# Round-13 rotation (optimization round 2). After r12 the
# never-witnessed count is 0 and the oldest vintage is r4 with 21 rows
# left (computed from CORRECTNESS_r01-r12). The 50-slot prefix:
#   (1) the 21 REWITNESS_CHANGED rows below -- every query whose plan
#       changed with this round's optimizations: the similarity family
#       un-pinned from merge hints onto the stats barrier
#       (sources/io.stats_barrier; dedup_minhash_lsh and
#       lsh_candidate_pairs feed dedup_minhash_pr too), the
#       connected-components family's right-sized edge-set partitions
#       + shared exact-dup collapse (llm_ops._rep_frames, also
#       split_leakage_audit), and the bucketed_rank_select extraction
#       (quantile_sample_error's distributed exact side,
#       theil_sen_slope_daily and range_partition_boundaries
#       refactored onto the same helper);
#   (2) the 21 remaining r4-vintage rows (multimodal_frame_sample ..
#       view_click_interval_join);
#   (3) the 8 alphabetically-first r5-vintage rows (ann_ndcg_at_10 ..
#       calendar_dim_coverage), leaving the r5+ tail for round 14.
# Everything later in the dict has a green row from rounds 4-12 and
# stays locally verified by tools/verify_local.py / the parametrized
# pytest oracle suite over the FULL registry.
# Queries whose plans were changed/rewritten THIS round and are
# re-witnessed while changed even though they have a recent green row.
# tests/test_registry_rotation.py uses this to verify that every other
# prefix slot goes to the witnessing backlog (never-witnessed or
# oldest-vintage rows) -- the rotation can no longer silently drift
# from its comment (the round-8 failure mode, fixed manually in r9,
# now gated).
REWITNESS_CHANGED: tuple[str, ...] = (
    "bag_jaccard_pairs",
    "cc_canonical_selection",
    "cc_superstep_convergence",
    "component_split_assign",
    "dedup_connected_components",
    "dedup_minhash_lsh",
    "dedup_minhash_pr",
    "fellegi_sunter_patterns",
    "heaps_law_exponent",
    "jaccard_prefix_filter_pairs",
    "jaccard_shingle_pairs",
    "minhash_jaccard_error",
    "minhash_size_frontier",
    "quantile_sample_error",
    "range_partition_boundaries",
    "reciprocal_best_match",
    "shingle_containment_pairs",
    "source_minhash_overlap",
    "split_leakage_audit",
    "texttiling_boundaries",
    "theil_sen_slope_daily",
)

EXPORT_FIRST: tuple[str, ...] = (
    # (1) the 21 changed-plan rows, re-witnessed while changed
    "bag_jaccard_pairs",
    "cc_canonical_selection",
    "cc_superstep_convergence",
    "component_split_assign",
    "dedup_connected_components",
    "dedup_minhash_lsh",
    "dedup_minhash_pr",
    "fellegi_sunter_patterns",
    "heaps_law_exponent",
    "jaccard_prefix_filter_pairs",
    "jaccard_shingle_pairs",
    "minhash_jaccard_error",
    "minhash_size_frontier",
    "quantile_sample_error",
    "range_partition_boundaries",
    "reciprocal_best_match",
    "shingle_containment_pairs",
    "source_minhash_overlap",
    "split_leakage_audit",
    "texttiling_boundaries",
    "theil_sen_slope_daily",
    # (2) the 21 remaining r4-vintage rows
    "multimodal_frame_sample",
    "outer_join_hybrid",
    "pareto_frontier_parts",
    "percentile_cont_surface",
    "percentile_disc_surface",
    "pricing_summary",
    "regr_ols_surface",
    "robust_zscore_outliers",
    "semi_join_big_spenders",
    "session_window_agg",
    "sessionize_gaps_islands",
    "shard_assignment_rendezvous",
    "sliding_window_agg",
    "time_weighted_avg",
    "token_pmi_pairs",
    "train_val_test_split",
    "triangle_count_trade",
    "tumbling_window_agg",
    "unigram_entropy",
    "user_event_sequences",
    "view_click_interval_join",
    # (3) the 8 alphabetically-first r5-vintage rows
    "ann_ndcg_at_10",
    "ann_recall_ivf_at_3",
    "ann_recall_pq_at_3",
    "ann_recall_sq8_at_3",
    "assoc_rules_lift",
    "bag_set_ops_surface",
    "bitmap_distinct_counts",
    "calendar_dim_coverage",
)


def _export_order() -> list[str]:
    first = [n for n in EXPORT_FIRST if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in EXPORT_FIRST]
    return first + rest


def all_queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _export_order()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _export_order()
        if REGISTRY[name].oracle is not None
    }


# ---------------------------------------------------------------------------
# Cross-engine deterministic aggregate helpers (see module docstring)
# ---------------------------------------------------------------------------

DEC = "decimal(18,6)"


def dsum(c: Column | str) -> Column:
    """Order-independent exact sum of a (≤6-decimal) double column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(DEC)).cast("double")


def davg(c: Column | str) -> Column:
    """Order-independent mean: exact decimal sum ÷ count, in double."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def r6(c: Column) -> Column:
    """Round transcendental-math output to 6 dp (cross-libm safety)."""
    return F.round(c, 6)


# Oracle-SQL spellings of the same helpers
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr})"


def sql_percentile_disc(q: str, expr: str) -> str:
    """``percentile_disc(q) WITHIN GROUP (ORDER BY expr)`` — the one
    spelling both engines parse (q may be an array literal in Spark)."""
    return f"percentile_disc({q}) WITHIN GROUP (ORDER BY {expr})"


def sql_knuth_bucket(expr: str, m: int) -> str:
    """DuckDB spelling of functions.scalar.knuth_bucket (width-safe
    Knuth multiplicative hash bucket — see its docstring).

    The first modulo is pmod-wrapped: DuckDB ``%`` keeps the dividend's
    sign while Spark ``pmod`` is always non-negative, so a bare ``%``
    diverges for negative keys (key -7: DuckDB -3 vs Spark 13 at m=20).
    After the wrap every intermediate is non-negative, so the remaining
    plain ``%`` are identical on both engines over the full 64-bit
    signed domain.
    """
    k = f"((({expr}) % 4294967296 + 4294967296) % 4294967296)"
    return (
        f"((((({k} // 65536) * 2654435761) % 4294967296) * 65536"
        f" + ({k} % 65536) * 2654435761) % 4294967296) % {m}"
    )


# ---------------------------------------------------------------------------
# Exact global ranks, prefix sums and order statistics WITHOUT a
# single-partition sort
# ---------------------------------------------------------------------------
# Split the key domain into buckets whose id is a monotone pure-column
# function of the key (equal keys share a bucket), rank/accumulate
# WITHIN each bucket (a Window partitioned by bucket — every task sorts
# only its bucket), and add each bucket's exclusive prefix total
# computed on the BOUNDED bucket grain (bucket_offsets). The result is
# bit-identical to the global window wherever the split points land, so
# lazy re-computation across plan branches is safe (unlike
# spark_partition_id() tricks). range_bucket (equi-depth:
# approx_percentile split points, the statistic the sampling
# RangePartitioner estimates) serves the running sums and row numbers;
# bucketed_rank_select (equi-width) serves order statistics.


# range_bucket sizing: one bucket's rows are sorted by ONE task, so the
# target is a comfortable single-task sort (~quarter-million rows ≈
# tens of MB); the floor keeps small inputs at 16 buckets, and the cap
# bounds the collected split-point literals and the per-row assignment
# fold. Beyond the cap (~268M rows at the default target)
# _range_bucket_shuffled takes over (gated bit-identical by
# tests/test_round11.py).
_BUCKET_TARGET_ROWS = 250_000
_BUCKET_MIN = 16
_BUCKET_MAX = 1024
# Equi-width bucket count of bucketed_rank_select (its docstring says
# why that kernel keeps its own bucketing).
_RANK_SELECT_BUCKETS = 4096


def _range_bucket_shuffled(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Beyond-cap ``__bkt`` assignment: ``repartitionByRange(n, key)``
    + ``spark_partition_id()`` instead of collected split-point
    literals.

    Same bit-identical-results argument as the literal fold: the
    RangePartitioner's boundaries are ascending and assignment is a
    deterministic binary search on ``key`` alone, so ``__bkt`` is
    monotone non-decreasing in ``key`` and equal keys always share a
    bucket — ranks/offsets downstream are computed from actual bucket
    CONTENTS, so boundary placement (and therefore bucket count)
    affects balance only, never results. No collected literals: the
    driver never sees the boundaries, so the ≤1024-literal cap no
    longer binds.

    The one hazard the literal path doesn't have: RangePartitioning
    SAMPLES its input, and a lazily-recomputed exchange in a second
    plan branch could sample differently, splitting equal keys across
    branch-inconsistent buckets (the spark_partition_id() trick the
    module comment warns about). The eager ``localCheckpoint()`` pins
    the assignment: every consumer reads the SAME materialized
    bucketing. At beyond-cap scale the checkpoint is one
    memory-and-disk materialization of a frame that the bucketed walk
    reads at least twice (local window + subtotal agg) — the same
    spine discipline heaps_law_exponent / dedup_saturation_curve use.
    """
    return (
        df.repartitionByRange(n_buckets, F.col(key))
        .withColumn("__bkt", F.spark_partition_id())
        .localCheckpoint()
    )


def range_bucket(df: DataFrame, key: str) -> DataFrame:
    """Attach ``__bkt`` (0..n_buckets-1, monotone non-decreasing in
    ``key``) from approx_percentile split points of ``key``.

    ``key`` must be an ascending-sortable atomic column. For a DESC
    order, pass a negated copy of the column. NULL keys land in bucket
    0 (the NULLS FIRST end of an ascending order).

    n_buckets = max(_BUCKET_MIN, ceil(rows / _BUCKET_TARGET_ROWS)), so
    per-bucket sort work stays flat as data grows (a fixed 16 made a
    ×100 scale-up a 1M-row single-task sort per bucket: ratio 9.04 on
    monetary_unit_sample); past _BUCKET_MAX buckets it hands off to
    ``_range_bucket_shuffled``. One pass sizes and sketches: the
    sketch is taken at _BUCKET_MAX resolution with count(*) in the
    same agg, and every (j·_BUCKET_MAX/n)-th split point is kept.
    Split-point placement — and so the bucket count — affects balance
    only, never results (ranks/offsets come from actual bucket
    contents).

    The split points come from ONE approx_percentile sketch (never N
    scalar percentile_disc aggs — each of those buffers the full
    column, the engine's documented percentile-buffer trap) and are
    COLLECTED to literals: a bounded ≤n_buckets-value driver fetch
    (the PQ-codebook-to-literal precedent, llm_ops4.py) that makes
    bucket assignment a pure literal fold — whole-stage-codegen row
    math, zero joins, and trivially consistent when the bucketed
    frame is lazily recomputed across plan branches.
    """
    # Sketch accuracy 1000 (was 10000): placement error per split is
    # ~0.1% of rank — pure balance noise against 250k-row buckets —
    # and the sketch pass is 2.5-5x cheaper (measured 2.3-5.1s -> 0.9s
    # on a 15M-row column). Placement never affects results.
    fracs = [i / _BUCKET_MAX for i in range(1, _BUCKET_MAX)]
    row = df.agg(
        F.expr(
            f"approx_percentile({key},"
            f" array({', '.join(map(repr, fracs))}), 1000)"
        ).alias("__bounds"),
        F.count(F.lit(1)).alias("__n"),
    ).collect()[0]
    all_bounds = row["__bounds"] or []
    need = -(-(row["__n"]) // _BUCKET_TARGET_ROWS)
    if need > _BUCKET_MAX:
        # Beyond the literal cap: hand off to the shuffled assignment
        # (no collected literals, same results — see
        # _range_bucket_shuffled). The sketch that rode this scan is
        # discarded here — an accepted trade-off (round-11 advisor
        # note): splitting count(*) into its own pass would charge
        # EVERY under-cap caller (the overwhelmingly common case) a
        # second scan to save beyond-cap callers one sketch buffer
        # that is already amortized into the same single pass as the
        # count. The discarded work is one ~8KB-per-partition quantile
        # sketch, not a second scan.
        return _range_bucket_shuffled(df, key, need)
    n_buckets = max(_BUCKET_MIN, min(_BUCKET_MAX, need))
    bounds = [
        all_bounds[round(j * _BUCKET_MAX / n_buckets) - 1]
        for j in range(1, n_buckets)
        if all_bounds
    ]
    return df.withColumn("__bkt", _bucket_search(key, bounds))


def _bucket_search(key: str, bounds: list) -> Column:
    """Bucket id = |{i : key > bounds[i]}| over SORTED bounds, as a
    balanced when()-tree — a compiled binary search, log2(n)
    comparisons per row. The linear when-chain fold this replaces was
    O(n_buckets) PER ROW, which turned the auto-size's own remedy
    into the bottleneck (measured on a 15M-row walk: 19s at 128
    bounds, 31s at 256 vs ~4-6s with the tree). Equal adjacent bounds
    (duplicate split points from a heavily tied key) binary-search
    identically to the linear count — same monotone assignment, equal
    keys always share a bucket."""

    def rec(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            F.col(key) > F.lit(bounds[mid]), rec(mid + 1, hi)
        ).otherwise(rec(lo, mid))

    return rec(0, len(bounds))


def bucket_offsets(
    bucketed: DataFrame, total: Column, out: str = "__off"
) -> DataFrame:
    """Per-bucket totals and their exclusive prefix: (__bkt, __sub,
    out) with __sub = the aggregate ``total`` (``F.sum(val)``,
    ``F.count("*")``) over the bucket's rows and out = Σ __sub over all
    LOWER buckets — the one spelling of the prefix window. The
    cumulative window runs on the bucket grain (n_buckets rows) —
    broadcast the result back.
    """
    subs = bucketed.groupBy("__bkt").agg(total.alias("__sub"))
    w_off = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    return subs.select(
        "__bkt",
        "__sub",
        F.coalesce(F.sum("__sub").over(w_off), F.lit(0)).alias(out),
    )


def bucketed_running_sum(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    val: Column,
    out: str = "cum",
) -> tuple[DataFrame, DataFrame]:
    """Exact global ``SUM(val) OVER (ORDER BY order_cols ROWS BETWEEN
    UNBOUNDED PRECEDING AND CURRENT ROW)`` without a single-partition
    sort — the shared spelling of the range-bucketed cumulative walk.

    ``order_cols[0]`` must be ``key`` (the range-bucket key), so the
    bucket id is monotone in the global order; later order_cols are
    tie-breaks WITHIN a bucket (equal keys always share a bucket —
    _bucket_search's strict-``>`` rule — so tie-breaks never cross
    bucket boundaries). When ``val`` is additive-exact (DECIMAL sums,
    integer counts) the walk is bit-identical to the global window.
    A running COUNT (``val=F.lit(1)``) is a global row_number over
    the same total order.

    Returns ``(frame, subtotals)``: ``frame`` is df's columns plus
    ``out``; ``subtotals`` is the per-bucket ``(__bkt, __sub)`` frame
    the offsets were derived from, so callers needing the grand total
    can aggregate it (exact addition ≡ a direct SUM over df) without
    a second full scan — the monetary_unit_sample convention.
    """
    bucketed = range_bucket(df, key)
    w_loc = (
        Window.partitionBy("__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offs = bucket_offsets(bucketed, F.sum(val))
    frame = (
        bucketed.withColumn("__lcum", F.sum(val).over(w_loc))
        .join(F.broadcast(offs.drop("__sub")), "__bkt")
        .withColumn(out, F.col("__lcum") + F.col("__off"))
        .drop("__bkt", "__lcum", "__off")
    )
    return frame, offs.select("__bkt", "__sub")


def bucketed_row_number(df: DataFrame, key: str, out: str = "rk") -> DataFrame:
    """Exact global ROW_NUMBER() OVER (ORDER BY key) — ``key`` must be
    UNIQUE (no tie-break column) — as bucket-local row_numbers plus
    bucket row-count offsets. Returns df's columns + ``out`` (long).
    """
    bucketed = range_bucket(df, key)
    w_loc = Window.partitionBy("__bkt").orderBy(key)
    offs = bucket_offsets(bucketed, F.sum(F.lit(1))).drop("__sub")
    return (
        bucketed.withColumn("__lrk", F.row_number().over(w_loc))
        .join(F.broadcast(offs), "__bkt")
        .withColumn(out, (F.col("__lrk") + F.col("__off")).cast("long"))
        .drop("__bkt", "__lrk", "__off")
    )


def percentile_disc_rank(q: str) -> Column:
    """percentile_disc's 1-based rank for fraction column ``q`` over a
    ``__n``-value column (bucketed_rank_select's ``kk``): the smallest
    k with k/n ≥ q, its cume_dist definition, evaluated in the same
    IEEE double comparisons both engines use — so the selected value
    is bit-identical to a ``percentile_disc`` aggregate."""
    k0 = F.floor(F.col(q) * F.col("__n")).cast("long")
    return F.when(
        (k0 >= 1)
        & ((k0.cast("double") / F.col("__n").cast("double")) >= F.col(q)),
        k0,
    ).otherwise(k0 + 1)


def bucketed_rank_select(
    vals: DataFrame, col: str, ranks: DataFrame, kk: Column
) -> DataFrame:
    """Distributed multi-rank selection (guide §5: bound per-task
    memory): the kk-th smallest value of ``col`` for every row of the
    small ``ranks`` frame, WITHOUT a global sort and WITHOUT a
    single-task full-value buffer (the ObjectHashAggregate shape a
    scalar ``percentile_disc`` pays).

    One count/min/max pass sizes the problem; values histogram into
    ``_RANK_SELECT_BUCKETS`` equi-width buckets (bucketing uses a
    DOUBLE cast — monotone, so it never reorders values, at worst
    merges neighbors into one bucket); ``bucket_offsets`` over the
    bucket-grain count frame locates each rank's target bucket by
    prefix count; ONLY target buckets' rows are then ranked
    (row_number ordered by the original column, so ties and decimal
    precision follow the input type) and the global rank is (rows
    below the bucket) + (rank within it). Three passes over ``vals``
    total — the caller persists ``vals`` when its lineage is
    expensive.

    Why equi-width here when ``range_bucket`` is equi-depth: this
    kernel rebuilt on range_bucket's approx_percentile split points
    was slower on the benchmarked consumer. Same-JVM A/B, 4 vCPU, 12
    alternating reps after warm-up, build+exec median of
    ``quantile_sample_error``: 0.744 → 0.810 s at sf0.01 and 1.035 →
    1.569 s at sf0.1, from the eager sketch job plus 16-bucket
    targets (min/max here ride the lazy count pass; no job fires at
    build). The same rebuild took ``theil_sen_slope_daily`` from 4.61
    to 3.88 s at sf0.01 and left ``range_partition_boundaries`` at
    0.85 s. The price of equi-width is a heavy tail: one outlier
    stretches [lo, hi] and piles the other values into bucket 0 —
    still exact (tests/test_rank_select.py), but ranked by one task.

    NULLs in ``col`` are dropped before the count and the bucketing, as
    ``percentile_disc`` ignores them: ``__n`` counts non-NULL values
    and ranks run over those alone. With no non-NULL value (all-NULL or
    empty ``vals``) there is no kk-th value and the result has no rows.

    vals:  frame holding numeric column ``col``.
    ranks: SMALL frame (broadcast everywhere), one row per wanted rank;
           its column names must not collide with ``col`` or ``__*``.
    kk:    Column over ranks' columns plus ``__n`` (non-NULL value
           count), evaluating to the 1-based target rank
           (``percentile_disc_rank`` for a fraction column).
    Returns one row per ranks row whose rank lies in 1..``__n``:
    ranks' columns + ``__n`` + ``col``.
    """
    n_buckets = _RANK_SELECT_BUCKETS
    vals = vals.filter(F.col(col).isNotNull())
    v = F.col(col).cast("double")
    stats = vals.agg(
        F.count(col).cast("long").alias("__n"),
        F.min(v).alias("__lo"),
        F.max(v).alias("__hi"),
    )
    targets = stats.crossJoin(F.broadcast(ranks)).withColumn(
        "__kk", kk.cast("long")
    )
    width = (F.col("__hi") - F.col("__lo")) / float(n_buckets)
    bkt = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(F.floor((v - F.col("__lo")) / width), F.lit(n_buckets - 1)),
    ).otherwise(F.lit(0))
    bucketed = vals.crossJoin(F.broadcast(stats)).select(
        F.col(col), bkt.alias("__bkt")
    )
    # (__bkt, __sub = rows in the bucket, __below = rows under it)
    counts = bucket_offsets(bucketed, F.count("*"), "__below")
    hit = counts.join(
        F.broadcast(targets),
        (F.col("__below") < F.col("__kk"))
        & (F.col("__below") + F.col("__sub") >= F.col("__kk")),
    )
    # rank rows once per target bucket, THEN attach the (possibly
    # several) ranks that land in it — joining before row_number would
    # duplicate rows and corrupt the in-bucket ranking.
    in_bucket = bucketed.join(
        F.broadcast(hit.select("__bkt").distinct()), "__bkt"
    )
    ranked = in_bucket.withColumn(
        "__rn", F.row_number().over(Window.partitionBy("__bkt").orderBy(col))
    )
    return (
        ranked.join(
            F.broadcast(
                hit.select("__bkt", "__kk", "__below", "__n", *ranks.columns)
            ),
            "__bkt",
        )
        .filter(F.col("__rn") == F.col("__kk") - F.col("__below"))
        .select(*ranks.columns, "__n", col)
    )
