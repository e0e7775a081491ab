"""Round-8 batch 24: corpus-structure depth —

- ``textrank_keywords``: TextRank (Mihalcea–Tarau) keyword extraction
  — PageRank over the word co-occurrence graph (adjacent-token
  window, symmetric edges weighted by co-occurrence count), four
  unrolled damped supersteps, top-20 tokens by rank. The
  graph-centrality alternative to frequency-based keywording
  (``rake_keywords`` scores by degree/frequency; TextRank by global
  recursive importance — a rare word bridging frequent clusters
  outranks its count).
- ``hurst_rs_exponent``: rescaled-range (R/S) analysis of daily
  revenue — mean-adjusted cumulative range over population std per
  block, averaged over dyadic block sizes {8,16,32,64}, and the
  Hurst exponent as the log-log OLS slope. H ≈ 0.5 is a random walk;
  H > 0.5 long-range persistence (trends feed trends); H < 0.5
  mean-reversion. The long-memory diagnostic that decides whether
  ``autocorr_daily_revenue``'s lag-1 read tells the whole story.
- ``heaps_law_exponent``: Heaps/Herdan law V(T) ≈ K·T^β over 3-gram
  SHINGLE types (the near-dup feature space — token vocab saturates
  at this fixture's 31 words, shingle types keep growing): cumulative
  distinct types vs cumulative instances at 10 doc-order checkpoints,
  β and K from log-log OLS. β is the corpus-level companion of
  ``ngram_novelty_rate`` (per-doc novelty): it predicts how fast the
  dedup index grows as the corpus scales — the capacity-planning
  number for every shingle table in this engine.

Registry conventions (plans/registry.py): round-12-decimal sums per
superstep (the pagerank pattern); first-occurrence grain for
cumulative-distinct (the cumulative_distinct_users machinery);
VARCHAR round-trip for wide-decimal casts (extras52 trap); ROUND 6
outputs; total-order tie-breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import text as TX
from ucl_data_pipeline_spark.plans.registry import bucketed_row_number, register
from ucl_data_pipeline_spark.sources.io import read_table, stats_barrier

# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over word co-occurrence)
# ---------------------------------------------------------------------------

_TR_DAMP = 0.85
_TR_ITER = 4
_TR_TOPN = 20

_TR_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


def _tr_iter(prev: str, cur: str) -> str:
    """One damped PageRank superstep over the co-occurrence graph
    (single reference to ``prev`` — the CTE-inlining discipline from
    extras53's HITS oracle)."""
    return f"""{cur} AS (
  SELECT n.tok,
    ROUND((1 - {_TR_DAMP}) / (SELECT COUNT(*) FROM nodes)
          + {_TR_DAMP} * COALESCE(c.contrib, 0.0), 12) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS tok,
      CAST(SUM(CAST(ROUND(r.rank * e.w / o.ow, 12) AS DECIMAL(38,12)))
           AS DOUBLE) AS contrib
    FROM {prev} r
    JOIN edges e ON e.src = r.tok
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.tok = n.tok
)"""


_TEXTRANK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_TR_TOKS} AS toks FROM documents
),
big AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tok, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(SUM(c) AS DOUBLE) AS w FROM (
    SELECT w1 AS src, w2 AS dst, COUNT(*) AS c FROM big GROUP BY 1, 2
    UNION ALL
    SELECT w2 AS src, w1 AS dst, COUNT(*) AS c FROM big GROUP BY 1, 2
  ) GROUP BY src, dst
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS tok FROM edges),
outw AS MATERIALIZED (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
),
r0 AS (
  SELECT tok, CAST(1.0 / (SELECT COUNT(*) FROM nodes) AS DOUBLE) AS rank
  FROM nodes
),
{",".join(_tr_iter(f"r{i}", f"r{i + 1}") for i in range(_TR_ITER))}
SELECT tok AS token, ROUND(rank, 6) AS textrank
FROM r{_TR_ITER}
ORDER BY rank DESC, tok
LIMIT {_TR_TOPN}
"""


@register(
    "textrank_keywords",
    oracle=_TEXTRANK_ORACLE,
    tags=("text", "llm", "graph", "iterative"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: damped PageRank ({k} unrolled supersteps,
    d = {d}) over the corpus word co-occurrence graph — adjacent
    tokens co-occur, edges are symmetric and weighted by count — and
    the top-{n} tokens by converged rank. Degree-one-but-well-
    connected words outrank raw frequency; this is the standard
    unsupervised keyword extractor (Mihalcea & Tarau 2004), and the
    engine's third fixed-iteration graph witness after
    ``pagerank_trade_network`` (25-node dimension graph) and
    ``hits_hub_authority`` (two-vector recursion) — here the node set
    is DATA-derived (the vocabulary), so rank frames are vocab-sized.

    Determinism: bigram/edge weights are exact counts; per-superstep
    contributions are ROUND-12 then DECIMAL(38,12)-summed keyed by
    destination token (order-free); the symmetric graph has no
    dangling nodes (every node has out-edges by construction);
    top-{n} uses the (rank DESC, token) total order, ROUND 6 output.

    Scale: the bigram pass is the posexplode+lead codegen pattern
    (llm_ops._doc_feats — no higher-order-lambda re-evaluation);
    edges/out-weights build once (persisted); each superstep is one
    rank⋈edges join + dst-keyed hash-agg. Rank frames are VOCAB-sized
    — joined, not broadcast (a real corpus vocabulary outgrows the
    driver; AQE may still choose broadcast when it fits, as at this
    fixture's 31 types).
    """
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w_doc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    edges = (
        big.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionAll(
            big.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c")
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("double").alias("w"))
        .persist()
    )
    nodes = edges.select(F.col("src").alias("tok")).distinct().persist()
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = edges.join(outw, "src").select("src", "dst", "w", "ow").persist()
    ncnt = nodes.agg(F.count("*").cast("long").alias("nn"))

    ranks = nodes.crossJoin(F.broadcast(ncnt)).select(
        "tok", (F.lit(1.0) / F.col("nn")).alias("rank")
    )
    for _ in range(_TR_ITER):
        contrib = (
            ew.join(ranks, ranks["tok"] == ew["src"])
            .select(
                F.col("dst").alias("ctok"),
                F.round(
                    F.col("rank") * F.col("w") / F.col("ow"), 12
                ).alias("term"),
            )
            .groupBy("ctok")
            .agg(
                F.sum(F.col("term").cast("decimal(38,12)"))
                .cast("double")
                .alias("contrib")
            )
        )
        ranks = (
            nodes.join(contrib, nodes["tok"] == contrib["ctok"], "left")
            .crossJoin(F.broadcast(ncnt))
            .select(
                "tok",
                F.round(
                    F.lit(1 - _TR_DAMP) / F.col("nn")
                    + F.lit(_TR_DAMP) * F.coalesce("contrib", F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
    return (
        ranks.orderBy(F.desc("rank"), "tok")
        .limit(_TR_TOPN)
        .select(F.col("tok").alias("token"), F.round("rank", 6).alias("textrank"))
    )


textrank_keywords.__doc__ = textrank_keywords.__doc__.format(
    k=_TR_ITER, d=_TR_DAMP, n=_TR_TOPN
)


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range analysis of daily revenue
# ---------------------------------------------------------------------------

_HURST_SIZES = (8, 16, 32, 64)
_HURST_SIZES_SQL = ", ".join(str(m) for m in _HURST_SIZES)

_HURST_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
seq AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM daily
),
blocked AS (
  SELECT m.m, s.t // m.m AS blk, s.rev,
         ROW_NUMBER() OVER (PARTITION BY m.m, s.t // m.m
                            ORDER BY s.t) AS j,
         SUM(s.rev) OVER (PARTITION BY m.m, s.t // m.m
                          ORDER BY s.t ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(s.rev) OVER (PARTITION BY m.m, s.t // m.m) AS btot,
         COUNT(*) OVER (PARTITION BY m.m, s.t // m.m) AS bn
  FROM seq s CROSS JOIN (SELECT UNNEST([{_HURST_SIZES_SQL}]) AS m) m
),
dev AS (
  SELECT m, blk, bn, rev,
         CAST(cum AS DOUBLE) - j * (CAST(btot AS DOUBLE) / m) AS z
  FROM blocked
),
per_block AS (
  SELECT m, blk,
         MAX(z) - MIN(z) AS r,
         SQRT((CAST(CAST(SUM(CAST(rev AS DECIMAL(19,2))
                              * CAST(rev AS DECIMAL(19,2))) AS VARCHAR)
                    AS DOUBLE)
               - CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE)
                 * CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / m)
              / m) AS s
  FROM dev
  WHERE bn = m
  GROUP BY m, blk
),
per_m AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(ROUND(r / NULLIF(s, 0), 6) AS DECIMAL(28,6)))
              AS DOUBLE) / COUNT(*) AS avg_rs
  FROM per_block
  WHERE r / NULLIF(s, 0) IS NOT NULL
  GROUP BY m
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(LN(m), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(LN(avg_rs), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(LN(m) * LN(avg_rs), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(LN(m) * LN(m), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx
  FROM per_m
)
SELECT k AS n_block_sizes,
       (SELECT CAST(SUM(n_blocks) AS BIGINT) FROM per_m) AS n_blocks_total,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
         AS hurst_exponent,
       ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
         AS log_c_intercept
FROM fit
"""


@register("hurst_rs_exponent", oracle=_HURST_ORACLE, tags=("temporal", "stats"))
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by classical rescaled-range
    analysis: for block sizes m ∈ {sizes}, split the day-indexed
    series into complete blocks, compute each block's range of
    mean-adjusted cumulative deviations R and population std S, and
    fit ln(avg R/S) = ln c + H·ln m by OLS. H ≈ 0.5 ⇒ random walk /
    short memory; H > 0.5 ⇒ long-range persistence; H < 0.5 ⇒
    mean-reversion — the long-memory read that lag-1 autocorrelation
    cannot see.

    Determinism: per-block running sums stay exact DECIMAL (Z = exact
    cum − j·mean is identical IEEE); Σx² per block exceeds 2^53
    unscaled units → the oracle VARCHAR-round-trips the cast
    (extras52 trap); each block's R/S is ROUND-6 then decimal-summed
    into the per-m average; the 4-point OLS moments are ROUND-6
    decimal sums; H is one pinned expression ROUND 6. Degenerate
    zero-variance blocks are NULLIF-dropped on both sides.

    Scale: the fact-sized stage is the daily rollup; the day series
    replicates ×|sizes| (bounded calendar grain), block windows are
    ≤64-row partitions, and everything after runs on blocks → 4 rows.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    seq = daily.select(
        "rev", (F.row_number().over(Window.orderBy("day")) - 1).alias("t")
    )
    sizes = spark.createDataFrame([(m,) for m in _HURST_SIZES], "m int")
    blk = (F.col("t") / F.col("m")).cast("int")
    w_blk = Window.partitionBy("m", "blk").orderBy("t")
    w_all = Window.partitionBy("m", "blk")
    blocked = (
        seq.crossJoin(F.broadcast(sizes))
        .select("m", "t", "rev", blk.alias("blk"))
        .select(
            "m",
            "blk",
            "rev",
            F.row_number().over(w_blk).alias("j"),
            F.sum("rev").over(
                w_blk.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
            F.sum("rev").over(w_all).alias("btot"),
            F.count("*").over(w_all).alias("bn"),
        )
    )
    z = F.col("cum").cast("double") - F.col("j") * (
        F.col("btot").cast("double") / F.col("m")
    )
    xd = F.col("rev").cast("decimal(18,2)")
    per_block = (
        blocked.filter(F.col("bn") == F.col("m"))
        .select("m", "blk", "rev", z.alias("z"))
        .groupBy("m", "blk")
        .agg(
            (F.max("z") - F.min("z")).alias("r"),
            F.sqrt(
                (
                    F.sum(xd * xd).cast("double")
                    - F.sum(xd).cast("double")
                    * F.sum(xd).cast("double")
                    / F.col("m")
                )
                / F.col("m")
            ).alias("s"),
        )
    )
    rs = F.col("r") / F.nullif(F.col("s"), F.lit(0.0))
    per_m = (
        per_block.filter(rs.isNotNull())
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            (
                F.sum(F.round(rs, 6).cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("avg_rs"),
        )
    )

    def _dsum(term: Column) -> Column:
        return F.sum(F.round(term, 6).cast("decimal(28,6)")).cast("double")

    lx, ly = F.log(F.col("m")), F.log(F.col("avg_rs"))
    fit = per_m.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_blocks").cast("long").alias("nb"),
        _dsum(lx).alias("sx"),
        _dsum(ly).alias("sy"),
        _dsum(lx * ly).alias("sxy"),
        _dsum(lx * lx).alias("sxx"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        k.alias("n_block_sizes"),
        F.col("nb").alias("n_blocks_total"),
        F.round(slope, 6).alias("hurst_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / k, 6).alias(
            "log_c_intercept"
        ),
    )


hurst_rs_exponent.__doc__ = hurst_rs_exponent.__doc__.format(
    sizes=_HURST_SIZES
)


# ---------------------------------------------------------------------------
# Heaps' law exponent over 3-gram shingle types
# ---------------------------------------------------------------------------

_HEAPS_STEP = 50  # checkpoint every 50 docs (10 checkpoints at 500 docs)

_HEAPS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_TR_TOKS} AS toks FROM documents
),
ranked AS (
  SELECT doc_id, toks,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
         GREATEST(len(toks) - 2, 0) AS n_inst
  FROM tok
),
grams AS (
  SELECT r.rk, g.s
  FROM ranked r,
       UNNEST(CASE WHEN len(r.toks) >= 3 THEN list_distinct(list_transform(
         generate_series(0, len(r.toks)-3),
         i -> r.toks[i+1] || ' ' || r.toks[i+2] || ' ' || r.toks[i+3]))
         ELSE [] END) AS g(s)
),
first_seen AS (
  SELECT s, MIN(rk) AS first_rk FROM grams GROUP BY s
),
cks AS (
  SELECT UNNEST(generate_series({_HEAPS_STEP},
           (SELECT MAX(rk) FROM ranked), {_HEAPS_STEP})) AS c
),
pts AS (
  SELECT c.c,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen f
          WHERE f.first_rk <= c.c) AS v,
         (SELECT CAST(SUM(n_inst) AS BIGINT) FROM ranked r
          WHERE r.rk <= c.c) AS t
  FROM cks c
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(LN(t), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(LN(v), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(LN(t) * LN(v), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(LN(t) * LN(t), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx,
         MAX(v) AS v_final, MAX(t) AS t_final
  FROM pts
)
SELECT k AS n_checkpoints,
       v_final AS total_types,
       t_final AS total_instances,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS heaps_beta,
       ROUND(EXP((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k),
             6) AS heaps_k
FROM fit
"""


@register("heaps_law_exponent", oracle=_HEAPS_ORACLE, tags=("text", "llm", "stats"))
def heaps_law_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps/Herdan law fit V(T) ≈ K·T^β over 3-gram shingle TYPES:
    cumulative distinct types V vs cumulative shingle instances T at
    doc-order checkpoints (every {step} docs), β and K by log-log
    OLS. β predicts how the near-dup feature space grows with the
    corpus — the capacity plan for every shingle/minhash table in
    this engine (token vocabulary saturates at this fixture's 31
    words; the shingle space keeps growing, which is exactly why
    shingles are the dedup feature). Companion reads:
    ``zipf_vocab_slope`` (frequency decay), ``chao1_vocab_estimate``
    (asymptotic richness), ``ngram_novelty_rate`` (per-doc novelty).

    Determinism: the checkpoint curve needs only each type's FIRST
    occurrence rank (a type-grain MIN — the cumulative_distinct_users
    machinery) and per-doc instance counts (size arithmetic, no
    explosion); both are exact integers, so V/T are exact BIGINTs;
    the ≤10 OLS moment terms are ROUND-6 then decimal-summed; β/K are
    pinned expressions ROUND 6.

    Scale: one shingling pass (posexplode+lead codegen shape) to the
    type-grain MIN agg — the same shuffle every dedup query pays (at
    100 TB the type key is the xxhash64 digest, llm_ops.py:252). The
    ingestion rank is the range-bucketed exact row_number
    (registry.bucketed_row_number — per-bucket sorts + bounded
    offsets, no single-partition window), and the saturation curve is
    checkpoint-grain accumulation (each type/doc feeds its OWN
    ⌈rk/step⌉ bucket once; cumulative sums run on the bounded
    checkpoint spine) — O(types + docs + checkpoints) total, no
    types×checkpoints fan-out, no window at gram or doc grain.
    """
    d = read_table(spark, sf_dir, "documents")
    ranked = bucketed_row_number(
        d.select(
            "doc_id",
            F.greatest(F.size(TX.tokens("text")) - 2, F.lit(0)).alias(
                "n_inst"
            ),
        ),
        "doc_id",
    )
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    lead2 = F.lead("tok", 2).over(w_doc)
    # stats-barriered (r13, replacing the r12 merge hint): BOTH sides
    # are corpus-growing with Generate/Window-blind static estimates —
    # ranked is doc-grain behind a window lineage (its broadcast blew
    # the driver in the ×100 perturbed smoke, SCALE_NOTES r12) and the
    # distinct gram table is token-grain behind the posexplode. The
    # barrier keeps the static plan SMJ (the shuffle is on doc_id,
    # which the distinct already partitioned one side for) while AQE's
    # size-measured runtime BHJ conversion stays free.
    grams = stats_barrier(
        toks.select(
            "doc_id",
            F.concat_ws(
                " ", "tok", F.lead("tok", 1).over(w_doc), lead2
            ).alias("s"),
            lead2.isNotNull().alias("full"),
        )
        .filter(F.col("full"))
        .select("doc_id", "s")
        .distinct()
    ).join(stats_barrier(ranked.select("doc_id", "rk")), "doc_id")
    first_seen = grams.groupBy("s").agg(F.min("rk").alias("first_rk"))
    # Checkpoint-grain accumulation, NOT a (types × checkpoints)
    # crossJoin fan-out: every type/doc contributes ONE row to its
    # owning checkpoint bucket j = ⌈rk/step⌉ (pure integer DIV — no
    # float rounding), and the ≤ c predicates become cumulative sums
    # over the bounded checkpoint spine. Work is O(types + docs +
    # checkpoints), flat in the checkpoint count instead of linear.
    ck_of = f"CAST((first_rk + {_HEAPS_STEP - 1}) DIV {_HEAPS_STEP} AS BIGINT)"
    v_inc = first_seen.groupBy(F.expr(ck_of).alias("j")).agg(
        F.count("*").cast("long").alias("dv")
    )
    t_inc = ranked.groupBy(
        F.expr(
            f"CAST((rk + {_HEAPS_STEP - 1}) DIV {_HEAPS_STEP} AS BIGINT)"
        ).alias("j")
    ).agg(F.sum("n_inst").cast("long").alias("dt"))
    n_docs_row = ranked.agg(F.max("rk").alias("max_rk"))
    # The sequence end is clamped to >=1 and the spine re-filtered to
    # j*step <= max_rk: two-arg sequence(1, 0) would default to step
    # -1 and yield [1, 0] (phantom checkpoints with ln(0) terms) when
    # the corpus holds fewer docs than one step, while the oracle's
    # generate_series(step, max_rk, step) is empty — the documented
    # sequence-start>stop trap. The filter keeps both engines at zero
    # checkpoints on an undersized corpus (and drops nothing when
    # max_rk >= step: j <= max_rk DIV step == j*step <= max_rk).
    spine = (
        n_docs_row.select(
            "max_rk",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.greatest(
                        F.expr(
                            f"CAST(max_rk DIV {_HEAPS_STEP} AS BIGINT)"
                        ),
                        F.lit(1).cast("long"),
                    ),
                )
            ).alias("j"),
        )
        .filter(F.col("j") * _HEAPS_STEP <= F.col("max_rk"))
        .select("j")
    )
    w_ck = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        spine.join(v_inc, "j", "left")
        .join(t_inc, "j", "left")
        .select(
            "j",
            F.sum(F.coalesce("dv", F.lit(0))).over(w_ck).alias("v"),
            F.sum(F.coalesce("dt", F.lit(0))).over(w_ck).alias("t"),
        )
    )

    def _dsum(term: Column) -> Column:
        return F.sum(F.round(term, 6).cast("decimal(28,6)")).cast("double")

    lx, ly = F.log(F.col("t")), F.log(F.col("v"))
    fit = pts.agg(
        F.count("*").cast("long").alias("k"),
        _dsum(lx).alias("sx"),
        _dsum(ly).alias("sy"),
        _dsum(lx * ly).alias("sxy"),
        _dsum(lx * lx).alias("sxx"),
        F.max("v").alias("v_final"),
        F.max("t").alias("t_final"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        k.alias("n_checkpoints"),
        F.col("v_final").alias("total_types"),
        F.col("t_final").alias("total_instances"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / k), 6
        ).alias("heaps_k"),
    )


heaps_law_exponent.__doc__ = heaps_law_exponent.__doc__.format(
    step=_HEAPS_STEP
)
