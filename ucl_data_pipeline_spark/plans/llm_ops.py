"""Training-data pipeline operators over ``documents``/``embeddings``:
exact & near dedup (fingerprint, MinHash-LSH, shingle-Jaccard, SimHash),
similarity search (brute-force + LSH-bucketed ANN), and text analysis
(token stats, quality scoring, language-ID, fingerprints).

These are first-class engine capabilities beyond the reference's
surface (BASELINE.json north star). Everything is oracle-checked
exactly except the engine-native simhash_signatures fast path (its
md5-sourced twin dedup_simhash IS oracle-checked); hashes use md5 so
DuckDB mirrors Spark bit-for-bit (see functions.text docstring).

Scale design (100 TB):
- dedup/similarity never do O(n²) work: candidates come from equi-joins
  on LSH band keys or shared shingles (shuffle on the feature key),
  verified only within buckets.
- all text features are higher-order array expressions — codegen'd,
  zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import text as TX
from ucl_data_pipeline_spark.functions import vector as VX
from ucl_data_pipeline_spark.plans.registry import register
from ucl_data_pipeline_spark.sources.io import Observed, read_table, stats_barrier

# Shared SQL fragments (duplicated verbatim into each oracle so every
# oracle stays a self-contained statement).
_SQL_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"
_SQL_SHINGLES = (
    r"CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform("
    r"generate_series(0, len({t})-3), i -> {t}[i+1] || ' ' || {t}[i+2] || ' ' || {t}[i+3]))"
    r" ELSE [] END"
)


def _sql_minhash(seed: int, feats: str = "feats") -> str:
    return f"list_min(list_transform({feats}, t -> md5('{seed}:' || t)))"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT
  md5(text) AS text_hash,
  MIN(doc_id) AS keeper_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact", oracle=_DEDUP_EXACT_ORACLE, tags=("dedup", "llm"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text, keeper =
    lowest doc_id. Hash-groupBy — a single shuffle keyed on the digest,
    the canonical 100 TB exact-dedup plan (hash first so the shuffle
    key is 32 bytes, not the document).
    """
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


_DEDUP_NORM_ORACLE = r"""
SELECT
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash,
  MIN(doc_id) AS keeper_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact_normalized", oracle=_DEDUP_NORM_ORACLE, tags=("dedup", "llm"))
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (lower/trim/collapse-ws) —
    catches whitespace-variant copies a raw hash misses.
    """
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(TX.normalized_text("text")).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


_FINGERPRINT_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
)
SELECT
  doc_id,
  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens
FROM tok
"""


@register("doc_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("dedup", "text", "llm"))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (md5 of the sorted
    distinct-token set) — catches shuffled/reordered near-copies; the
    corpus contains token-set-identical pairs that raw hashing misses.
    """
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint("text").alias("fingerprint"),
        F.size(TX.distinct_tokens("text")).alias("n_uniq_tokens"),
    )


# ---------------------------------------------------------------------------
# Near dedup: MinHash signatures + banded LSH
# ---------------------------------------------------------------------------

_MINHASH_SIG_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
)
SELECT
  doc_id,
  {_sql_minhash(0)} AS mh_0,
  {_sql_minhash(1)} AS mh_1,
  {_sql_minhash(2)} AS mh_2,
  {_sql_minhash(3)} AS mh_3,
  {_sql_minhash(4)} AS mh_4,
  {_sql_minhash(5)} AS mh_5
FROM feat
"""


def _gram_features(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, feats: distinct 3-gram shingles).

    Built with posexplode + window-lead + collect_set instead of the
    obvious ``array_distinct(TX.shingles(TX.tokens(text)))`` one-liner,
    for a measured ~9× on the feats/explode path: higher-order lambdas
    (transform) run INTERPRETED (outside whole-stage codegen) and do
    not CSE across the lambda boundary, so the inlined tokenize
    expression was re-evaluated per gram element — the full
    ``split(lower(trim(text)))`` ran hundreds of times per document.
    Here every step (posexplode, two leads over one per-doc window,
    concat_ws, hash-agg collect_set) is codegen-able and each token is
    materialized exactly once. collect_set's arbitrary array order is
    fine: every consumer (min-over-md5 minhash, explode, intersection
    counts) is order-insensitive.

    Docs with <3 tokens keep an empty feats array WITHOUT a join back
    to the doc list (r12): the old left-join's build side was this
    very doc-keyed feature aggregate — corpus-sized arrays whose
    static size estimate Catalyst derives through a Generate it cannot
    see through, so the planner broadcast it (fine at bench SFs, a
    guaranteed driver kill at corpus scale — the ×100 smoke hit
    exactly this on the sibling df join, SCALE_NOTES r12). Instead,
    posexplode_outer keeps every doc in the exploded frame (NULL
    token row for empty/NULL text), partial grams enter collect_set
    as NULLs (ignored), and a doc whose grams are all NULL aggregates
    to the empty set — same contract, one hash-agg, zero joins for
    the planner to misplan at any scale.
    """
    toks = d.select(
        "doc_id", F.posexplode_outer(TX.tokens("text")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead2 = F.lead("tok", 2).over(w)
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), lead2).alias("gram"),
            lead2.isNotNull().alias("full_gram"),
        )
        .groupBy("doc_id")
        .agg(
            F.collect_set(
                F.when(F.col("full_gram"), F.col("gram"))
            ).alias("feats")
        )
    )


def _doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct 3-gram shingle set (the near-dup feature).

    fan_out: shingling + md5 minhashing is the CPU-bound stage of every
    near-dup operator — spread it across all cores before computing
    (the testdata parquet is a single row group → single input split).
    """
    from ucl_data_pipeline_spark.sources.io import fan_out

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return _gram_features(d)


def _rep_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like _doc_features but exact-duplicate-collapsed: one
    representative (lowest doc_id) per distinct text. Near-dup stages
    run on representatives — byte-identical copies are the exact-dedup
    stage's job, and they are what makes LSH band buckets quadratic
    (the 10x scale smoke measured 6-39x runtime growth without the
    collapse; with it, near-dup cost tracks DISTINCT content volume,
    not corpus volume).
    """
    from ucl_data_pipeline_spark.sources.io import fan_out

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    rep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return _gram_features(rep)


@register("minhash_signatures", oracle=_MINHASH_SIG_ORACLE, tags=("dedup", "llm"))
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (6 hashes over 3-gram shingles) per document.
    md5-based so every engine agrees; empty-shingle docs yield NULLs.
    """
    feats = _doc_features(spark, sf_dir)
    return feats.select(
        "doc_id", *[TX.minhash(F.col("feats"), s) for s in range(6)]
    ).toDF("doc_id", *[f"mh_{s}" for s in range(6)])


def lsh_candidate_pairs(feats: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from the engine's 3-band × 2-row
    MinHash banding over a (doc_id, feats) frame — the ONE place the
    band parameters live engine-side (oracle twin:
    ``_SQL_BAND_CAND_CTES``); ``dedup_minhash_lsh`` generates with it
    and extras19's ``dedup_minhash_pr`` grades exactly the same
    generator because both call this.

    One pass over sig → (doc_id, band_idx, band_key): posexplode
    instead of a 3-way union (a union would recompute the whole
    minhash lineage once per band); candidates come from the
    (band_idx, band_key) equi-join — never O(n²). The join shuffles
    the 8-byte xxhash64 of the 32-char md5 band hex (band keys are
    pure equality keys that never reach the output — 4× fewer shuffle
    bytes per band row; the md5-keyed oracle is the collision check).
    """
    mh = [TX.minhash(F.col("feats"), s) for s in range(6)]
    sig = feats.select(
        "doc_id",
        F.md5(F.concat(mh[0], mh[1])).alias("band_0"),
        F.md5(F.concat(mh[2], mh[3])).alias("band_1"),
        F.md5(F.concat(mh[4], mh[5])).alias("band_2"),
    )
    bucket = (
        sig.select(
            "doc_id",
            F.posexplode(F.array("band_0", "band_1", "band_2")).alias(
                "band_idx", "band_key"
            ),
        )
        .filter(F.col("band_key").isNotNull())
        .select("doc_id", "band_idx", F.xxhash64("band_key").alias("band_key"))
    )
    # stats-barriered (r13, replacing the r12 merge hint): BOTH sides
    # of the band-bucket self-join are the corpus-sized (doc_id,
    # band_idx, band_key) frame whose static size estimate rides
    # through the banding lineage's Generate — the static planner
    # would broadcast it (the ×100-smoke class, SCALE_NOTES r12). The
    # barrier makes the static estimate conservatively unknown, so the
    # static plan is SMJ (spills gracefully, AQE still splits skewed
    # buckets) while AQE's runtime SMJ→BHJ conversion — decided from
    # MEASURED shuffle sizes — stays free, which the r12 hint blocked.
    bucket = stats_barrier(bucket)
    a = bucket.alias("a")
    b = bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


# Shared 3-band × 2-row MinHash banding: `sig` + `bucket` + `cand`
# CTEs over a prior CTE named `feat` (doc_id, feats). Interpolated
# VERBATIM by every oracle that bands (dedup_minhash_lsh,
# dedup_connected_components, and the dedup_minhash_pr quality gate in
# extras19), so the band parameters can never drift between the
# candidate generator and the gate that grades it.
_SQL_BAND_CAND_CTES = f"""sig AS (
  SELECT doc_id, feats,
    md5({_sql_minhash(0)} || {_sql_minhash(1)}) AS band_0,
    md5({_sql_minhash(2)} || {_sql_minhash(3)}) AS band_1,
    md5({_sql_minhash(4)} || {_sql_minhash(5)}) AS band_2
  FROM feat
), bucket AS (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM sig WHERE band_0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, band_1 FROM sig WHERE band_1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, band_2 FROM sig WHERE band_2 IS NOT NULL
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bucket a
  JOIN bucket b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)"""

_MINHASH_LSH_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, verified AS (
  SELECT
    c.doc_a, c.doc_b,
    CAST(len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      / CAST(len(fa.feats) + len(fb.feats)
             - len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      AS jaccard
  FROM cand c
  JOIN feat fa ON c.doc_a = fa.doc_id
  JOIN feat fb ON c.doc_b = fb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


def _rep_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(rep, feats, exact) off ONE documents scan + ONE text-grain
    groupBy (r13, verdict task 3): ``rep`` is the exact-dup collapse
    (lowest doc_id per distinct text, PERSISTED — the caller owns the
    unpersist), ``feats`` the rep shingle sets (_gram_features over the
    cached rep), and ``exact`` the (representative, copy) pair mapping.
    Before this, cc_edge_set and split_leakage_audit re-derived rep
    with a second scan + groupBy to build the exact pairs that
    _rep_features had already computed and discarded — one duplicated
    scan+aggregate subtree per consumer (bench top-3 cost in
    split_leakage_audit). The rep cache keeps both lineages (gram
    features AND the copy join) on one materialization.
    """
    from ucl_data_pipeline_spark.sources.io import fan_out

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # fan_out feeds ONLY the collapse/gram path (the CPU-bound stage,
    # _doc_features rationale); the exact-pair join reads the plain
    # scan — routing it through the round-robin exchange (plus its
    # sort-before-repartition safety sort over full text) measured a
    # ~1.5 s regression at sf0.1.
    rep = (
        fan_out(docs)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .persist()
    )
    feats = _gram_features(rep)
    exact = (
        docs.join(
            rep.select(F.col("doc_id").alias("rep_id"), "text"), "text"
        )
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return rep, feats, exact


@register("dedup_minhash_lsh", oracle=_MINHASH_LSH_ORACLE, tags=("dedup", "llm"))
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH (3 bands × 2 rows) over
    exact-duplicate-collapsed representatives (see _rep_features), then
    exact shingle-Jaccard verification ≥ 0.5 within candidate buckets.

    ``feats`` lets a composing query (cc_edge_set, split_leakage_audit)
    pass an already-built (doc_id, feats) representative frame so the
    exact-dup collapse underneath runs once (r13, _rep_frames);
    ownership follows the argument — a caller-provided frame must be
    persisted by the caller and is not unpersisted here.

    Scale shape: shuffle on (band_idx, band_key) — never O(n²). The
    verify join re-fetches only candidate docs' features. (For very
    skewed buckets, AQE skew-join splits the hot keys.)
    """
    if feats is None:
        feats = _rep_features(spark, sf_dir).persist()
    cand = lsh_candidate_pairs(feats)
    # stats-barriered verification joins (r13, replacing the r12 merge
    # hints): fa/fb carry CORPUS-sized feature arrays whose static
    # size estimate rides through a Generate Catalyst cannot see into
    # — unbarriered, the static planner broadcast them and the ×100
    # perturbed smoke blew the driver on exactly this site
    # (SCALE_NOTES r12). The barrier keeps the static plan SMJ (no
    # hash relation, spills gracefully) while AQE converts to
    # broadcast at runtime from measured sizes — the conversion the
    # hint blocked. cand needs no barrier: it joins two barriered
    # sides, so its own static estimate is already conservative.
    fsrc = stats_barrier(feats)
    fa = fsrc.select(F.col("doc_id").alias("doc_a"), F.col("feats").alias("fa"))
    fb = fsrc.select(F.col("doc_id").alias("doc_b"), F.col("feats").alias("fb"))
    # hash-based O(n+m) intersection — a filter/array_contains lambda
    # is O(n·m) interpreted per candidate pair
    inter = F.size(F.array_intersect("fa", "fb"))
    union = F.size("fa") + F.size("fb") - inter
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Shingle document-frequency cap for the inverted-index self-join: a
# single boilerplate trigram shared by 1M docs would otherwise generate
# ~5·10^11 candidate pairs. Shingles this common carry no near-dup
# signal (classic stop-shingle removal); Jaccard is computed over the
# informative (df ≤ cap) shingle sets on both engines. At sf0.01 the
# corpus max df is 7, so the cap is inert locally — it exists for the
# 100 TB shape.
_JACCARD_MAX_DF = 50

_JACCARD_PAIRS_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), ex AS (
  SELECT doc_id, unnest(feats) AS f FROM feat
), ex_inf AS (
  SELECT doc_id, f FROM ex
  QUALIFY COUNT(*) OVER (PARTITION BY f) <= {_JACCARD_MAX_DF}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex_inf GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex_inf a JOIN ex_inf b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  s.doc_a, s.doc_b,
  CAST(s.n_shared AS DOUBLE)
    / CAST(sa.n + sb.n - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE s.n_shared >= 5
"""


@register("jaccard_shingle_pairs", oracle=_JACCARD_PAIRS_ORACLE, tags=("dedup", "llm"))
def jaccard_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive n-gram-Jaccard similar-pair mining via inverted
    index over exact-duplicate-collapsed representatives: explode
    shingles, drop stop-shingles (document frequency > cap — the
    all-pairs blowup guard), equi-self-join on the shingle, count
    shared per pair (one shuffle keyed by shingle — candidate
    generation is proportional to real overlap, not n²), then exact
    Jaccard over the informative shingle sets. Ground truth for LSH
    recall.
    """
    feats = _rep_features(spark, sf_dir)
    # Every downstream stage (df cap, inverted-index self-join, pair
    # counting) uses the shingle only as an EQUALITY key — it never
    # reaches the output — so shuffle the 8-byte xxhash64 digest
    # instead of the raw ~20-30-byte 3-gram string (results differ
    # only on a 64-bit collision; the DuckDB oracle keeps raw strings
    # on the bounded fixture, which is exactly the collision check).
    ex = (
        feats.select("doc_id", F.explode("feats").alias("f"))
        .select("doc_id", F.xxhash64("f").alias("f"))
        .persist()
    )
    # df-cap and doc sizes as WINDOWS, not groupBy+join (r12): the old
    # spelling had THREE joins whose build sides grow with the corpus
    # (the vocab-sized `informative` list and two doc-sized size
    # tables) — all three rode Generate-blind static size estimates
    # into BroadcastHashJoin (the ×100-smoke class, SCALE_NOTES r12).
    # The df window pays the same f-shuffle the cap join did; the
    # post-cap doc size rides a doc_id window; na/nb then travel
    # through the self-join sides and become group keys (determined by
    # doc_a/doc_b, so they add no group cardinality). One join left —
    # the inverted-index self-join — stats-barriered for the same
    # reason (r13: the barrier replaces the r12 merge hint; static
    # plan stays SMJ, AQE's runtime size-measured BHJ conversion is
    # free again — see sources/io.stats_barrier).
    w_f = Window.partitionBy("f")
    w_doc = Window.partitionBy("doc_id")
    ex_inf = stats_barrier(
        ex.withColumn("df", F.count("*").over(w_f))
        .filter(F.col("df") <= _JACCARD_MAX_DF)
        .withColumn("n", F.count("*").over(w_doc))
        .select("doc_id", "f", "n")
        .persist()
    )
    a = ex_inf.alias("a")
    b = ex_inf.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    return shared.select(
        "doc_a",
        "doc_b",
        (
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double")
        ).alias("jaccard"),
    )


# simhash_signatures is registered further down, next to dedup_simhash:
# both share the md5-nibble bit source (oracle-expressible) and its
# packed-vote aggregation helper.


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TOKEN_STATS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
)
SELECT
  doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
    / CAST(len(toks) AS DOUBLE) AS avg_token_len,
  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
    AS type_token_ratio
FROM tok
"""


@register("text_token_stats", oracle=_TOKEN_STATS_ORACLE, tags=("text", "llm"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting & lexical-diversity stats per document — all
    higher-order array expressions, no tokenizer UDF.
    """
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.size(TX.distinct_tokens("text")).alias("n_uniq_tokens"),
        TX.avg_token_len("text").alias("avg_token_len"),
        TX.type_token_ratio("text").alias("type_token_ratio"),
    )


# BPE-ish pre-tokenizer regex (GPT-2-style word/number/punct pieces
# with leading-space absorption), restricted to syntax Java regex and
# DuckDB's RE2 interpret identically.
_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"

_BPE_COUNT_ORACLE = rf"""
SELECT
  doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
  CAST(n_chars AS DOUBLE)
    / CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
    AS chars_per_bpe_token
FROM documents
"""


@register("bpe_token_count", oracle=_BPE_COUNT_ORACLE, tags=("text", "llm"))
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    pre-tokenizer regex (the cheap proxy for real tokenizer counts when
    budgeting LLM training data). chars-per-token is the usual
    compression-ratio quality signal. Pure regexp_extract_all — JVM
    regex, codegen'd, no tokenizer UDF; a real BPE vocab would run as a
    pandas_udf over Arrow batches.
    """
    d = read_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        (F.col("n_chars").cast("double") / F.size(bpe).cast("double")).alias(
            "chars_per_bpe_token"
        ),
    )


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

_QUALITY_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, n_chars, text, {_SQL_TOKS} AS toks FROM documents
), m AS (
  SELECT
    doc_id,
    n_chars,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[^\w\s]')) AS INTEGER) AS n_punct,
    CAST(len(list_filter(toks, t -> list_contains({_SQL_STOPLIST}, t))) AS DOUBLE)
      / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr
  FROM tok
)
SELECT
  doc_id, n_tokens, n_punct, stopword_ratio, ttr,
  0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
    + 0.3 * ttr
    + 0.2 * least(1.0, stopword_ratio * 5.0)
    + 0.1 * (1.0 - least(1.0, CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)))
    AS quality_score
FROM m
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text", "llm"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length, lexical diversity, stopword
    density, punctuation ratio — the standard pre-training filter
    signals, combined into one [0,1] score.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_tokens = F.size(toks)
    n_punct = TX.punct_count("text")
    stop_ratio = TX.stopword_hits(toks, _STOPWORDS).cast("double") / n_tokens.cast(
        "double"
    )
    ttr = TX.type_token_ratio("text")
    quality = (
        0.4 * F.least(F.lit(1.0), n_tokens.cast("double") / 100.0)
        + 0.3 * ttr
        + 0.2 * F.least(F.lit(1.0), stop_ratio * 5.0)
        + 0.1
        * (
            F.lit(1.0)
            - F.least(
                F.lit(1.0), n_punct.cast("double") / F.col("n_chars").cast("double")
            )
        )
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("ttr"),
        quality.alias("quality_score"),
    )


_LANG_SETS = {
    "en": ["the", "a", "and", "of", "is", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def _sql_hits(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in _LANG_SETS[lang]) + "]"
    return f"len(list_filter(toks, t -> list_contains({lst}, t)))"


_LANG_ID_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
), hits AS (
  SELECT doc_id, lang,
    {_sql_hits('en')} AS h_en,
    {_sql_hits('de')} AS h_de,
    {_sql_hits('fr')} AS h_fr,
    {_sql_hits('es')} AS h_es
  FROM tok
)
SELECT
  doc_id,
  lang AS labeled_lang,
  CASE
    WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en > 0 THEN 'en'
    WHEN h_de >= h_fr AND h_de >= h_es AND h_de > 0 THEN 'de'
    WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
    WHEN h_es > 0 THEN 'es'
    ELSE 'und'
  END AS detected_lang
FROM hits
"""


@register("lang_id_heuristic", oracle=_LANG_ID_ORACLE, tags=("text", "llm"))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language ID (argmax over per-language hit counts,
    fixed priority tie-break, 'und' when no list hits). The standard
    cheap LID gate before an expensive model-based one.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    h = {k: TX.stopword_hits(toks, v) for k, v in _LANG_SETS.items()}
    detected = (
        F.when(
            (h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"])
            & (h["en"] > 0),
            F.lit("en"),
        )
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]) & (h["de"] > 0), F.lit("de"))
        .when((h["fr"] >= h["es"]) & (h["fr"] > 0), F.lit("fr"))
        .when(h["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        detected.alias("detected_lang"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_SQL_COS = (
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " / nullif(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),"
    " CAST(q.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),"
    " CAST(c.embedding AS DOUBLE[]))), 0.0)"
)

# Hard structural cap on the brute-force baseline's query side: the
# all-pairs scan is the EXACTNESS BASELINE (ann_recall_* gates measure
# every index against it), never the production path — so it must be
# impossible to invoke unbounded. Cost is O(_TOPK_MAX_QUERIES · n) — a
# bounded number of broadcast rows against one candidate scan — no
# matter how large the corpus grows.
_TOPK_MAX_QUERIES = 64

_TOPK_ORACLE = f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
FROM embeddings q
JOIN embeddings c
  ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _TOPK_MAX_QUERIES}
 AND c.vec_id <> q.vec_id
QUALIFY row_number() OVER (
  PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 5
"""


def brute_force_topk(
    e: DataFrame, queries: DataFrame, k: int, max_queries: int
) -> DataFrame:
    """Exact cosine top-k of ``queries`` (query_id, q_emb) against the
    corpus ``e`` (vec_id, embedding). ``max_queries`` is REQUIRED: the
    query side is truncated to deterministically-lowest ``max_queries``
    ids before the broadcast, so the O(q·n) product is bounded by
    construction — there is no unbounded all-pairs spelling of this
    operator. Candidates stream (broadcast join, no shuffle); per-query
    top-k via a ranking window keyed by query_id.
    """
    from ucl_data_pipeline_spark.sources.io import fan_out

    q = queries.orderBy("query_id").limit(max_queries)
    c = fan_out(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
        )
    )
    sim = VX.cosine("q_emb", "c_emb")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register(
    "embedding_topk_cosine", oracle=_TOPK_ORACLE, tags=("vector", "llm", "baseline")
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=5) for a BOUNDED query sample — the
    exact baseline every ANN variant is measured against (see
    ann_recall_*). The query side is structurally capped at
    ``_TOPK_MAX_QUERIES`` (sampling predicate + id ceiling, mirrored in
    the oracle, plus ``brute_force_topk``'s required ``max_queries``
    truncation), so the plan is O(cap·n) — one candidate scan against a
    fixed-size broadcast — at any corpus size; it cannot be invoked as
    an unbounded all-pairs join. Tagged ``baseline`` so bench surfaces
    it as a baseline-only entry.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.col("vec_id") % 100 == 0)
        & (F.col("vec_id") < 100 * _TOPK_MAX_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return brute_force_topk(e, q, k=5, max_queries=_TOPK_MAX_QUERIES)


_SQL_BUCKET = (
    "CAST(" + " + ".join(
        f"CASE WHEN CAST({{side}}.embedding[{i + 1}] AS DOUBLE) > 0 THEN {2**i} ELSE 0 END"
        for i in range(8)
    ) + " AS INTEGER)"
)

_LSH_TOPK_ORACLE = f"""
SELECT
  q.vec_id AS query_id,
  c.vec_id AS neighbor_id,
  {_SQL_BUCKET.format(side='q')} AS bucket,
  {_SQL_COS} AS cos_sim
FROM embeddings q
JOIN embeddings c
  ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
 AND {_SQL_BUCKET.format(side='q')} = {_SQL_BUCKET.format(side='c')}
QUALIFY row_number() OVER (
  PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 3
"""


@register("embedding_lsh_topk", oracle=_LSH_TOPK_ORACLE, tags=("vector", "llm"))
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-bit LSH bucketing: candidates restricted to
    the query's hyperplane-sign bucket (equi-join on bucket id), exact
    cosine re-rank within the bucket. The scale path: shuffle keys are
    bucket ids; candidate work drops ~2^bits-fold vs brute force.
    """
    e = read_table(spark, sf_dir, "embeddings")
    with_bucket = e.select(
        "vec_id", "embedding", VX.sign_bucket("embedding", 8).alias("bucket")
    )
    q = with_bucket.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("bucket"),
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    sim = VX.cosine("q_emb", "c_emb")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(q),
            (F.col("c_bucket") == F.col("bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", "bucket", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_IVF_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
cent AS (
  SELECT label,
         list(centroid_val ORDER BY pos) AS cvec
  FROM (
    SELECT e.label, i AS pos,
           CAST(SUM(CAST(e.embedding[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid_val
    FROM e, unnest(generate_series(1, len(e.embedding))) AS t(i)
    GROUP BY e.label, i
  )
  GROUP BY label
),
probe AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.label AS probe_label
  FROM e q CROSS JOIN cent c
  WHERE q.vec_id % 100 = 0
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(q.embedding, c.cvec)
               / nullif(sqrt(list_dot_product(q.embedding, q.embedding))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0) DESC,
             c.label
  ) = 1
)
SELECT p.query_id, p.probe_label, c.vec_id AS neighbor_id,
       list_dot_product(p.q_emb, c.embedding)
         / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                  * sqrt(list_dot_product(c.embedding, c.embedding)), 0.0)
         AS cos_sim
FROM probe p
JOIN e c ON c.label = p.probe_label AND c.vec_id <> p.query_id
QUALIFY row_number() OVER (
  PARTITION BY p.query_id
  ORDER BY cos_sim DESC, c.vec_id
) <= 3
"""


@register("embedding_ivf_topk", oracle=_IVF_ORACLE, tags=("vector", "llm"))
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer (per-label centroids — the
    inverted-list structure; a k-means codebook at scale) assigns each
    query to its nearest list (nprobe=1), then exact cosine top-3 runs
    only within that list's vectors.

    Scale shape: centroids are one tiny aggregated table (broadcast);
    the candidate join key is the list id, so per-query work is
    |list| not n — and lists can be PARTITION KEYS of the embedding
    table, making each probe a partition-pruned scan. Exact-decimal
    centroid means keep the quantizer cross-engine deterministic.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VX.as_double("embedding").alias("embedding")
    )
    # Inverted-list codebook: element-wise exact-decimal mean per label.
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("val").cast("decimal(18,9)")).cast("double") / F.count("*"))
            .alias("centroid_val")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        VX.cosine("q_emb", "cvec").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    topk_w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(probe),
            (F.col("c_label") == F.col("probe_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            VX.cosine("q_emb", "c_emb").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(topk_w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_CENTROIDS_ORACLE = """
SELECT
  e.label,
  CAST(i - 1 AS INTEGER) AS pos,
  ROUND(CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
    / COUNT(*), 6) AS centroid_val
FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
GROUP BY e.label, i
"""


@register("label_centroids", oracle=_CENTROIDS_ORACLE, tags=("vector", "llm", "agg"))
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long format (label, pos, centroid_val):
    posexplode + hash-agg on (label, pos) — element-wise vector mean as
    a pure shuffle-once aggregation; exact-decimal sums for
    cross-engine equality.
    """
    e = read_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(VX.as_double("embedding")).alias("pos", "val")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid_val")
        )
    )


_EMB_DEDUP_ORACLE = f"""
WITH universe AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5),
         label
  FROM embeddings WHERE vec_id % 10 = 0
),
nbu AS (
  SELECT {VX.sql_nbits_for_count('COUNT(*)')} AS nbits FROM universe
),
b AS (
  SELECT vec_id, label, embedding,
         {VX.sql_adaptive_sign_bucket('embedding')} AS bucket
  FROM universe, nbu
),
dup AS (
  SELECT DISTINCT c.vec_id
  FROM b q JOIN b c
    ON q.bucket = c.bucket AND q.vec_id < c.vec_id
  WHERE {_SQL_COS} > 0.9
)
SELECT u.vec_id, u.label
FROM universe u ANTI JOIN dup d ON u.vec_id = d.vec_id
"""


@register("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE, tags=("dedup", "vector", "llm"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate removal: candidate pairs from
    the sign-bit LSH bucket equi-join, exact cosine refine (> 0.9),
    keep-lowest-id policy (a row is dropped iff a smaller-id near-dup
    exists — the standard greedy dedup; full connected components
    would need an iterative union-find pass, out of SQL's reach).

    The synthetic corpus has no natural near-dups (max pairwise cosine
    ≈ 0.51), so the universe is seeded with scaled copies of every
    10th vector (scaling preserves cosine ≈ 1.0 and, being a power of
    two, is float-exact in both engines); the operator must drop
    exactly those copies.

    Scale: the self-join key is the bucket id, so candidate volume is
    sum over buckets of |bucket|² rather than n² — the same reason
    MinHash-LSH banding works for text. Anti-join back is a broadcast
    of the (small) duplicate-id set.
    """
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding"), "label"
    )
    copies = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.5).alias("embedding"),
        "label",
    )
    e = base.unionByName(copies)
    # Corpus-sized bucket width (functions/vector.py ladder; resolves
    # to 8 bits at driver-fixture sizes — results unchanged there, and
    # the candidate join no longer saturates at 100× corpus).
    nb = e.agg(VX.nbits_for_count(F.count("*")).alias("nbits"))
    with_bucket = e.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "embedding",
        VX.adaptive_sign_bucket("embedding", F.col("nbits")).alias("bucket"),
    )
    q = with_bucket.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    c = with_bucket.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    dup_ids = (
        q.join(c, (F.col("bucket") == F.col("c_bucket")) & (F.col("q_id") < F.col("c_id")))
        .filter(VX.cosine("q_emb", "c_emb") > 0.9)
        .select(F.col("c_id").alias("vec_id"))
        .distinct()
    )
    return e.join(dup_ids, "vec_id", "left_anti").select("vec_id", "label")


_ARRAY_FN_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT
  doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
  array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
  CAST(list_contains(toks, 'spark') AS INTEGER) AS has_spark,
  CAST(COALESCE(list_position(toks, 'spark'), 0) AS INTEGER) AS spark_pos,
  CAST(len(list_filter(toks, x -> length(x) > 4)) AS INTEGER) AS n_long_tokens,
  array_to_string(list_sort(list_distinct(toks)), '-') AS vocab_key
FROM t
"""


@register("array_functions", oracle=_ARRAY_FN_ORACLE, tags=("array", "text", "llm"))
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-column surface over tokenized text: size / distinct /
    slice / contains / position / lambda filter / sort — all Catalyst
    higher-order functions, zero Python. This is the substrate the
    dedup shingling and token statistics are built from; arrays stay
    columnar (no explode) so there's no row-count blowup at scale.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first3"),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
        F.array_position(toks, "spark").cast("int").alias("spark_pos"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long_tokens"),
        F.concat_ws("-", F.array_sort(F.array_distinct(toks))).alias("vocab_key"),
    )


# ---------------------------------------------------------------------------
# Multimodal columns (binary payloads + typed metadata)
# ---------------------------------------------------------------------------

_MM_META_ORACLE = """
SELECT
  doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio'
       ELSE 'video' END AS media_type,
  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
  md5(text) AS content_hash
FROM documents
"""


@register("multimodal_binary_meta", oracle=_MM_META_ORACLE, tags=("multimodal", "llm"))
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary media columns (byte length,
    content hash, modality tag) — the metadata-predicate layer that
    must be pushed down BEFORE any decode at 100 TB (operators.
    multimodal holds the decode stage).
    """
    from ucl_data_pipeline_spark.operators.multimodal import attach_fake_media

    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
    )


# The stub decoder's byte-level features are themselves deterministic
# functions of the payload, and the fake payload is the utf-8 bytes of
# `text` — so the Python mapInPandas stage CAN be oracle-checked in
# SQL. DuckDB has no blob md5/byte-indexing, so the oracle works on
# characters via ord(); that equals byte semantics only for ASCII
# corpora, which the driver testdata is (verified: 0 non-ascii docs in
# all sf dirs). If non-ascii data ever appears the row goes visibly
# red rather than silently weak — the right failure mode.
_MM_MEDIA_SQL = """
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         text
  FROM documents
"""

_MM_FEAT_ORACLE = f"""
WITH m AS ({_MM_MEDIA_SQL}
), b AS (
  SELECT media_id, ord(substr(text, i, 1)) AS bv
  FROM m, unnest(generate_series(1, length(text))) AS t(i)
), s AS (
  SELECT media_id, SUM(bv) AS sum_b, COUNT(DISTINCT bv) AS n_distinct
  FROM b GROUP BY media_id
)
SELECT m.media_id, m.media_type,
       CAST(length(m.text) AS INTEGER) AS n_bytes,
       CASE WHEN length(m.text) = 0 THEN 0.0
            ELSE CAST(s.sum_b AS DOUBLE) / length(m.text) END AS byte_mean,
       CASE WHEN length(m.text) = 0 THEN 0.0
            ELSE CAST(s.n_distinct AS DOUBLE) / 256.0 END
         AS byte_entropy_proxy,
       md5(substr(m.text, 1, 64)) AS head_hash
FROM m LEFT JOIN s USING (media_id)
"""


@register(
    "multimodal_feature_extract", oracle=_MM_FEAT_ORACLE, tags=("multimodal", "llm")
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/featurize via mapInPandas (stub codec —
    deterministic byte-level features; see operators.multimodal).
    Oracle-checked since round 4: the stub's features (byte mean,
    distinct-byte entropy proxy, head md5) are re-derived in pure SQL
    over the same text-derived payload, so the PYTHON STAGE ITSELF —
    Arrow batching, schema, partitioning and all — is hash-verified
    against DuckDB, not just row-counted.
    """
    from ucl_data_pipeline_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    return extract_features(media, decoder="stub")


_MM_FRAME_ORACLE = f"""
WITH m AS ({_MM_MEDIA_SQL}
)
SELECT media_id,
       CAST(k AS INTEGER) AS frame_idx,
       hex(encode(substr(text, k * 64 + 1, 64))) AS frame_hex
FROM m, unnest(generate_series(0, CAST(floor((length(text) - 1) / 64.0)
                                       AS BIGINT), 2)) AS t(k)
WHERE media_type = 'video' AND length(text) > 0
"""


@register(
    "multimodal_frame_sample", oracle=_MM_FRAME_ORACLE, tags=("multimodal", "llm")
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over "video" payloads: chunk each blob into
    64-byte frames and keep every 2nd one (bounded fan-out explode in
    an Arrow-batched stage; a codec replaces the chunker on a real
    cluster). Driver-visible output serializes each frame as hex —
    raw binary cells are unhashable in a pandas canonicalizer
    (registry atomic-output convention); the operator itself
    (operators.multimodal.sample_frames) still returns real bytes.
    Oracle-checked since round 4 (same ASCII note as
    multimodal_feature_extract).
    """
    from ucl_data_pipeline_spark.operators.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, frame_size=64, stride=2)
    return frames.select(
        "media_id", "frame_idx", F.hex("frame_bytes").alias("frame_hex")
    )


# Shared edge-construction CTE chain (rep → tok → feat → LSH bands →
# verified pairs → exact-dup pairs → symmetric edges) — also consumed
# by extras34's cc_superstep_convergence, which unrolls label
# propagation over the same edge set instead of the recursive closure.
CC_EDGES_SQL_CTES = rf"""rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN feat fa ON c.doc_a = fa.doc_id
  JOIN feat fb ON c.doc_b = fb.doc_id
  WHERE CAST(len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      / CAST(len(fa.feats) + len(fb.feats)
             - len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      >= 0.5
), exact_pairs AS (
  SELECT r.doc_id AS doc_a, d.doc_id AS doc_b
  FROM documents d JOIN rep r ON d.text = r.text
  WHERE d.doc_id <> r.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
  UNION ALL
  SELECT doc_a, doc_b FROM exact_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM exact_pairs
)"""

def cc_edge_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric near-dup edge set: LSH-verified pairs among
    exact-collapsed representatives (dedup_minhash_lsh) PLUS
    (representative, copy) edges for exact duplicates, so
    byte-identical copies land in their representative's component.
    Materialized once (localCheckpoint + persist) — without this the
    union would execute the whole LSH lineage twice, once per
    direction. Shared by ``dedup_connected_components`` and extras34's
    ``cc_superstep_convergence``.

    r13 (guide §2.2, partition right-sizing): the symmetric union is
    coalesced to a ROWS-SIZED partition count before the persist. A
    union's partition count is the SUM of its children's (not a
    shuffle, so AQE coalescing never applies): at sf0.1 the cached
    edge frame carried 66 partitions for 498 rows, and every
    per-superstep broadcast rebuild in the CC loop scanned all 66 as
    separate tasks — pure scheduling overhead, and the cause of the
    r12 scaling block's 8-core-beats-32 inversion on this family. The
    pair count comes from an observation on the checkpoint job itself
    (``sources.io.Observed``), not from a count() job after it; the
    partition target scales with the dup-graph size (~64k pair rows ≈
    1.5 MB per partition), capped at default parallelism, so a
    corpus-scale dup graph keeps full parallelism while a bench-scale
    one collapses to 1.

    r13 (verdict task 3): the near and exact lineages now share ONE
    exact-dup collapse via ``_rep_frames`` — previously the exact
    pairs re-scanned documents and re-ran the text-grain groupBy that
    ``_rep_features`` had already computed for the LSH side. Both
    caches are released as soon as the pair set is checkpointed
    (lineage truncated), so ``cc_edge_set`` leaves no cache entry of
    its own behind beyond the returned edge frame, which its caller
    unpersists. Other ``_rep_frames`` consumers differ:
    ``split_leakage_audit`` returns a lazy frame over its persisted
    ``rep``/``feats`` and so relies on ``spark.catalog.clearCache()``
    (the bench's per-run clear, the test session's teardown) to
    release them."""
    rep, feats, exact = _rep_frames(spark, sf_dir)
    feats = feats.persist()
    near = dedup_minhash_lsh(spark, sf_dir, feats=feats).select(
        "doc_a", "doc_b"
    )
    observed = Observed(near.unionByName(exact), n=F.count(F.lit(1)))
    pairs = observed.df.localCheckpoint()
    feats.unpersist()
    rep.unpersist()
    n_pairs = observed.get(fallback=pairs)["n"]
    n_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            (2 * n_pairs) // 65536 + 1,
        ),
    )
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .coalesce(n_parts)
        .persist()
    )


_CC_ORACLE = rf"""
WITH RECURSIVE {CC_EDGES_SQL_CTES}, reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
)
SELECT doc_id, MIN(r) AS component_id FROM reach GROUP BY doc_id
"""


@register("dedup_connected_components", oracle=_CC_ORACLE, tags=("dedup", "llm", "iterative"))
def dedup_connected_components(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Full duplicate-GROUP resolution: connected components over the
    MinHash-LSH near-dup pair graph (component id = smallest doc_id
    reachable), via iterative min-label propagation to fixpoint — the
    union-find completion that pairwise keep-lowest-id dedup
    approximates. Oracle: the same components from a recursive CTE.

    ``edges`` lets a composing query (extras45's
    ``component_split_assign``) pass an already-built ``cc_edge_set``
    frame so the LSH verify lineage runs once; ownership follows the
    argument — a caller-provided frame is not unpersisted here. The
    frame must be SYMMETRIC (every (src, dst) has its (dst, src)
    mirror, as ``cc_edge_set`` guarantees): labels seed from the
    distinct ``src`` endpoints, so a directed edge set would silently
    drop dst-only nodes into self-components.

    Scale shape: each round is one broadcast join (edges are sparse —
    near-dup graphs are tiny relative to the corpus) + a min-aggregate;
    rounds = component diameter (near-dup clusters are shallow, a
    handful of rounds). localCheckpoint truncates the growing loop
    lineage — the standard Spark iterative-algorithm pattern
    (GraphFrames/GraphX do the same under the hood).

    r12 (optimization round): the propagation runs on the EDGE-NODE
    SUBGRAPH only, not the corpus. A document with no near-dup edge
    can never change label (its component is itself), so iterating
    corpus-sized label frames shuffled corpus bytes every superstep
    for rows that were constant by construction. Labels now start as
    the distinct edge endpoints (the symmetric edge set makes src the
    full endpoint set); isolated docs re-enter once at the END via a
    left join + coalesce(label, doc_id) — per-superstep work is
    dup-graph-sized (477 nodes vs 5,000 docs at sf0.1; the gap WIDENS
    with corpus size, which is the 100 TB argument). The convergence
    check also rides the label aggregate itself (min over the
    own-label-flagged union gives both the new label and the old one),
    so each round is ONE materializing job instead of two — the old
    shape paid a second join+count job per round purely to decide
    termination. The changed-label count is an observation on that
    job (``sources.io.Observed``), not a count() job over the
    checkpoint. Results are bit-identical: same min-label fixpoint,
    same early-exit round (isolated docs never contributed to either).
    """
    owns_edges = edges is None
    if owns_edges:
        edges = cc_edge_set(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(20):  # cap ≫ any real near-dup cluster diameter
        nbr = (
            F.broadcast(edges)
            .join(labels, F.col("dst") == F.col("doc_id"))
            .select(F.col("src").alias("doc_id"), "component_id")
        )
        step = Observed(
            labels.withColumn("__own", F.lit(1))
            .unionByName(nbr.withColumn("__own", F.lit(0)))
            .groupBy("doc_id")
            .agg(
                F.min("component_id").alias("component_id"),
                F.min(
                    F.when(F.col("__own") == 1, F.col("component_id"))
                ).alias("__old"),
            ),
            changed=F.count_if(F.col("component_id") != F.col("__old")),
        )
        merged = step.df.localCheckpoint()
        changed = step.get(fallback=merged)["changed"]
        labels = merged.select("doc_id", "component_id")
        if changed == 0:
            break
    if owns_edges:
        edges.unpersist()
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
    )


# Oracle-checkable SimHash (md5-nibble bit source — the engine-native
# xxhash64 variant above is the production fast path). Both engines
# compute: per-token 32 bits from the first 8 md5 hex nibbles → per-bit
# majority vote → 32-bit signature → four 8-bit bands for LSH →
# hamming-verified pairs.
_HEXES = "0123456789abcdef"


def _sql_simhash_votes() -> str:
    cols = []
    for b in range(32):
        i, k = b // 4 + 1, b % 4
        nib = f"(strpos('{_HEXES}', substr(md5(tok), {i}, 1)) - 1)"
        cols.append(
            f"SUM(CASE WHEN (({nib} >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    return ",\n    ".join(cols)


def _sql_pack(bits: range, var: str = "v") -> str:
    return " + ".join(
        f"(CASE WHEN {var}{b} > 0 THEN {2 ** (b - bits.start)} ELSE 0 END)"
        for b in bits
    )


def _simhash_md5_sig(docs: DataFrame, n_bands: int = 0) -> DataFrame:
    """(doc_id, text) → (doc_id, simhash[, band_0..band_{n_bands-1}]).

    32-bit SimHash from md5-nibble token bits (cross-engine: DuckDB
    computes the identical signature, see _sql_simhash_votes). One
    explode + one hash-agg keyed by doc_id — a single shuffle whose
    state is 11 packed vote sums + a count per group (3 bit-counts per
    64-bit SUM at 21-bit spacing; majority of ±1 votes over n tokens is
    2·ones > n). Safe to 2^21 distinct tokens per doc.
    """
    tok = docs.select("doc_id", F.explode(TX.distinct_tokens("text")).alias("tok"))
    # Materialize the digest nibbles ONCE per token row: aggregate
    # expressions don't share subexpressions, so referencing md5(tok)
    # inside all 32 votes would hash every token 32 times (measured
    # ~7x slower).
    hexes = F.lit(_HEXES)
    md5c = F.md5("tok")
    nibbled = tok.select(
        "doc_id",
        *[
            (F.instr(hexes, F.substring(md5c, i + 1, 1)) - 1).alias(f"nib{i}")
            for i in range(8)
        ],
    )

    def bit(b: int) -> F.Column:
        i, k = b // 4, b % 4
        return F.shiftright(F.col(f"nib{i}"), k).bitwiseAND(F.lit(1)).cast("long")

    sums = []
    for j in range(11):
        packed = None
        for p, b in enumerate(range(3 * j, min(3 * j + 3, 32))):
            piece = F.shiftleft(bit(b), 21 * p)
            packed = piece if packed is None else packed + piece
        sums.append(F.sum(packed).alias(f"s{j}"))
    agg = nibbled.groupBy("doc_id").agg(F.count("*").alias("n"), *sums)

    def vote(b: int) -> F.Column:
        j, p = b // 3, b % 3
        ones = F.shiftright(F.col(f"s{j}"), 21 * p).bitwiseAND(F.lit((1 << 21) - 1))
        return (ones * 2) > F.col("n")

    def pack(bits: range, offset: int) -> F.Column:
        total = None
        for b in bits:
            piece = F.when(vote(b), F.lit(2 ** (b - offset))).otherwise(F.lit(0))
            total = piece if total is None else total + piece
        return total

    band_width = 32 // n_bands if n_bands else 0
    return agg.select(
        "doc_id",
        pack(range(32), 0).cast("long").alias("simhash"),
        *[
            pack(range(band_width * k, band_width * (k + 1)), band_width * k)
            .cast("int")
            .alias(f"band_{k}")
            for k in range(n_bands)
        ],
    )


_SIMHASH_SIG_ORACLE = rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM documents
), votes AS (
  SELECT doc_id,
    {_sql_simhash_votes()}
  FROM tok GROUP BY doc_id
)
SELECT doc_id,
  CAST({" + ".join(f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(32))} AS BIGINT) AS simhash
FROM votes
"""


@register("simhash_signatures", oracle=_SIMHASH_SIG_ORACLE, tags=("dedup", "llm"))
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5-nibble token bits —
    cross-engine deterministic, so fully oracle-checked (round 1 ran
    this with engine-native xxhash64 and only got a rows-only check;
    the md5 bit source its twin dedup_simhash proved oracle-expressible
    now anchors the values too). One explode + one packed-vote hash-agg
    keyed by doc_id.
    """
    from ucl_data_pipeline_spark.sources.io import fan_out

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return _simhash_md5_sig(d, n_bands=0)


_SIMHASH_DEDUP_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT DISTINCT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM rep
), votes AS (
  SELECT doc_id,
    {_sql_simhash_votes()}
  FROM tok GROUP BY doc_id
), sig AS (
  SELECT doc_id,
    CAST({" + ".join(f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(32))} AS BIGINT) AS simhash,
    {", ".join(f"CAST({_sql_pack(range(16 * k, 16 * k + 16))} AS INTEGER) AS band_{k}" for k in range(2))}
  FROM votes
), bucket AS (
  {" UNION ALL ".join(f"SELECT doc_id, simhash, {k} AS band_idx, band_{k} AS band_val FROM sig" for k in range(2))}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bucket a
  JOIN bucket b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 1
"""


@register("dedup_simhash", oracle=_SIMHASH_DEDUP_ORACLE, tags=("dedup", "llm"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully oracle-checked: exact-duplicate
    collapse to per-text representatives (the standard exact→near
    dedup composition), then md5-nibble bits (cross-engine), per-bit
    majority vote, 2×16-bit LSH bands
    for candidates (wider bands = fewer, cleaner candidates at some
    recall cost — the recall/cost dial of production SimHash dedup; on
    this clustered-vocab corpus 8-bit bands generate ~10M candidate
    combinations, 16-bit ~1.7M), hamming ≤ 1 verification via
    bit_count(xor). Threshold note: this synthetic corpus draws from a
    ~30-word vocabulary, so 32-bit bag-of-words simhashes barely
    discriminate (tens of thousands of pairs collide outright); the
    tight threshold keeps the output the truly-nearest band. Real
    corpora use 64-bit hashes, 4×16 bands, hamming ≤ 3.

    Scale: same shuffle shape as MinHash-LSH — band-key equi-join,
    never O(n²); the signature is 8 bytes so the verify join carries
    almost nothing.
    """
    from ucl_data_pipeline_spark.sources.io import fan_out

    # Exact-duplicate collapse FIRST (one representative per distinct
    # text, lowest doc_id): byte-identical copies are the exact-dedup
    # stage's job, and they are precisely what makes near-dup candidate
    # buckets quadratic — the 10x scale smoke showed 39x runtime growth
    # without this collapse because replicated texts multiplied every
    # band bucket.
    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    rep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    # Signature via the shared md5-nibble packed-vote helper (11 packed
    # vote sums instead of 32 signed sums — a third of the hash-agg
    # state per group; verified pair-for-pair identical and ~10% faster
    # end-to-end at sf0.1). Two 16-bit LSH bands.
    sig = _simhash_md5_sig(rep, n_bands=2)
    bucket = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[f"band_{k}" for k in range(2)])).alias(
            "band_idx", "band_val"
        ),
    )
    a = bucket.alias("a")
    b_ = bucket.alias("b")
    # The hamming predicate goes INSIDE the join: hot bands on a
    # clustered corpus generate millions of candidate combinations, and
    # evaluating xor/bit_count inline streams them through the join
    # (distinct only ever sees true near-dups) instead of materializing
    # and deduplicating the full candidate set (~6x faster at sf0.1).
    hamming_join = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming_join <= 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming_join.cast("int").alias("hamming"),
        )
        .distinct()
    )


_TEXT_CLEAN_ORACLE = r"""
SELECT
  doc_id,
  regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g') AS clean_text,
  CAST(length(text) - length(
    regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')
  ) AS INTEGER) AS n_chars_removed
FROM documents
"""


@register("text_clean", oracle=_TEXT_CLEAN_ORACLE, tags=("text", "llm"))
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text-cleaning stage: lowercase, trim, strip
    non-alphanumerics, collapse whitespace — plus a removed-volume
    audit column (cleaning that silently deletes most of a document is
    a quality signal in itself). Pure codegen'd regexp_replace chain.
    """
    d = read_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim("text")), "[^a-z0-9 ]", ""),
        " +",
        " ",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length("text") - F.length(clean)).cast("int").alias("n_chars_removed"),
    )


_PII_ORACLE = r"""
WITH seeded AS (
  SELECT
    doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      AS raw_text
  FROM documents
)
SELECT
  doc_id,
  regexp_replace(
    regexp_replace(raw_text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
    '\+?[0-9]+(-[0-9]+)+', '<PHONE>', 'g') AS redacted,
  CAST(len(regexp_extract_all(raw_text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+'))
    AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(raw_text, '\+?[0-9]+(-[0-9]+)+'))
    AS INTEGER) AS n_phones
FROM seeded
"""


@register("pii_redaction", oracle=_PII_ORACLE, tags=("text", "llm"))
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex detection and masking of email/phone
    patterns plus per-document detection counts (the audit trail a
    redaction stage must emit). The corpus contains no natural PII, so
    deterministic synthetic contacts are appended first; the operator
    must mask exactly those. Regexes restricted to syntax Java regex
    and RE2 share. At scale this runs as a scan-side projection —
    no shuffle, no Python.
    """
    d = read_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
    phone_re = r"\+?[0-9]+(-[0-9]+)+"
    seeded = d.select("doc_id", raw.alias("raw_text"))
    redacted = F.regexp_replace(
        F.regexp_replace("raw_text", email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("raw_text", F.lit(email_re), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all("raw_text", F.lit(phone_re), F.lit(0)))
        .alias("n_phones"),
    )


_TFIDF_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT
    tf.doc_id, tf.term,
    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rn FROM scored
) WHERE rn <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("text", "llm", "agg"))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document. Term and
    document frequencies are two aggregations over one exploded token
    stream; the df side arrives at the tf⋈df join already hashed on
    term from its groupBy. The document-frequency side grows with
    corpus vocabulary (Heaps' law), so no broadcast hint — AQE
    decides at runtime.
    ln() is transcendental → 6dp rounding per the registry convention.
    """
    ev = read_table(spark, sf_dir, "documents")
    tok = ev.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = ev.count()
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
