"""Round-2 regression tests: ANSI-neutral coercions, export ordering,
width-safe sampling hash, map-join cardinality safety, column-name
conformance, conf hygiene, and the new llm_ops2 operators."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ucl_data_pipeline_spark import plans
from ucl_data_pipeline_spark.functions.scalar import (
    fractional_to_decimal_odds,
    knuth_bucket,
    try_double,
)
from ucl_data_pipeline_spark.operators.enrich import normalize_names
from ucl_data_pipeline_spark.plans.registry import (
    EXPORT_FIRST,
    REGISTRY,
    sql_knuth_bucket,
)
from ucl_data_pipeline_spark.sources.io import conform_column_names, read_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Export ordering (driver checks a 50-query prefix)
# ---------------------------------------------------------------------------


def test_export_first_names_all_registered():
    missing = [n for n in EXPORT_FIRST if n not in REGISTRY]
    assert missing == []
    # ≤50: the driver checks a 50-slot prefix; unused slots fall through
    # to registration order, and round-3 additions claim them as they land.
    assert len(EXPORT_FIRST) == len(set(EXPORT_FIRST)) <= 50


def test_export_order_prefix_is_priority_list():
    names = list(plans.all_queries().keys())
    assert names[: len(EXPORT_FIRST)] == list(EXPORT_FIRST)
    # every registered query is exported exactly once
    assert sorted(names) == sorted(REGISTRY)
    # oracle dict ordering mirrors the query dict
    osqls = list(plans.oracle_sqls())
    assert osqls == [n for n in names if REGISTRY[n].oracle is not None]


# ---------------------------------------------------------------------------
# ANSI-neutral coercions
# ---------------------------------------------------------------------------


@pytest.fixture()
def ansi_on(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_fractional_odds_ansi_on(ansi_on):
    df = ansi_on.createDataFrame(
        [("5/2",), ("evens",), ("2.5",), ("1/0",), (None,)], ["odds"]
    )
    got = [
        r.dec
        for r in df.select(
            fractional_to_decimal_odds("odds").alias("dec")
        ).collect()
    ]
    assert got == [3.5, None, 2.5, None, None]


def test_try_double_ansi_on(ansi_on):
    df = ansi_on.createDataFrame([("1.5",), ("garbage",), (None,)], ["x"])
    got = [r.d for r in df.select(try_double("x").alias("d")).collect()]
    assert got == [1.5, None, None]


# ---------------------------------------------------------------------------
# Width-safe deterministic sampling hash
# ---------------------------------------------------------------------------


def test_knuth_bucket_matches_python_and_duckdb_for_huge_keys(spark):
    # Negative keys included: DuckDB % keeps the dividend's sign, so the
    # oracle spelling must pmod-wrap its first modulo to match Spark pmod.
    keys = [-(2**63), -3_470_000_007, -7, -1, 0, 1, 19, 3_470_000_000,
            2**40 + 7, 2**62 + 12345, 2**63 - 1]
    expected = [(k * 2654435761 % 2**32) % 100 for k in keys]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = [
        r.b
        for r in df.select("k", knuth_bucket("k", 100).alias("b"))
        .orderBy("k")
        .collect()
    ]
    assert got == expected
    con = duckdb.connect()
    # CAST(...), not ::BIGINT — '::' binds before unary minus, so
    # -9223372036854775808::BIGINT casts the (overflowing) positive part.
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"(CAST({k} AS BIGINT))" for k in keys) + ") v(k)")
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT {sql_knuth_bucket('k', 100)} FROM t ORDER BY k"
        ).fetchall()
    ]
    assert duck == expected


def test_knuth_bucket_ansi_on_no_overflow(ansi_on):
    df = ansi_on.createDataFrame([(2**63 - 1,)], ["k"])
    assert df.select(knuth_bucket("k", 20).alias("b")).collect()[0].b == (
        ((2**63 - 1) * 2654435761 % 2**32) % 20
    )


# ---------------------------------------------------------------------------
# normalize_names cardinality safety
# ---------------------------------------------------------------------------


def test_normalize_names_duplicate_map_rows_keep_cardinality(spark):
    fact = spark.createDataFrame([("A",), ("B",), ("C",)], ["team"])
    dup_map = spark.createDataFrame(
        [("A", "Alpha"), ("A", "Azure"), ("B", "Beta")], ["raw", "canonical"]
    )
    out = normalize_names(fact, dup_map, ("team",))
    rows = sorted(r.team for r in out.collect())
    assert len(rows) == 3  # a dict lookup can never change cardinality
    assert rows == ["Alpha", "Beta", "C"]  # min(canonical) deterministic


# ---------------------------------------------------------------------------
# conform_column_names (P1)
# ---------------------------------------------------------------------------


def test_conform_column_names(spark):
    df = spark.createDataFrame([(1, "x")], ["Col_One", "colTwo"])
    assert conform_column_names(df, "upper").columns == ["COL_ONE", "COLTWO"]
    assert conform_column_names(df, "lower").columns == ["col_one", "coltwo"]
    with pytest.raises(ValueError):
        conform_column_names(df, "title")


def test_conform_column_names_rejects_case_collisions(spark):
    # 'amount' and 'Amount' would both become 'AMOUNT' — every later
    # reference to it would be ambiguous; fail fast naming the pair.
    df = spark.createDataFrame([(1, 2)], ["amount", "Amount"])
    with pytest.raises(ValueError, match="AMOUNT"):
        conform_column_names(df, "upper")


# ---------------------------------------------------------------------------
# read_table conf hygiene
# ---------------------------------------------------------------------------


def test_read_table_restores_nanos_conf_and_pins_utc(spark):
    df = read_table(spark, SF, "events")
    # the legacy conf must not leak into the session after the call
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # and the frame must still execute AFTER the conf was restored
    assert df.limit(1).count() == 1
    # testdata is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) since
    # round 3 → reads as timestamp_ntz; plain "timestamp" is the legacy
    # nanos-fallback shape (sources/io.py _read_events_legacy_nanos).
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")


# ---------------------------------------------------------------------------
# llm_ops2 semantics (oracle equality is covered by verify_local /
# test_queries_oracle; these pin intrinsic properties)
# ---------------------------------------------------------------------------


def test_pack_sequences_budget_structure(spark):
    from ucl_data_pipeline_spark.plans.llm_ops2 import (
        _PACK_BUDGET,
        pack_sequences_greedy,
    )

    out = pack_sequences_greedy(spark, SF).collect()
    by_pack: dict[tuple, list] = {}
    for r in out:
        by_pack.setdefault((r.source, r.pack_id), []).append(r)
    for (src, pid), rows in by_pack.items():
        rows.sort(key=lambda r: r.doc_id)
        # pack_pos is 1..n within the pack
        assert [r.pack_pos for r in rows] == list(range(1, len(rows) + 1))
        # a document starts in pack p iff the tokens BEFORE it (in its
        # shard) total in [p*B, (p+1)*B)
        start = sum(
            x.n_tokens
            for x in out
            if x.source == src and x.doc_id < rows[0].doc_id
        )
        assert start // _PACK_BUDGET == pid


def test_repetition_and_entropy_bounds(spark):
    from ucl_data_pipeline_spark.plans.llm_ops2 import (
        repetition_score,
        unigram_entropy,
    )

    rep = repetition_score(spark, SF).collect()
    assert all(0.0 <= r.dup_frac <= 1.0 for r in rep)
    ent = unigram_entropy(spark, SF).collect()
    for r in ent:
        assert 0.0 <= r.unigram_entropy <= 25.0
        # entropy is bounded by log2(n_tokens) (+ rounding slack)
        import math

        assert r.unigram_entropy <= math.log2(r.n_tokens) + 1e-6


def test_contamination_fraction_bounds(spark):
    from ucl_data_pipeline_spark.plans.llm_ops2 import contamination_ngram_overlap

    out = contamination_ngram_overlap(spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r.n_contaminated <= r.n_grams
        assert abs(r.contamination_frac - r.n_contaminated / r.n_grams) < 1e-12
        # benchmark docs never appear in the eval output
        assert r.doc_id % 97 != 0


# ---------------------------------------------------------------------------
# llm_ops3 semantics
# ---------------------------------------------------------------------------


def test_sq8_topk_structure_and_recall(spark):
    from ucl_data_pipeline_spark.plans.llm_ops import embedding_ivf_topk
    from ucl_data_pipeline_spark.plans.llm_ops3 import embedding_sq8_topk

    sq = embedding_sq8_topk(spark, SF).collect()
    by_q: dict[int, list] = {}
    for r in sq:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 3
        sims = [r.cos_sim for r in sorted(rows, key=lambda r: -r.cos_sim)]
        assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims)
    # IVF+SQ8 prunes candidates exactly like embedding_ivf_topk (same
    # coarse quantizer, nprobe=1); SQ8 only compresses the within-list
    # scan and the re-rank is exact — so its top-1 must match the IVF
    # exact search's top-1, not whole-corpus brute force (which would
    # measure the list-pruning recall, a different property).
    ivf = embedding_ivf_topk(spark, SF).collect()
    ivf_top1 = {}
    for r in ivf:
        cur = ivf_top1.get(r.query_id)
        if cur is None or r.cos_sim > cur[1]:
            ivf_top1[r.query_id] = (r.neighbor_id, r.cos_sim)
    sq_top1 = {}
    for r in sq:
        cur = sq_top1.get(r.query_id)
        if cur is None or r.cos_sim > cur[1]:
            sq_top1[r.query_id] = (r.neighbor_id, r.cos_sim)
    assert set(sq_top1) == set(ivf_top1)
    agree = sum(sq_top1[q][0] == ivf_top1[q][0] for q in sq_top1)
    assert agree >= len(sq_top1) - 1  # one flip allowed: quantized
    # shortlist can miss a borderline within-list top-1


def test_containment_dominates_jaccard(spark):
    from ucl_data_pipeline_spark.plans.llm_ops import jaccard_shingle_pairs
    from ucl_data_pipeline_spark.plans.llm_ops3 import shingle_containment_pairs

    cont = {
        (r.doc_a, r.doc_b): (r.containment_a, r.containment_b)
        for r in shingle_containment_pairs(spark, SF).collect()
    }
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_shingle_pairs(spark, SF).collect()
    }
    assert set(cont) == set(jac)  # same candidate pairs by construction
    for pair, (ca, cb) in cont.items():
        assert 0.0 < ca <= 1.0 and 0.0 < cb <= 1.0
        # containment >= jaccard always (divides by a subset-size)
        assert ca >= jac[pair] - 1e-12 and cb >= jac[pair] - 1e-12


def test_url_normalize_canonical_form(spark):
    from ucl_data_pipeline_spark.plans.llm_ops3 import url_normalize

    rows = url_normalize(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.host == r.host.lower()
        assert not r.host.startswith("www.")
        assert "utm_" not in r.canonical_url and "ref=" not in r.canonical_url
        assert r.canonical_url.startswith(r.host)
        if r.doc_id % 3 == 0:
            assert r.canonical_url.endswith("?page=2")
        else:
            assert "?" not in r.canonical_url


def test_mixture_weights_sum_to_one(spark):
    from ucl_data_pipeline_spark.plans.llm_ops3 import domain_mixture_weights

    rows = domain_mixture_weights(spark, SF).collect()
    assert abs(sum(r.p for r in rows) - 1.0) < 1e-9
    total_w = sum(r.mixture_weight for r in rows)
    assert abs(total_w - 1.0) < 1e-4  # 6dp rounding slack per source
    # temperature scaling upsamples small domains: min weight ratio
    # must exceed min token-share ratio
    ws = sorted(r.mixture_weight for r in rows)
    ps = sorted(r.p for r in rows)
    if ps[0] < ps[-1]:
        assert ws[0] / ws[-1] > ps[0] / ps[-1]


# ---------------------------------------------------------------------------
# CLI entry point
# ---------------------------------------------------------------------------


def test_cli_pipeline_end_to_end(spark, tmp_path, capsys):
    import ucl_data_pipeline_spark.__main__ as cli

    data = tmp_path / "data"
    data.mkdir()
    (data / "raw_football_data.csv").write_text(
        "date,home_team,away_team,home_goals,away_goals\n"
        "2025-09-18,Liverpool,Bayern,2,1\n"
    )
    (data / "team_name_map.csv").write_text("raw,canonical\nBayern,Bayern Munich\n")
    out = tmp_path / "out"
    rc = cli.main(
        ["pipeline", "--data-dir", str(data), "--out-dir", str(out)]
    )
    assert rc == 0
    # The validation lines report what the sinks wrote; the empty
    # UPCOMING output runs the zero-row observation path end to end.
    printed = capsys.readouterr().out.splitlines()
    assert "[HIST_matches] rows=1 cols=20 missing=[]" in printed
    assert "[UPCOMING_fixtures] rows=0 cols=18 missing=[]" in printed
    hist = spark.read.option("header", True).csv(str(out / "HIST_matches"))
    rows = hist.collect()
    assert len(rows) == 1
    assert rows[0].away_team == "Bayern Munich"  # name map applied
    assert len(hist.columns) == 20  # canonical HIST projection
    up = spark.read.option("header", True).csv(str(out / "UPCOMING_fixtures"))
    assert up.count() == 0  # empty-but-valid (no fixtures input)


def test_cli_list_and_run(capsys):
    import ucl_data_pipeline_spark.__main__ as cli

    assert cli.main(["list", "--tag", "tpch"]) == 0
    out = capsys.readouterr().out
    assert "large_volume_customers" in out and "min_cost_supplier" in out
    assert cli.main(["run", "nope"]) == 2


def test_boilerplate_chunk_removal_semantics(spark):
    from ucl_data_pipeline_spark.plans.llm_ops3 import (
        _BOILER_DF,
        boilerplate_chunk_removal,
    )

    rows = boilerplate_chunk_removal(spark, SF).collect()
    assert len(rows) > 0
    total_boiler = sum(r.n_boilerplate for r in rows)
    for r in rows:
        assert 0 <= r.n_boilerplate <= r.n_chunks
        kept_words = r.clean_text.split() if r.clean_text else []
        # every kept chunk has <= 10 tokens, so clean_text token count
        # is bounded by 10 * kept chunks
        assert len(kept_words) <= 10 * (r.n_chunks - r.n_boilerplate)
    # a chunk is boilerplate for EVERY doc containing it or none
    from collections import defaultdict
    docs = {r.doc_id: r for r in rows}
    assert len(docs) == len(rows)


def test_pagerank_properties(spark):
    from ucl_data_pipeline_spark.plans.graph import (
        _DAMP,
        _N_NODES,
        pagerank_trade_network,
    )

    rows = pagerank_trade_network(spark, SF).collect()
    assert len(rows) == _N_NODES
    ranks = [r.rank for r in rows]
    # every rank at least the teleport floor
    assert all(r >= (1 - _DAMP) / _N_NODES - 1e-9 for r in ranks)
    # mass conservation up to dangling-node leak (ranks can only lose
    # mass, never gain)
    assert sum(ranks) <= 1.0 + 1e-6
    assert sum(ranks) > (1 - _DAMP)  # teleport mass alone is preserved
    # output is sorted by rank desc
    assert ranks == sorted(ranks, reverse=True)


def test_q18_quantity_fits_decimal_8_2(spark, sf_dir):
    # Guards large_volume_customers' DECIMAL(8,2) quantity sum: every
    # l_quantity must be exactly representable at scale 2 and below the
    # 10^6 precision bound, or the narrow cast would silently round.
    from ucl_data_pipeline_spark.sources.io import read_table

    l = read_table(spark, sf_dir, "lineitem")
    bad = l.filter(
        (F.col("l_quantity") * 100 != F.round(F.col("l_quantity") * 100, 0))
        | (F.col("l_quantity") >= 1_000_000)
        | (F.col("l_quantity") < 0)
    ).count()
    assert bad == 0
