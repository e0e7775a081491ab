"""Explicit StructType schemas.

The reference infers every schema dynamically via ``pd.read_csv``
(SURVEY.md §1.2-1.3); this engine declares them. Two families:

- TESTDATA_SCHEMAS: the driver's synthetic TPC-H-ish tables
  (FIXTURES.md Part B), as their parquet footers infer (the timestamps
  are naive, ``timestamp_ntz``). ``sources.read_table`` reads with the
  inferred schema, not these; tests/test_io.py asserts the two agree
  for every testdata scale factor.
- REFERENCE_SCHEMAS: the reference pipeline's own tables (FIXTURES.md
  Part A) — used by the pipeline-parity operators and tests. Cites:
  templates/HIST_matches_template.csv:1,
  templates/UPCOMING_fixtures_template.csv:1,
  scripts/ensure_min_files.py:10-44, scripts/fetch_fbr_team_xg.py:75.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


# ---------------------------------------------------------------------------
# Driver synthetic tables (FIXTURES.md Part B)
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        _f("r_regionkey", T.IntegerType()),
        _f("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        _f("n_nationkey", T.IntegerType()),
        _f("n_name", T.StringType()),
        _f("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        _f("c_custkey", T.LongType()),
        _f("c_name", T.StringType()),
        _f("c_nationkey", T.IntegerType()),
        _f("c_acctbal", T.DoubleType()),
        _f("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        _f("s_suppkey", T.LongType()),
        _f("s_name", T.StringType()),
        _f("s_nationkey", T.IntegerType()),
        _f("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        _f("p_partkey", T.LongType()),
        _f("p_name", T.StringType()),
        _f("p_brand", T.StringType()),
        _f("p_type", T.StringType()),
        _f("p_size", T.IntegerType()),
        _f("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        _f("o_orderkey", T.LongType()),
        _f("o_custkey", T.LongType()),
        _f("o_orderstatus", T.StringType()),
        _f("o_totalprice", T.DoubleType()),
        _f("o_orderdate", T.TimestampNTZType()),
        _f("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        _f("l_orderkey", T.LongType()),
        _f("l_partkey", T.LongType()),
        _f("l_suppkey", T.LongType()),
        _f("l_linenumber", T.IntegerType()),
        _f("l_quantity", T.DoubleType()),
        _f("l_extendedprice", T.DoubleType()),
        _f("l_discount", T.DoubleType()),
        _f("l_tax", T.DoubleType()),
        _f("l_returnflag", T.StringType()),
        _f("l_linestatus", T.StringType()),
        _f("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        _f("event_id", T.LongType()),
        _f("ts", T.TimestampNTZType()),
        _f("user_id", T.LongType()),
        _f("event_type", T.StringType()),
        _f("value", T.DoubleType()),
        _f("props", T.StringType()),
    ]),
    "documents": T.StructType([
        _f("doc_id", T.LongType()),
        _f("text", T.StringType()),
        _f("lang", T.StringType()),
        _f("source", T.StringType()),
        _f("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        _f("vec_id", T.LongType()),
        _f("embedding", T.ArrayType(T.FloatType())),
        _f("label", T.IntegerType()),
    ]),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


# ---------------------------------------------------------------------------
# Reference pipeline tables (FIXTURES.md Part A)
# ---------------------------------------------------------------------------

# A1 — historical matches fact; 20 canonical columns in template order
# (reference: templates/HIST_matches_template.csv:1,
#  scripts/build_hist_and_upcoming.py:9-14)
HIST_MATCHES = T.StructType([
    _f("date", T.DateType(), nullable=False),
    _f("home_team", T.StringType(), nullable=False),
    _f("away_team", T.StringType(), nullable=False),
    _f("home_goals", T.IntegerType()),
    _f("away_goals", T.IntegerType()),
    _f("home_odds_dec", T.DoubleType()),
    _f("draw_odds_dec", T.DoubleType()),
    _f("away_odds_dec", T.DoubleType()),
    _f("home_rest_days", T.IntegerType()),
    _f("away_rest_days", T.IntegerType()),
    _f("home_travel_km", T.DoubleType()),
    _f("away_travel_km", T.DoubleType()),
    _f("home_injury_index", T.DoubleType()),
    _f("away_injury_index", T.DoubleType()),
    _f("home_gk_rating", T.DoubleType()),
    _f("away_gk_rating", T.DoubleType()),
    _f("home_setpiece_rating", T.DoubleType()),
    _f("away_setpiece_rating", T.DoubleType()),
    _f("ref_pen_rate", T.DoubleType()),
    _f("crowd_index", T.DoubleType()),
])

# A2 — upcoming fixtures fact (18 cols = A1 minus goals; timestamp date)
# (reference: templates/UPCOMING_fixtures_template.csv:1)
UPCOMING_FIXTURES = T.StructType(
    [_f("date", T.TimestampType(), nullable=False)]
    + [f for f in HIST_MATCHES.fields
       if f.name not in ("date", "home_goals", "away_goals")]
)

# Raw pre-enrichment fixture schema (reference: fetch_the_odds_api.py:25)
RAW_FIXTURES = T.StructType([
    _f("date", T.TimestampType()),
    _f("home_team", T.StringType()),
    _f("away_team", T.StringType()),
    _f("home_odds_dec", T.DoubleType()),
    _f("draw_odds_dec", T.DoubleType()),
    _f("away_odds_dec", T.DoubleType()),
])

# A3 — team priors dim (reference: ensure_min_files.py:28-29)
TEAMS_MASTER = T.StructType([
    _f("team", T.StringType(), nullable=False),
    _f("gk_rating", T.DoubleType()),
    _f("setpiece_rating", T.DoubleType()),
    _f("crowd_index", T.DoubleType()),
])

# A4 — stadiums dim (reference: ensure_min_files.py:31-32)
STADIUMS = T.StructType([
    _f("team", T.StringType(), nullable=False),
    _f("stadium", T.StringType()),
    _f("lat", T.DoubleType()),
    _f("lon", T.DoubleType()),
])

# A5 — referee baselines dim (reference: ensure_min_files.py:34-35)
REF_BASELINES = T.StructType([
    _f("ref_name", T.StringType(), nullable=False),
    _f("ref_pen_rate", T.DoubleType()),
])

# A6 — injuries dim, time-varying (reference: ensure_min_files.py:37-38)
INJURIES = T.StructType([
    _f("date", T.DateType(), nullable=False),
    _f("team", T.StringType(), nullable=False),
    _f("injury_index", T.DoubleType()),
])

# A7 — lineups dim, time-varying (reference: ensure_min_files.py:40-41)
LINEUPS = T.StructType([
    _f("date", T.DateType(), nullable=False),
    _f("team", T.StringType(), nullable=False),
    _f("key_att_out", T.IntegerType()),
    _f("key_def_out", T.IntegerType()),
    _f("keeper_changed", T.IntegerType()),
])

# A8 — team name normalization map (reference: ensure_min_files.py:43-44)
TEAM_NAME_MAP = T.StructType([
    _f("raw", T.StringType(), nullable=False),
    _f("canonical", T.StringType(), nullable=False),
])

# A9 — per-season xG metrics (reference: fetch_fbr_team_xg.py:75)
XG_METRICS = T.StructType([
    _f("league_id", T.IntegerType()),
    _f("season_id", T.IntegerType()),
    _f("season", T.StringType()),
    _f("team", T.StringType()),
    _f("xg", T.DoubleType()),
    _f("xga", T.DoubleType()),
    _f("xgd", T.DoubleType()),
    _f("xgd_per90", T.DoubleType()),
])

# A10 — hybrid xG metrics (reference: fetch_fbr_team_xg.py:125-126)
XG_METRICS_HYBRID = T.StructType([
    _f("team", T.StringType(), nullable=False),
    _f("league_id", T.IntegerType()),
    _f("xg_hybrid", T.DoubleType()),
    _f("xga_hybrid", T.DoubleType()),
    _f("xgd_hybrid", T.DoubleType()),
    _f("xgd90_hybrid", T.DoubleType()),
])

# A12 — Odds API nested JSON (reference: fetch_the_odds_api.py:118-143)
ODDS_API_GAMES = T.ArrayType(T.StructType([
    _f("id", T.StringType()),
    _f("commence_time", T.StringType()),
    _f("home_team", T.StringType()),
    _f("away_team", T.StringType()),
    _f("bookmakers", T.ArrayType(T.StructType([
        _f("key", T.StringType()),
        _f("title", T.StringType()),
        _f("markets", T.ArrayType(T.StructType([
            _f("key", T.StringType()),
            _f("outcomes", T.ArrayType(T.StructType([
                _f("name", T.StringType()),
                _f("price", T.DoubleType()),
            ]))),
        ]))),
    ]))),
]))

REFERENCE_SCHEMAS: dict[str, T.StructType] = {
    "hist_matches": HIST_MATCHES,
    "upcoming_fixtures": UPCOMING_FIXTURES,
    "raw_fixtures": RAW_FIXTURES,
    "teams_master": TEAMS_MASTER,
    "stadiums": STADIUMS,
    "ref_baselines": REF_BASELINES,
    "injuries": INJURIES,
    "lineups": LINEUPS,
    "team_name_map": TEAM_NAME_MAP,
    "xg_metrics": XG_METRICS,
    "xg_metrics_hybrid": XG_METRICS_HYBRID,
}
