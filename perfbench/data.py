"""Seeded input generators for the benchmark.

Two families, both pure functions of their arguments:

- ``write_star_tables`` writes the TPC-H-ish star schema plus the
  ``events``/``documents``/``embeddings`` side tables the query registry
  reads (one parquet file per table, same column names and physical
  types as the engine's ``TESTDATA_SCHEMAS``). Row counts scale with
  ``sf`` like the TPC-H tables (lineitem = 6M x sf).
- ``write_etl_inputs`` writes the reference pipeline's CSV inputs (the
  FIXTURES.md Part A schemas: the matches fact and the seven side
  tables) and a directory of event files for the streaming increment.
  Every dimension key is unique after name normalization, so none of
  the enrich chain's left joins can fan out.

Nothing here imports pyspark: inputs are written with numpy + pyarrow
so generation cost never mixes with the engine's own start-up.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _days_between(rng, n: int, lo: str, hi: str) -> np.ndarray:
    """Midnight timestamps (as int64 microseconds) uniform in [lo, hi]."""
    d0 = np.datetime64(lo, "D").astype(np.int64)
    d1 = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n) * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def star_row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": 500,
        "embeddings": 500,
    }


def write_star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table the registry reads; return their row counts."""
    rng = np.random.default_rng(seed)
    n = star_row_counts(sf)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), p("region"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), p("nation"))

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    }), p("customer"))

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    }), p("supplier"))

    npart = n["part"]
    keys = np.arange(npart)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }), p("part"))

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _ts(_days_between(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(_PRIOS, no),
    }), p("orders"))

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_days_between(rng, nl, "1995-01-02", "2001-11-04")),
    }), p("lineitem"))

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(150, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), p("events"))

    _write(_documents(rng, n["documents"]), p("documents"))

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), p("embeddings"))
    return n


def _documents(rng, nd: int) -> pa.Table:
    """Word-salad documents; ~5% are near-duplicates of an earlier one
    (one extra ``dup`` token), so the dedup/similarity queries find pairs."""
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ---------------------------------------------------------------------------
# Reference pipeline inputs (FIXTURES.md Part A)
# ---------------------------------------------------------------------------

# In ``enrich_matches`` argument order.
ETL_SIDE_TABLES = (
    "team_name_map", "teams_master", "stadiums", "ref_baselines",
    "injuries", "lineups", "xg_metrics_hybrid",
)


def _csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path)


def write_etl_inputs(
    out_dir: str,
    seed: int,
    n_matches: int,
    n_teams: int = 400,
    n_event_files: int = 4,
    events_per_file: int = 10_000,
) -> dict[str, int]:
    """Seeded CSV inputs for ``enrich_matches`` plus parquet event files.

    Returns the expected row counts (``matches``, ``events``) the
    pipeline checks compare against.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    c = lambda t: os.path.join(out_dir, f"{t}.csv")  # noqa: E731

    teams = [f"Team {i:04d}" for i in range(n_teams)]
    # Raw spellings: one alias per fourth team, never itself a canonical name.
    aliased = list(range(0, n_teams, 4))
    aliases = {i: f"T{i:04d} FC" for i in aliased}
    _csv(pa.table({
        "raw": [aliases[i] for i in aliased],
        "canonical": [teams[i] for i in aliased],
    }), c("team_name_map"))
    _csv(pa.table({
        "team": teams,
        "gk_rating": np.round(rng.uniform(0.55, 0.90, n_teams), 3),
        "setpiece_rating": np.round(rng.uniform(0.50, 0.85, n_teams), 3),
        "crowd_index": np.round(rng.uniform(0.0, 1.0, n_teams), 3),
    }), c("teams_master"))
    lat = np.round(rng.uniform(36.0, 60.0, n_teams), 4)
    lon = np.round(rng.uniform(-9.0, 30.0, n_teams), 4)
    _csv(pa.table({
        "team": teams,
        "stadium": [f"Ground {i:04d}" for i in range(n_teams)],
        "lat": lat,
        "lon": lon,
    }), c("stadiums"))
    refs = [f"Referee {i:03d}" for i in range(60)]
    _csv(pa.table({
        "ref_name": refs,
        "ref_pen_rate": np.round(rng.uniform(0.15, 0.45, len(refs)), 3),
    }), c("ref_baselines"))

    def raw_name(idx: np.ndarray) -> list[str]:
        return [aliases.get(int(i), teams[int(i)]) for i in idx]

    # Time-varying dims keyed by (date, team): draw distinct pairs.
    day0 = np.datetime64("2019-08-01", "D")
    n_days = 2000
    n_dim = max(1, n_matches // 4)
    pairs = rng.choice(n_days * n_teams, size=2 * n_dim, replace=False)
    inj_pairs, lu_pairs = pairs[:n_dim], pairs[n_dim:]
    _csv(pa.table({
        "date": (day0 + inj_pairs // n_teams).astype(str),
        "team": [teams[int(i)] for i in inj_pairs % n_teams],
        "injury_index": np.round(rng.uniform(0.0, 1.0, n_dim), 3),
    }), c("injuries"))
    _csv(pa.table({
        "date": (day0 + lu_pairs // n_teams).astype(str),
        "team": [teams[int(i)] for i in lu_pairs % n_teams],
        "key_att_out": rng.integers(0, 2, n_dim),
        "key_def_out": rng.integers(0, 2, n_dim),
        "keeper_changed": rng.integers(0, 2, n_dim),
    }), c("lineups"))
    # Hybrid xG: one league per team (the enrich join keys on team only);
    # a tenth of the teams have no metrics and a tenth have null values.
    idx = np.flatnonzero(rng.random(n_teams) < 0.9)
    xg = np.round(rng.uniform(0.6, 2.6, len(idx)), 3)
    xga = np.round(rng.uniform(0.6, 2.6, len(idx)), 3)
    null = rng.random(len(idx)) < 0.1
    _csv(pa.table({
        "team": [teams[int(i)] for i in idx],
        "league_id": np.full(len(idx), 9),
        "xg_hybrid": pa.array(xg, mask=null),
        "xga_hybrid": pa.array(xga, mask=null),
        "xgd_hybrid": pa.array(np.round(xg - xga, 3), mask=null),
        "xgd90_hybrid": pa.array(np.round((xg - xga) / 38.0, 4), mask=null),
    }), c("xg_metrics_hybrid"))

    home = rng.integers(0, n_teams, n_matches)
    away = (home + rng.integers(1, n_teams, n_matches)) % n_teams
    _csv(pa.table({
        "date": (day0 + rng.integers(0, n_days, n_matches)).astype(str),
        "home_team": raw_name(home),
        "away_team": raw_name(away),
        "home_goals": rng.integers(0, 6, n_matches),
        "away_goals": rng.integers(0, 5, n_matches),
        "home_odds_dec": np.round(rng.uniform(1.1, 9.0, n_matches), 2),
        "draw_odds_dec": np.round(rng.uniform(2.5, 6.0, n_matches), 2),
        "away_odds_dec": np.round(rng.uniform(1.1, 12.0, n_matches), 2),
        "ref_name": [refs[int(i)] for i in rng.integers(0, len(refs), n_matches)],
    }), c("matches"))

    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(ev_dir, exist_ok=True)
    start = np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64)
    for k in range(n_event_files):
        m = events_per_file
        ts = start + rng.integers(0, 7 * 86_400_000_000, m)
        _write(pa.table({
            "event_id": pa.array(np.arange(k * m, (k + 1) * m), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 5000, m), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, m),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, m), 2)),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, m)],
        }), os.path.join(ev_dir, f"part-{k:03d}.parquet"))
    return {
        "matches": n_matches,
        "events": n_event_files * events_per_file,
    }
