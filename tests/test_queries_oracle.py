"""Oracle-differential tests: every registered query vs DuckDB at
sf0.001 (the driver runs the same comparison at sf0.01). This is the
engine's primary correctness gate (SURVEY.md §5.2 item 1).
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from ucl_data_pipeline_spark.plans import REGISTRY
from ucl_data_pipeline_spark.schemas import TESTDATA_TABLES
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def _pandas_kind(series) -> str:
    """Collapse a pandas dtype to the classes the driver's
    dtype-sensitive canonicalizer distinguishes: int vs float vs bool vs
    datetime vs everything-else. Object columns holding only
    dates/datetimes count as datetime (both engines transport DATE
    columns inconsistently between object and datetime64; values still
    compare equal)."""
    import datetime

    k = series.dtype.kind
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    vals = [v for v in series if v is not None]
    if vals and all(isinstance(v, (datetime.date, datetime.datetime)) for v in vals):
        return "datetime"
    return "other"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(census, duck, name):
    q = REGISTRY[name]
    sdf = census[name].df
    srows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        assert isinstance(srows, list)  # rows-only smoke
        return
    cur = duck.execute(q.oracle)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), "column names must match"
    assert len(srows) == len(drows), "row counts must match"
    assert _multiset(srows, sdf.columns) == _multiset(drows, dcols)
    # Driver's-eye dtype check: the verification driver canonicalizes
    # BOTH results through pandas and hashes dtype-sensitively (int64
    # 60000 != float64 60000.0 even when every value matches — round-3
    # red rows). Compare the pandas dtype class per column exactly as
    # the driver sees them: DuckDB via .df(), Spark via toPandas().
    ddf = duck.execute(q.oracle).df()
    spdf = sdf.toPandas()
    for c in dcols:
        dk, sk = _pandas_kind(ddf[c]), _pandas_kind(spdf[c])
        # all-NULL int columns arrive as float64 NaN on either side
        if {dk, sk} == {"int", "float"} and (
            ddf[c].isna().all() or spdf[c].isna().all()
        ):
            continue
        assert dk == sk, (
            f"column {c!r}: oracle pandas dtype {ddf[c].dtype} ({dk}) vs "
            f"spark pandas dtype {spdf[c].dtype} ({sk}) — the driver's "
            f"canonicalizer hash-fails on this (registry docstring: cast "
            f"oracle aggregates to BIGINT/DOUBLE/VARCHAR)"
        )


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_doc_and_unique_name():
    assert len(REGISTRY) >= 30
    for q in REGISTRY.values():
        assert q.doc.strip(), f"{q.name} missing docstring"
