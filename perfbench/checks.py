"""Output checks: DuckDB oracle counts, order-insensitive value hashes
and the reference pipeline's invariants.

The oracle side runs the registry's own oracle SQL over the very parquet
files the engine reads, so a check never depends on the engine's code.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _norm(v):
    """One cell in the canonical form both engines agree on: exact floats,
    NaN as a token, temporal values as ISO text."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: rows are projected onto
    sorted column names, each row hashed, and the digests summed mod
    2**128 (a multiset hash: row order and partitioning never matter)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for row in rows:
        cells = tuple(_norm(row[i]) for i in order)
        digest = hashlib.blake2b(repr(cells).encode(), digest_size=16).digest()
        total = (total + int.from_bytes(digest, "big")) % (1 << 128)
    return f"{len(columns)}:{','.join(sorted(columns))}:{total:032x}"


class Oracle:
    """DuckDB over one directory of parquet tables."""

    def __init__(self, sf_dir: str, tables) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def result(self, sql: str) -> tuple[int, str]:
        """(row count, value hash) of one oracle query."""
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        return len(rows), value_hash(cols, rows)

    def close(self) -> None:
        self.con.close()


def window_totals_oracle(events_dir: str, window_s: int = 3600) -> str:
    """Batch aggregate of the tumbling-window stream over the same event
    files: per (window start, event_type) count and exact decimal sum."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("SET TimeZone = 'UTC'")
        cur = con.execute(
            f"""
            SELECT CAST(to_timestamp(floor(epoch(ts) / {window_s}) * {window_s})
                        AS TIMESTAMP) AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM read_parquet('{events_dir}/*.parquet')
            GROUP BY ALL
            """
        )
        cols = [d[0] for d in cur.description]
        return value_hash(cols, cur.fetchall())
    finally:
        con.close()


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )


def parquet_rows(path: str) -> int:
    """Row count of a parquet output directory, read back from footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def parquet_hash(path: str) -> str:
    """Value hash of a parquet output directory, read back with pyarrow."""
    files = _parquet_files(path)
    if not files:
        return value_hash([], [])
    table = pa.concat_tables(pq.read_table(f) for f in files)
    cols = table.column_names
    rows = zip(*(table.column(c).to_pylist() for c in cols))
    return value_hash(cols, rows)
