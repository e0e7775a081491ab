"""Validation / data-quality operators (SURVEY.md §2.11).

The reference's validation is a runtime report that warns and never
fails (scripts/validate_data.py:9-36); this engine exposes the same
checks as structured results so callers choose the failure policy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ucl_data_pipeline_spark.sources.io import read_written, written


@dataclass(frozen=True)
class TableReport:
    """V2: per-table summary (row count, columns, sample rows)."""

    name: str
    n_rows: int
    columns: list[str]
    sample: list[dict] = field(default_factory=list)
    missing_columns: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.missing_columns


def required_columns_check(
    df: DataFrame, required: list[str] | T.StructType
) -> list[str]:
    """V1/P9: columns required but absent (reference
    scripts/validate_data.py:16-18 needed.issubset check,
    fetch_the_odds_api.py:41-44). Empty list ⇒ valid.
    """
    if isinstance(required, T.StructType):
        required = [f.name for f in required.fields]
    have = set(df.columns)
    return [c for c in required if c not in have]


def summarize(
    df: DataFrame,
    name: str,
    required: list[str] | T.StructType | None = None,
    n_sample: int = 5,
) -> TableReport:
    """V2: row count + column list + head sample + V1 missing-column
    list (reference scripts/validate_data.py:9-14,20-27, which reports
    the output FILES: their row count and ``.head(5)``).

    A frame a file sink wrote (``sources.io.written``) is reported from
    that write: the row count the sink observed while writing, and the
    sample read back from the written files (one partition, so one job).
    Its lineage does not run again. A frame never written falls back to
    ``limit(n_sample)`` + ``count()``, two passes over its lineage.
    """
    rec = written(df)
    if rec is None:
        head, n_rows = df, df.count()
    else:
        head, n_rows = read_written(df, rec).coalesce(1), rec.n_rows
    return TableReport(
        name=name,
        n_rows=n_rows,
        columns=list(df.columns),
        sample=[r.asDict() for r in head.limit(n_sample).collect()],
        missing_columns=(
            required_columns_check(df, required) if required is not None else []
        ),
    )


def validation_report(
    tables: dict[str, DataFrame],
    required: dict[str, list[str] | T.StructType] | None = None,
) -> dict[str, TableReport]:
    """The full validate stage: one report per table; never raises
    (graceful-degradation contract V3 — empty/missing tables produce a
    zero-row report, not a failure).
    """
    required = required or {}
    return {
        name: summarize(df, name, required.get(name))
        for name, df in tables.items()
    }
