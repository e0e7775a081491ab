from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ucl_data_pipeline_spark import get_spark
from ucl_data_pipeline_spark.plan_audit import single_partition_windows
from ucl_data_pipeline_spark.plans import REGISTRY

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    # r12 advisor: query-internal persist() calls rely on the bench's
    # per-run clearCache; the session fixture must not let cache
    # entries accumulate across a whole test session (bounded by LRU,
    # but needless pressure).
    spark.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def run_counting_jobs(spark, group: str, fn):
    """``fn()`` run under the Spark job group ``group`` (a name not used
    before); returns ``(fn's result, jobs it ran)``. The count comes from
    the status tracker's per-group lookup after the listener bus drains,
    so it does not depend on how many jobs the status store retains
    overall."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@dataclass(frozen=True)
class Built:
    """One registry query as its function returned it, with the plan
    facts the registry-wide gates read, snapshotted BEFORE anything
    executes the frame (AQE rewrites ``executedPlan()`` in place once
    the frame runs, so a later snapshot would depend on test order)."""

    df: object
    schema: object
    physical: str  # pre-execution executedPlan() string (isFinalPlan=false)
    optimized: str  # optimizedPlan() string
    windows: int  # plan_audit.single_partition_windows
    build_jobs: int  # Spark jobs the query function ran (job group census:<name>)


class Census:
    """Each registry query built at most once per test session.

    Calling a query function re-runs every eager build job it fires
    (collected split points, localCheckpoint, sizing counts), so the
    registry-wide gates and the oracle test share one build per query.
    A build that raised re-raises its exception on every request.
    """

    def __init__(self, spark, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        self.built: dict[str, Built | Exception] = {}

    def __getitem__(self, name: str) -> Built:
        if name not in self.built:
            self.built[name] = self._build(name)
        got = self.built[name]
        if isinstance(got, Exception):
            raise got
        return got

    def items(self):
        """(name, Built) for every registered query, in name order."""
        for name in sorted(REGISTRY):
            yield name, self[name]

    def _build(self, name: str) -> Built | Exception:
        try:
            df, jobs = run_counting_jobs(
                self.spark,
                f"census:{name}",
                lambda: REGISTRY[name].fn(self.spark, self.sf_dir),
            )
            qe = df._jdf.queryExecution()
            return Built(
                df=df,
                schema=df.schema,
                physical=qe.executedPlan().toString(),
                optimized=qe.optimizedPlan().toString(),
                windows=single_partition_windows(df),
                build_jobs=jobs,
            )
        except Exception as exc:  # noqa: BLE001 — re-raised per request
            return exc


@pytest.fixture(scope="session")
def census(spark, sf_dir) -> Census:
    return Census(spark, sf_dir)
