"""The plan walker, the test-session census and the plan-audit CLI."""

from __future__ import annotations

import dataclasses
import importlib
import json

from pyspark.sql import functions as F

from tests.conftest import Census
from tests.test_plans import SINGLE_PARTITION_WINDOW_GRAINS
from ucl_data_pipeline_spark.plan_audit import (
    bnlj_findings,
    broadcast_findings,
    physical_plan,
    single_partition_windows,
    walk,
)
from ucl_data_pipeline_spark.plans import REGISTRY


def test_walker_sees_below_aqe_and_inside_cached_plans(spark):
    # The first static-broadcast audit reported 0 findings suite-wide
    # because its walker stopped at the AdaptiveSparkPlan leaf; the
    # estimate-blind class it hunts lives behind InMemoryTableScan.
    docs = spark.createDataFrame([(1, "a b c"), (2, "b c d")], "doc_id int, text string")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("df")).persist()
    try:
        bands = spark.sql(
            "SELECT * FROM VALUES (0, 0, 2), (1, 2, 9) AS t(band, lo, hi)"
        )
        df = toks.join(F.broadcast(vocab), "tok").join(
            F.broadcast(bands), (F.col("df") >= F.col("lo")) & (F.col("df") < F.col("hi"))
        )
        names = [n.nodeName() for n in walk(physical_plan(df))]
        top_only = [n.nodeName() for n in walk(physical_plan(df), cached=False)]
        assert names[0] == "AdaptiveSparkPlan"
        assert "BroadcastNestedLoopJoin" in top_only  # below the AQE leaf
        assert "InMemoryTableScan" in top_only
        # the cached plan's aggregate is reachable only through the cache
        assert "HashAggregate" in names and "HashAggregate" not in top_only
        flagged = broadcast_findings(df)
        assert [(f["join"], f["flagged_ops"]) for f in flagged] == [
            ("BroadcastHashJoin", ["Generate"])
        ]
        assert [f["verdict"] for f in bnlj_findings(df)] == ["literal"]
    finally:
        vocab.unpersist()


def test_walker_descends_into_subquery_plans(census):
    # not_in_null_semantics is a one-row projection of two scalar
    # subqueries: all four parquet scans it runs sit in subquery plans.
    names = [n.nodeName() for n in walk(physical_plan(census["not_in_null_semantics"].df))]
    assert names.count("Subquery") == 2
    assert sum(n.startswith("Scan parquet") for n in names) == 4


def test_census_covers_registry_without_errors(census):
    dict(census.items())  # re-raises the first build exception
    assert sorted(census.built) == sorted(REGISTRY)


# Registry-wide Spark jobs fired while building (not executing) every
# query at sf0.001. Most are eager build steps (split points,
# localCheckpoint, sizing counts); a parquet schema inference per
# read_table call made it 945 before reads shared one inferred schema
# per table and session.
MAX_REGISTRY_BUILD_JOBS = 400


def test_registry_build_jobs_bounded(census):
    jobs = {name: built.build_jobs for name, built in census.items()}
    top = sorted(jobs.items(), key=lambda kv: -kv[1])[:10]
    assert sum(jobs.values()) <= MAX_REGISTRY_BUILD_JOBS, top


def test_census_builds_once_and_snapshots_before_execution(spark, sf_dir, monkeypatch):
    name = "acf_table_daily"
    q = REGISTRY[name]
    calls = []

    def counted(*args):
        calls.append(args)
        return q.fn(*args)

    monkeypatch.setitem(REGISTRY, name, dataclasses.replace(q, fn=counted))
    census = Census(spark, sf_dir)
    built = census[name]
    assert census[name] is built and len(calls) == 1
    # The gates read the pre-execution plan whether or not the oracle
    # test has executed the shared frame first.
    built.df.collect()
    assert "isFinalPlan=false" in built.physical
    assert "isFinalPlan=true" in physical_plan(built.df).toString()
    assert single_partition_windows(built.df) == built.windows
    assert built.windows == SINGLE_PARTITION_WINDOW_GRAINS[name][0]


def test_plan_audit_cli(spark, sf_dir, monkeypatch, capsys, tmp_path):
    cli = importlib.import_module("tools.plan_audit")
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)

    assert cli.main(["--sf-dir", sf_dir, "bnlj", "range_join_bands"]) == 0
    report = json.loads(capsys.readouterr().out)
    assert report["n_bnlj"] >= 1
    assert report["plan_errors"] == [] and report["offenders_beyond_adjudicated"] == {}

    assert cli.main(["--sf-dir", sf_dir, "windows", "acf_table_daily"]) == 0
    n = SINGLE_PARTITION_WINDOW_GRAINS["acf_table_daily"][0]
    assert capsys.readouterr().out == f"acf_table_daily\t{n}\n"

    out = tmp_path / "plans"
    assert cli.main(["--sf-dir", sf_dir, "explain", str(out), "before", "pricing_summary"]) == 0
    assert "AdaptiveSparkPlan" in (out / "pricing_summary_before.txt").read_text()
