"""IO / conform / graceful-degradation tests (SURVEY.md §2.1, §2.11)."""

from __future__ import annotations

import glob
import itertools
import os
import re
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import run_counting_jobs
from ucl_data_pipeline_spark.schemas import TEAMS_MASTER, TESTDATA_SCHEMAS
from ucl_data_pipeline_spark.sources import (
    conform,
    empty_df,
    read_table,
    safe_read_csv,
)
from ucl_data_pipeline_spark.sources.io import _SCHEMAS

_GROUPS = itertools.count()


def _jobs(spark, fn):
    return run_counting_jobs(spark, f"test_io:{next(_GROUPS)}", fn)


def _typed(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", plan)


def test_read_table_schema(spark, sf_dir):
    for name in ("lineitem", "orders", "embeddings"):
        df = read_table(spark, sf_dir, name)
        assert _typed(df.schema) == _typed(TESTDATA_SCHEMAS[name])


def test_testdata_schemas_match_every_sf_footer(spark, sf_dir):
    # TESTDATA_SCHEMAS documents the tables; read_table never reads with
    # it, so only this test keeps the declared types true.
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dir in dirs
    for d in dirs:
        for name, schema in TESTDATA_SCHEMAS.items():
            inferred = spark.read.parquet(os.path.join(d, f"{name}.parquet"))
            assert _typed(inferred.schema) == _typed(schema), (d, name)


def test_read_table_memo_reads_without_a_job(spark, sf_dir):
    read_table(spark, sf_dir, "lineitem")
    df, n_jobs = _jobs(spark, lambda: read_table(spark, sf_dir, "lineitem"))
    assert n_jobs == 0
    path = os.path.join(sf_dir, "lineitem.parquet")
    inferred, n_inferred = _jobs(spark, lambda: spark.read.parquet(path))
    assert n_inferred >= 1  # the count above is not vacuous
    assert df.schema == inferred.schema
    assert _optimized(df) == _optimized(inferred)


def test_read_table_memo_sees_rewritten_files(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert read_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(4).withColumn("x", F.lit("a")).write.mode("overwrite").parquet(path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "x"]
    assert sorted(df.collect()) == [(i, "a") for i in range(4)]


def test_read_table_memo_reinfers_when_inference_conf_flips(spark, tmp_path):
    conf = "spark.sql.parquet.binaryAsString"
    assert spark.conf.get(conf, None) is None
    # Written without Spark's schema in the footer, which Spark would
    # read back instead of applying the conf.
    pq.write_table(
        pa.table({"b": pa.array([b"ab"], pa.binary())}), str(tmp_path / "t.parquet")
    )
    assert read_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    spark.conf.set(conf, "true")
    try:
        df = read_table(spark, str(tmp_path), "t")
        assert df.dtypes == [("b", "string")]
        assert df.first().b == "ab"
    finally:
        spark.conf.unset(conf)
    assert read_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]


def test_read_table_memo_shared_across_threads(spark, tmp_path):
    # More reader threads than cores, switching often: every frame and
    # the memo's entry for the path hold the table's schema.
    spark.range(3).withColumn("x", F.lit("a")).write.parquet(str(tmp_path / "t.parquet"))
    want = spark.read.parquet(str(tmp_path / "t.parquet")).schema
    got, errors = [], []

    def reader():
        try:
            for _ in range(5):
                got.append(read_table(spark, str(tmp_path), "t").schema)
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(2 * (os.cpu_count() or 1))]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == 5 * len(threads)
    assert all(s == want for s in got)
    assert _SCHEMAS[spark][str(tmp_path / "t.parquet")][1] == want


def test_safe_read_missing_file_is_empty_typed(spark, tmp_path):
    # reference safe_read (scripts/enrich_features.py:17-18): missing
    # file → empty frame with the right schema, downstream joins no-op.
    df = safe_read_csv(spark, str(tmp_path / "nope.csv"), TEAMS_MASTER)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "team", "gk_rating", "setpiece_rating", "crowd_index"]


def test_empty_df_survives_union_and_join(spark):
    # graceful-degradation contract V3: empty-but-valid tables flow
    # through the relational ops without error.
    e = empty_df(spark, TEAMS_MASTER)
    full = spark.createDataFrame([("Liverpool", 0.7, 0.6, 0.7)], TEAMS_MASTER)
    assert full.unionByName(e).count() == 1
    assert full.join(e.select("team"), "team", "left").count() == 1


def test_conform_adds_defaults_and_orders(spark):
    target = T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType()),
    ])
    src = spark.createDataFrame([("x", 1)], "b: string, a: int")
    out = conform(src, target, defaults={"c": 9.5})
    assert out.columns == ["a", "b", "c"]
    row = out.collect()[0]
    assert (row.a, row.b, row.c) == (1, "x", 9.5)


def test_conform_casts_types(spark):
    target = T.StructType([T.StructField("v", T.DoubleType())])
    src = spark.createDataFrame([("3.5",), ("bad",)], "v: string")
    vals = [r.v for r in conform(src, target).collect()]
    assert vals[0] == 3.5 and vals[1] is None  # coerce-to-null (F7)


def test_multi_format_roundtrip_fidelity(spark, sf_dir, tmp_path):
    # Interchange formats (S5/S2 generalized): the same table written
    # to parquet, orc, json-lines and csv must read back identically
    # under an explicit schema (csv/json need one — they don't carry
    # types).
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.sources.io import read_table

    src = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    want_rows = src.count()
    want_sum = src.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
    ).collect()[0][0]
    schema = src.schema

    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / fmt)
        w = src.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        w.format(fmt).save(path)
        r = spark.read.format(fmt)
        if fmt in ("json", "csv"):
            r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", True)
        got = r.load(path)
        assert got.schema == schema, fmt
        assert got.count() == want_rows, fmt
        got_sum = got.agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
        ).collect()[0][0]
        assert got_sum == want_sum, fmt


def test_orc_and_jsonl_helper_roundtrip(spark, sf_dir, tmp_path):
    from ucl_data_pipeline_spark.sources.io import (
        read_jsonl,
        read_orc,
        read_table,
        write_jsonl,
        write_orc,
    )

    src = read_table(spark, sf_dir, "nation")
    orc_path = str(tmp_path / "nation_orc")
    jl_path = str(tmp_path / "nation_jsonl")
    write_orc(src, orc_path)
    write_jsonl(src, jl_path)
    got_orc = read_orc(spark, orc_path)
    got_jl = read_jsonl(spark, jl_path, schema=src.schema)
    want = sorted(map(tuple, src.collect()))
    assert got_orc.schema == src.schema
    assert sorted(map(tuple, got_orc.collect())) == want
    assert got_jl.schema == src.schema
    assert sorted(map(tuple, got_jl.collect())) == want
