"""SparkSession factory with engine defaults.

Design notes (scale-first):
- AQE is always on: runtime join-strategy switching, skew-join splitting
  and partition coalescing are the first line of defense at 100 TB.
- ANSI mode is OFF: the reference's semantics are pandas
  ``to_numeric(errors="coerce")`` — invalid casts must yield NULL, not
  raise (SURVEY.md §2.8 F7). Spark 4 defaults ANSI on, so we must set it.
- Session timezone is UTC: the reference strips timezones to naive
  timestamps (SURVEY.md §2.8 F6); a fixed UTC session tz makes batch,
  streaming and the DuckDB oracle agree.
- Arrow enabled for any pandas interchange (vectorized UDF paths).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (or left to AQE coalescing) via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def engine_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's canonical Spark configuration."""
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _default_parallelism())
    )
    return {
        # Correctness-bearing semantics
        "spark.sql.ansi.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        # Adaptive execution: coalesce shuffles, switch join strategies,
        # split skewed partitions at runtime.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # r13: let AQE right-size partitions INSIDE cached plans too.
        # Off (the Spark default) every persist() freezes its plan's
        # static shuffle-partition count into the cache — tiny persisted
        # frames (nation-grain edge tables, dup-pair graphs, doc-grain
        # feature aggregates) were materialized at
        # $SPARK_GRAFT_SHUFFLE_PARTITIONS partitions, and every
        # per-superstep broadcast rebuild / cache scan in the iterative
        # family paid that task count per job (the r12 PERF scaling
        # block's 8-core-beats-32 inversion). AQE sizes cached-plan
        # partitions from ACTUAL bytes, so this is scale-adaptive by
        # construction, not a local-core-count constant. Trade-off: a
        # cached plan's output partitioning may no longer match a
        # downstream join key's requirement — measured across the
        # iterative/similarity/clustering families (23 queries,
        # interleaved same-JVM A/Bs both orderings): 1.06-1.58x faster,
        # no regression (OPTIMIZATION_r13.md).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # Shuffle sizing
        "spark.sql.shuffle.partitions": str(sp),
        # Arrow for any pandas interchange (vectorized Python paths)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Scan sizing: 128 MiB split targets keep task counts sane at scale
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Broadcast threshold: dims in this engine are tiny; AQE can also
        # convert to broadcast at runtime from accurate sizes.
        "spark.sql.autoBroadcastJoinThreshold": "33554432",
        # Parquet writers should emit timestamps readable everywhere
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # PySpark 4.1 records the Python call site of every DataFrame and
        # Column API call (``pyspark.errors.utils._with_origin``: several
        # Py4J round trips per ``F.*`` call) so a failing expression can
        # name the user line that built it; its docs call that "a
        # non-trivial performance overhead". Off, plan construction is
        # Py4J-bound work only (``enrich_matches`` builds 1.3-1.5 s ->
        # 0.85-1.1 s on 4 vCPUs). The trade: DataFrame error messages
        # lose their Python call-site context; the error class, message
        # and failing expression are still reported. PySpark reads this
        # once per Python process, from the first active session.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }


def get_spark(
    app_name: str = "ucl-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs; on
    a cluster, leave it unset and let spark-submit supply it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_URL"):
        master = f"local[{_default_parallelism()}]"
        # Local mode runs every executor thread inside the driver JVM;
        # the 1g Spark default starves 32 threads + broadcasts. Only a
        # default — SPARK_GRAFT_DRIVER_MEM overrides; no effect on a
        # real cluster (spark-submit owns it there).
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    if master:
        builder = builder.master(master)
    for k, v in engine_confs(shuffle_partitions).items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may return an existing session; re-assert the
    # correctness-bearing runtime confs (these are settable post-start).
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
