"""SparkSession factory (SURVEY.md §7 Phase 0).

Scale notes (100 TB design): on a real cluster the same builder is used
with ``master`` unset (picked up from spark-submit), AQE handles
post-shuffle coalescing + skew joins at runtime, and
``spark.sql.shuffle.partitions`` should be ~2-3x total executor cores
(the default of 32 suits a 32-core driver host; on fewer cores AQE
coalesces the surplus). Session timezone is pinned to UTC because
fixture timestamps are naive (FIXTURES.md) and ClickHouse DateTime is
timezone-naive at rest.

Generated-code cache: Spark keeps each Janino-compiled class in an LRU
cache capped by ``spark.sql.codegen.cache.maxEntries`` (Spark's default
is 100). A working set larger than the cap cycles through it and misses
on nearly every lookup, so each repeated query recompiles every class.
Spark 4 also keys the cache by class loader, so a whole-stage class
takes one entry for the planning thread and one for the task threads.
One pass of the 72-key ``bench.py`` suite at sf0.01 compiles about 1,200
entries, the largest repeated working set in this repo, so
``CODEGEN_CACHE_ENTRIES`` is 2000: headroom over 1,200, where 1000 would
still thrash. It changes no plan and no result. The conf is static: it
applies only to a session this factory creates, so a driver-provided
session (``ensure_session_defaults``) keeps Spark's default of 100.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_ENTRIES = 2000


def _pin_os_utc() -> None:
    """Pin the Python process timezone to UTC.

    Non-Arrow ``DataFrame.collect()`` converts TimestampType through the
    driver's OS timezone; on a non-UTC host, timestamp-returning
    oracle-checked queries would drift from DuckDB's naive timestamps
    even with the Spark session timezone pinned.
    """
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        if hasattr(time, "tzset"):
            time.tzset()


def get_spark(
    app_name: str = "etl-ch-destination-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    UTC session time, Arrow enabled for the pandas-UDF paths, and a
    generated-code cache sized to the engine's working set.
    """
    _pin_os_utc()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin engine-required session state on an externally-provided session.

    The driver harness passes its own SparkSession to ``queries()``
    callables. Idempotent; set once per session here rather than
    per-table-load so concurrent readers never race on session confs
    (VERDICT r1 "What's wrong" #5):

    - UTC session + OS timezone: naive fixture timestamps hash-match the
      DuckDB oracle only under UTC.
    - ``nanosAsLong``: the ``events`` fixture stores TIMESTAMP(NANOS),
      which Spark's vectorized parquet reader otherwise rejects.
    """
    _pin_os_utc()
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


# Backwards-compatible name used by round-1 call sites.
ensure_utc = ensure_session_defaults
