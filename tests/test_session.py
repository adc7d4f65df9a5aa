"""Generated-code cache: a repeated working set larger than Spark's
default cap of 100 classes must not be recompiled on every pass."""

from __future__ import annotations

ROUND = 100  # distinct queries per round: 200 classes, twice the default cap


def _compilations(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark) -> None:
    for i in range(ROUND):
        # int literals are inlined into the generated source, so every i
        # yields a distinct class; one partition keeps each query to a task
        spark.range(0, 4, 1, 1).selectExpr(f"id * {i} + {i}").write.mode(
            "overwrite"
        ).format("noop").save()


def test_second_round_of_distinct_queries_compiles_nothing(spark):
    _round(spark)
    before = _compilations(spark)
    _round(spark)
    assert _compilations(spark) - before == 0
