"""The session factory: ``datalakeingestion_spark.session.get_spark``."""

from __future__ import annotations


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (every codegen-cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlives_more_than_a_hundred_plans(spark):
    """A class compiled once stays compiled: Spark's default cache keeps
    only the last 100 classes, so a query run again after 100 other
    plans would be compiled again."""

    def query():
        return (
            spark.range(0, 16, 1, 1)
            .selectExpr("id * 104729 - 3 AS x")
            .filter("x % 7 = 1")
            .collect()
        )

    expected = query()
    before = _compiles(spark)
    for i in range(1, 121):
        # each literal pair makes a distinct generated class
        spark.range(0, 8, 1, 1).selectExpr(f"id * {i} + {i}").collect()
    assert _compiles(spark) - before > 100
    before = _compiles(spark)
    assert query() == expected
    assert _compiles(spark) - before == 0
