"""Session-factory settings that decide steady-state cost."""

from __future__ import annotations


def test_codegen_cache_holds_more_than_100_plans(spark):
    """One CRMLS snapshot-join round generates ~129 distinct classes;
    with Spark's default 100-entry codegen cache the oldest were
    recompiled by Janino every round. After more than 100 distinct
    plans, re-running the first must be a cache hit: no compile."""
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i):
        # the literal is inlined into the generated code: one class per i
        spark.range(4).select((F.col("id") * F.lit(1_000_003 + i) + 7).alias("x")).collect()

    run(0)
    for i in range(1, 151):
        run(i)
    n = compiles.getCount()
    run(0)
    assert compiles.getCount() == n
