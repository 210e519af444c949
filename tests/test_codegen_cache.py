"""Spark's generated-code cache holds the warm working set.

``session.get_spark_session`` sizes the cache to 1024 classes and keeps
whole-stage ids out of generated class names, so a warm re-run of a plan
compiles nothing. Compiles are counted from Spark's codegen metrics: the
compilation-time histogram records one sample per compile, none per
cache hit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import all_queries


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_150_plans(spark):
    """150 distinct one-projection plans compile once each: a second
    pass over fresh frames of the same plans hits the cache every time.
    Spark's default 100-class LRU recompiles all 150 on the second pass.
    ``toRdd`` generates and compiles the code without running a job."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"

    def compile_all() -> int:
        before = _compiles(spark)
        for i in range(150):
            df = spark.range(8).select(
                (F.col("id") * (i + 1000) + 7).alias("x")
            )
            df._jdf.queryExecution().toRdd()
        return _compiles(spark) - before

    assert compile_all() >= 150
    assert compile_all() == 0


def test_warm_rerun_compiles_nothing(spark, sf_dir):
    """AQE numbers whole-stage codegen stages in the order it plans them
    at runtime. With the stage id in the class name, identical code can
    reach the cache under a different name: ``subq_predicate_family``
    recompiled classes on some warm runs and not on others. Without it,
    four warm runs after the first compile nothing."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    query = all_queries()["subq_predicate_family"].spark_fn
    query(spark, sf_dir).collect()
    before = _compiles(spark)
    for _ in range(4):
        query(spark, sf_dir).collect()
    assert _compiles(spark) - before == 0
