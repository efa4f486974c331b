"""The session compiles each generated class once: a warm re-run of a
chain finds every class in Spark's codegen cache, even after more
distinct classes than Spark's default cache (100 entries) holds have
been generated in between."""

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mdataframe_spark import Filter
from mdataframe_spark.session import CODEGEN_CACHE_ENTRIES

SPARK_DEFAULT_ENTRIES = 100


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_is_sized(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_chain_compiles_nothing(spark, stats_frame):
    def chain():
        kept = Filter([(["log", "cnt"], "1>=", 2), ("fdr", "<", 0.3)])(stats_frame)
        return sorted(
            kept.groupBy("type").agg(F.sum("cnt").alias("s"), F.count("*").alias("n"))
            .collect()
        )

    first = chain()
    c0 = _compiles(spark)
    # one-row union branches, each inlining its own literal and so
    # generating its own classes
    reduce(DataFrame.union, [
        spark.range(0, 1, 1, 1).select((F.col("id") * 7 + i).alias("x"))
        for i in range(60)
    ]).collect()
    assert _compiles(spark) - c0 > SPARK_DEFAULT_ENTRIES
    c1 = _compiles(spark)
    assert chain() == first
    assert _compiles(spark) - c1 == 0
