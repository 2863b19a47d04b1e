"""The session's generated-code cache holds the engine's working set.

Spark's default cache of 100 classes is smaller than one curation sweep
needs, so a plan that ran before was evicted by the plans after it and
compiled again on every repeat."""

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sparktiles.session import codegen_compiles, get_spark

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


def test_codegen_cache_bound(spark, monkeypatch):
    assert spark.conf.get(CACHE_KEY) == "1000"
    # static conf: inspect the builder, not the (already running) session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    assert get_spark()._options[CACHE_KEY] == "1000"
    builder = get_spark(extra_conf={CACHE_KEY: "250"})
    assert builder._options[CACHE_KEY] == "250"


def test_plan_compiled_once_per_session(spark):
    def plan_a():
        return (spark.range(16).where(F.col("id") % 3 == 1)
                .select((F.col("id") * 7919 + 104729).alias("a")))

    expect = plan_a().collect()
    # literals are inlined into the generated code: 150 distinct classes
    for k in range(150):
        spark.range(8).select((F.col("id") * (k + 2)).alias("v")).collect()
    before = codegen_compiles(spark)
    assert plan_a().collect() == expect
    assert codegen_compiles(spark) == before
