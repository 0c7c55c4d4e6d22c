"""Generated-code reuse: ``get_session`` sizes Spark's codegen cache
(``spark.sql.codegen.cache.maxEntries``) so a session that re-runs a
set of queries whose distinct generated classes exceed Spark's default
100 entries compiles each class once. With the default LRU every class
is evicted before its next use and the repeat round recompiles."""

from __future__ import annotations

from cuplyr_spark.session import CODEGEN_CACHE_ENTRIES

# Distinct queries per round. Each compiles two classes (the stage's
# filter and projection carry their own integer literals, which Spark
# inlines into the generated source), 150 in all: past the default cap.
_N_QUERIES = 75


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark) -> int:
    """Run the fixed mix once; return how many classes it compiled.
    Every query is a narrow, shuffle-free scan of a small range, so
    AQE has no exchange to re-plan and the generated source is fixed."""
    base = spark.range(0, 64, numPartitions=2)
    before = _compiles(spark)
    for k in range(_N_QUERIES):
        base.selectExpr(f"id * {7919 + k} + {k} AS x").filter(
            f"x % 13 = {k % 13}"
        ).collect()
    return _compiles(spark) - before


def test_repeated_queries_compile_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    first = _round(spark)
    assert first > 100, f"mix compiled only {first} classes; raise _N_QUERIES"
    assert _round(spark) == 0
