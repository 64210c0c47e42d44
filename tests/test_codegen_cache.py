"""A repeated query compiles no new classes.

Spark's codegen cache is keyed by the generated source. With the
session's cap and stage-id-free class names, a query that ran before finds
every class it needs, whatever order the queries run in. At ``SF_DIR`` the
three queries below compile about 117 distinct classes between them, more
than Spark's default cap of 100, so a cache that small evicts some of them
before the second round and this test fails.
"""

from __future__ import annotations

from big_data_occupancy_detection_spark.plans import REGISTRY

QUERIES = ["part_abc_classes", "corpus_curation", "part_negative_samples"]


def _compilations(spark) -> int:
    """Janino compilations this JVM has run so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, sf_dir, names) -> dict[str, int]:
    counts = {}
    for name in names:
        before = _compilations(spark)
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts[name] = _compilations(spark) - before
    return counts


def test_second_round_compiles_nothing(spark, sf_dir):
    first = _run(spark, sf_dir, QUERIES)
    second = _run(spark, sf_dir, QUERIES[::-1])
    assert sum(second.values()) == 0, f"first round {first}, second round {second}"
