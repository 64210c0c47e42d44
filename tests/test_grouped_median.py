"""grouped_exact_median: the bucketed order-statistic selection must
reproduce the naive sorted-middle definition exactly — including even/odd
group sizes, single-value groups, heavy duplicate values (degenerate
percentile bounds), and any n_buckets power of two."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.operators.relational import (
    grouped_exact_median,
)


def _naive_median(vals: list[float]) -> tuple[int, float]:
    s = sorted(vals)
    n = len(s)
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    return n, (s[k1 - 1] + s[k2 - 1]) / 2


def _check(spark, groups: dict[str, list[float]], n_buckets: int = 32):
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["n"], r["median"])
        for r in grouped_exact_median(df, "g", "v", n_buckets).collect()
    }
    assert set(got) == set(groups)
    for g, vs in groups.items():
        n, med = _naive_median(vs)
        assert got[g][0] == n, f"{g}: n {got[g][0]} != {n}"
        assert got[g][1] == med, f"{g}: median {got[g][1]} != {med}"


def test_even_odd_and_singleton(spark):
    rng = random.Random(7)
    _check(
        spark,
        {
            "odd": [rng.uniform(-50, 50) for _ in range(101)],
            "even": [rng.uniform(-50, 50) for _ in range(100)],
            "one": [3.25],
            "two": [1.0, 2.0],
        },
    )


def test_duplicate_heavy_degenerate_bounds(spark):
    # 90% of values identical -> most percentile bounds equal; the binary
    # search may route duplicates to a different bucket than a linear
    # count, but ranks must stay exact
    rng = random.Random(11)
    vals = [5.0] * 900 + [rng.uniform(0, 10) for _ in range(101)]
    rng.shuffle(vals)
    _check(spark, {"dup": vals, "alldup": [2.5] * 64})


def test_small_bucket_counts(spark):
    rng = random.Random(13)
    groups = {f"g{i}": [rng.gauss(i, 3) for i in range(50 + i)] for i in range(6)}
    _check(spark, groups, n_buckets=4)


def test_matches_naive_without_exchange_reuse(spark, no_exchange_reuse):
    # both consumers of the bucketed exchange (counts, candidate window)
    # re-run it separately here, so they must route with the same bounds
    rng = random.Random(17)
    groups = {
        f"g{i}": [rng.uniform(-9, 9) for _ in range(300 + 7 * i)] for i in range(4)
    }
    _check(spark, groups)
    df = spark.createDataFrame(
        [(g, v) for g, vs in groups.items() for v in vs], "g string, v double"
    )
    out = grouped_exact_median(df, "g", "v")
    out.collect()
    assert "ReusedExchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_rejects_non_power_of_two(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="power of two"):
        grouped_exact_median(df, "g", "v", n_buckets=12)
