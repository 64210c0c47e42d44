"""grouped_cumsum: the range-partitioned parallel prefix must equal the
naive per-group window for any group/order mix, including single-row
groups and negative values."""

from __future__ import annotations

import random

from pyspark.sql import Window, functions as F

from big_data_occupancy_detection_spark.operators.relational import (
    grouped_cumsum,
)


def _check(spark):
    rng = random.Random(3)
    rows = []
    for g in range(7):
        # unique order keys per group, inserted shuffled
        ks = list(range(200 + g))
        rng.shuffle(ks)
        rows += [(f"g{g}", k, rng.randint(-50, 50)) for k in ks]
    rows.append(("lonely", 0, 42))
    df = spark.createDataFrame(rows, "g string, k long, v long").repartition(16)

    got = {
        (r["g"], r["k"]): r["cs"]
        for r in grouped_cumsum(df, "g", "k", "v", out_col="cs").collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["g"], r["k"]): r["cs"]
        for r in df.withColumn("cs", F.sum("v").over(w)).collect()
    }
    assert got == want
    assert len(got) == len(rows)


def test_matches_naive_window(spark):
    _check(spark)


def test_matches_naive_window_without_exchange_reuse(spark, no_exchange_reuse):
    # the sizes aggregate and the prefix window each read the bounds;
    # without broadcast reuse they must still route identically
    _check(spark)
