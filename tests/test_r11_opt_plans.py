"""Plan gates for the single-shuffle fusion in grouped_exact_median /
global_cumsum: the ONE materialized (group, bucket) exchange must stay
SHARED between the counts/sizes aggregate and the window consumer. The
share rests on both consumer subtrees canonicalizing equal below the
exchange (the counts side must keep value_col / the order key in its
projection — see the count(value) note and global_cumsum's null-key
guard, which references every order column, in
operators/relational.py); a well-meaning "simplification" back to
count(1)/sum(value) silently duplicates the full-data shuffle instead
(measured: no ReusedExchange, two REPARTITION_BY_COL subtrees)."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.operators.relational import (
    global_cumsum,
    grouped_cumsum,
    grouped_exact_median,
)


def _final_plan(df) -> str:
    """Execute df and return the FINAL adaptive plan (with materialized
    query stages and reuse markers), not the pre-execution plan."""
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    return p.split("== Initial Plan ==")[0]


def test_median_counts_ride_the_one_exchange(spark):
    rng = random.Random(5)
    rows = [(f"g{i % 3}", rng.uniform(-100, 100)) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    out = grouped_exact_median(df, "g", "v")
    plan = _final_plan(out)
    assert "ReusedExchange" in plan, (
        "median counts no longer reuse the bucketed exchange — did the "
        "counts aggregate stop referencing value_col (count(value))?"
    )
    # exactly ONE materialized full-data repartition: the reused read
    # references it instead of re-running it
    assert len(re.findall(r"REPARTITION_BY_COL", plan)) >= 1


def test_global_cumsum_sizes_ride_the_one_exchange(spark):
    rng = random.Random(9)
    rows = [(i, rng.randint(-5, 50)) for i in range(4000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    out = global_cumsum(df, ["k"], "v", out_col="cs")
    plan = _final_plan(out)
    assert "ReusedExchange" in plan, (
        "global_cumsum sizes no longer reuse the bucketed exchange — did "
        "the sizes aggregate stop referencing the order key (the null-key "
        "guard inside the summed weight)?"
    )


def test_bounds_are_read_from_the_pin(spark, monkeypatch):
    # _route_by_bounds sketches the percentile bounds once and pins them
    # (checkpoint_for_reuse): every consumer must scan that checkpointed
    # frame, never re-run percentile_approx, whose result depends on row
    # arrival order
    monkeypatch.delenv("SPARK_GRAFT_PLAN_AUDIT", raising=False)
    rng = random.Random(21)
    med_df = spark.createDataFrame(
        [(f"g{i % 3}", rng.uniform(-100, 100)) for i in range(3000)],
        "g string, v double",
    ).repartition(8)
    cum_df = spark.createDataFrame(
        [(i, rng.randint(-5, 50)) for i in range(4000)], "k long, v long"
    ).repartition(8)
    # grouped_cumsum: (g, k) jointly unique, as its contract requires
    gcum_df = spark.createDataFrame(
        [(f"g{i % 3}", i, rng.randint(-5, 50)) for i in range(3000)],
        "g string, k long, v long",
    ).repartition(8)
    for out in (
        grouped_exact_median(med_df, "g", "v"),
        global_cumsum(cum_df, ["k"], "v", out_col="cs"),
        grouped_cumsum(gcum_df, "g", "k", "v", out_col="cs"),
    ):
        plan = _final_plan(out)
        assert "percentile_approx" not in plan, (
            "the bounds sketch runs inside the query plan — is the "
            "checkpoint_for_reuse pin in _route_by_bounds gone?"
        )
        assert re.search(r"Scan ExistingRDD\[[^\]]*__bnds", plan), plan


def test_median_bounds_src_proxy_same_result(spark):
    # bounds are routing-only: a subsampled proxy (even a skewed one)
    # must produce the identical median
    rng = random.Random(3)
    rows = [("a", rng.gauss(0, 10)) for _ in range(801)] + [
        ("b", rng.uniform(5, 9)) for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    proxy = df.filter(F.xxhash64("v") % 7 == 0)
    plain = {
        r["g"]: (r["n"], r["median"])
        for r in grouped_exact_median(df, "g", "v").collect()
    }
    with_proxy = {
        r["g"]: (r["n"], r["median"])
        for r in grouped_exact_median(df, "g", "v", bounds_src=proxy).collect()
    }
    assert plain == with_proxy
    # and a proxy that misses a group entirely still yields exact output
    # (the missing group routes whole into bucket 0)
    only_a = df.filter(F.col("g") == "a").limit(50)
    with_partial = {
        r["g"]: (r["n"], r["median"])
        for r in grouped_exact_median(
            df, "g", "v", bounds_src=only_a
        ).collect()
    }
    assert plain == with_partial
