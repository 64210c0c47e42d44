"""Unit tests for the temporal join operators (as-of join, band join)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.operators.temporal import (
    asof_join,
    band_self_join_pairs,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, lts=_ts("2024-01-01 10:00:00"), e="a"),
            Row(k=1, lts=_ts("2024-01-01 12:00:00"), e="b"),
            Row(k=1, lts=_ts("2024-01-01 09:00:00"), e="early"),
            Row(k=2, lts=_ts("2024-01-01 11:00:00"), e="other-key"),
            Row(k=3, lts=_ts("2024-01-01 11:00:00"), e="no-match-key"),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rts=_ts("2024-01-01 09:30:00"), price=10.0),
            Row(k=1, rts=_ts("2024-01-01 12:00:00"), price=20.0),  # tie: visible
            Row(k=2, rts=_ts("2024-01-01 10:59:59"), price=30.0),
        ]
    )
    out = {
        r.e: r.price
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts", value_cols=["price"]
        ).collect()
    }
    assert out == {
        "a": 10.0,        # most recent <= 10:00 is 09:30
        "b": 20.0,        # equal timestamp is visible
        "early": None,    # nothing at/before 09:00
        "other-key": 30.0,
        "no-match-key": None,  # left join: key with no right rows survives
    }


def test_band_self_join_pairs_exact_window(spark):
    base = _ts("2024-01-01 00:00:00")
    rows = [
        Row(g=1, id=1, t=base),
        Row(g=1, id=5, t=base),                              # tie with id 1
        Row(g=1, id=2, t=base + dt.timedelta(seconds=50)),
        Row(g=1, id=3, t=base + dt.timedelta(seconds=60)),   # boundary: inclusive
        Row(g=1, id=4, t=base + dt.timedelta(seconds=121)),  # out of band of 3
        Row(g=2, id=6, t=base),                              # other group: no pair
    ]
    df = spark.createDataFrame(rows)
    pairs = {
        (r.a_id, r.b_id)
        for r in band_self_join_pairs(
            df, on=["g"], ts_col="t", id_col="id", band_seconds=60
        ).collect()
    }
    assert pairs == {(1, 5), (1, 2), (1, 3), (5, 2), (5, 3), (2, 3)}


def test_band_join_crosses_bucket_boundary(spark):
    """A pair whose two sides land in adjacent time buckets must be found
    (the reason the b-side is replicated into its predecessor bucket)."""
    base = _ts("2024-01-01 00:00:59")
    df = spark.createDataFrame(
        [
            Row(g=1, id=1, t=base),                            # bucket 0
            Row(g=1, id=2, t=base + dt.timedelta(seconds=2)),  # bucket 1
        ]
    )
    out = band_self_join_pairs(
        df, on=["g"], ts_col="t", id_col="id", band_seconds=60
    ).collect()
    assert [(r.a_id, r.b_id) for r in out] == [(1, 2)]


def test_asof_join_rejects_colliding_value_cols(spark):
    """A value_col that already exists on the left must raise, not silently
    null out the left column (ADVICE r1)."""
    import pytest

    left = spark.createDataFrame([Row(k=1, lts=_ts("2024-01-01 10:00:00"), price=1.0)])
    right = spark.createDataFrame([Row(k=1, rts=_ts("2024-01-01 09:00:00"), price=2.0)])
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts", value_cols=["price"]
        )


def test_grouped_ewma_string_key(spark):
    """grouped_ewma must work for non-integer keys (sensor/user ids) — the
    output schema derives the key dtype from the input (ADVICE r1)."""
    from big_data_occupancy_detection_spark.operators.temporal import grouped_ewma

    df = spark.createDataFrame(
        [
            Row(sensor="a", seq=1, v=10.0),
            Row(sensor="a", seq=2, v=20.0),
            Row(sensor="b", seq=1, v=5.0),
        ]
    )
    out = {
        r.sensor: (r.n_events, r.ewma_value)
        for r in grouped_ewma(
            df, key_col="sensor", order_cols=["seq"], value_col="v", alpha=0.5
        ).collect()
    }
    assert out["a"] == (2, 15.0)  # 10 -> 0.5*10 + 0.5*20
    assert out["b"] == (1, 5.0)


def test_interval_join_matches_naive_and_avoids_nested_loop(spark):
    """The bucketed interval join must equal the naive range-predicate
    join on every (point, interval) pair — including intervals spanning
    many buckets and points exactly on lo/hi — and must plan as an
    equi-join (hash/sort-merge on the cell), never a nested-loop or
    cartesian."""
    from pyspark.sql import functions as F

    from big_data_occupancy_detection_spark.operators.temporal import interval_join
    from big_data_occupancy_detection_spark.planaudit import plan_metrics

    points = spark.range(0, 500).select(
        F.col("id").alias("pid"), (F.col("id") * 7 % 300).cast("double").alias("x")
    )
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 250.0), (3, 100.0, 100.0), (4, 290.0, 299.0)],
        ["iv_id", "lo", "hi"],
    )
    got = sorted(
        (r.pid, r.iv_id)
        for r in interval_join(points, intervals, "x", "lo", "hi", 20.0).collect()
    )
    want = sorted(
        (r.pid, r.iv_id)
        for r in points.crossJoin(intervals)
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .collect()
    )
    assert got == want and len(got) > 0
    m = plan_metrics(interval_join(points, intervals, "x", "lo", "hi", 20.0))
    assert not m["cartesian"]
    assert m["joins"].get("BroadcastNestedLoopJoin", 0) == 0


def test_asof_null_timestamps_never_match(spark):
    """NULL probe timestamps get NULL fills (SQL ASOF: ts >= / <= NULL is
    never true), and NULL right timestamps are invisible — in BOTH
    directions. Regression: a nulls-first sort once leaked the earliest
    right row into a null probe's forward frame."""
    import datetime as dt

    from big_data_occupancy_detection_spark.operators.temporal import (
        asof_join,
        asof_join_forward,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    ldf = spark.createDataFrame(
        [(1, 0, t(10)), (2, 0, None), (3, 0, t(30))],
        "lid LONG, k LONG, lts TIMESTAMP",
    )
    rdf = spark.createDataFrame(
        [(0, t(20), 20.0), (0, None, 99.0)],
        "k LONG, rts TIMESTAMP, val DOUBLE",
    )
    fwd = {
        r.lid: r.val
        for r in asof_join_forward(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    assert fwd == {1: 20.0, 2: None, 3: None}
    bwd = {
        r.lid: r.val
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    assert bwd == {1: None, 2: None, 3: 20.0}


def test_asof_nearest_semantics(spark):
    """Nearest as-of: min |dist| wins, equidistant ties go BACKWARD, the
    tolerance bound is INCLUSIVE, null probes and null right timestamps
    never match."""
    import datetime as dt

    from big_data_occupancy_detection_spark.operators.temporal import (
        asof_join_nearest,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    ldf = spark.createDataFrame(
        [
            (1, 0, t(10)),   # equidistant to r@5 and r@15 -> backward (5)
            (2, 0, t(14)),   # nearer to r@15
            (3, 0, t(40)),   # only r@15 within nothing... dist 25 min
            (4, 0, None),    # null probe -> null
            (5, 1, t(10)),   # key with only a null right ts -> null
        ],
        "lid LONG, k LONG, lts TIMESTAMP",
    )
    rdf = spark.createDataFrame(
        [(0, t(5), 5.0), (0, t(15), 15.0), (1, None, 99.0)],
        "k LONG, rts TIMESTAMP, val DOUBLE",
    )
    got = {
        r.lid: r.val
        for r in asof_join_nearest(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    assert got == {1: 5.0, 2: 15.0, 3: 15.0, 4: None, 5: None}

    # inclusive tolerance: lid=3 is exactly 25 min from r@15
    tol = {
        r.lid: r.val
        for r in asof_join_nearest(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            value_cols=["val"], tolerance_seconds=25 * 60,
        ).collect()
    }
    assert tol[3] == 15.0
    just_under = {
        r.lid: r.val
        for r in asof_join_nearest(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            value_cols=["val"], tolerance_seconds=25 * 60 - 1,
        ).collect()
    }
    assert just_under[3] is None and just_under[2] == 15.0


def test_asof_nearest_one_shuffle_one_sort(spark):
    """The nearest join must shuffle ONCE (like the backward twin); the
    two directional fills each get an in-partition sort + WindowExec —
    and neither may plan the O(n²) UnboundedFollowing frame."""
    import datetime as dt

    from big_data_occupancy_detection_spark.operators.temporal import (
        asof_join_nearest,
    )

    ldf = spark.createDataFrame(
        [(1, 0, dt.datetime(2024, 1, 1))], "lid LONG, k LONG, lts TIMESTAMP"
    )
    rdf = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), 1.0)], "k LONG, rts TIMESTAMP, val DOUBLE"
    )
    plan = (
        asof_join_nearest(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", value_cols=["val"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Window") == 2, plan
    assert "unboundedfollowing" not in plan.lower(), plan


def test_asof_registry_queries_not_vacuous(spark):
    """Regression (round-5 review): the forward/nearest/point-in-time
    registry queries were once anchored on the orders table, whose 1990s
    dates never overlap the 2024 events range — every match column was
    NULL and oracle parity passed vacuously. Pin that each query now
    produces BOTH real matches and (where the data affords them) real
    NULLs, so a testdata regeneration that re-vacuates them fails loudly
    instead of silently gutting the gates."""
    from pyspark.sql import functions as F

    from big_data_occupancy_detection_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"

    def counts(name, col):
        df = REGISTRY[name].fn(spark, sf)
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.count(col).alias("nn")
        ).first()
        return r.n, r.nn

    n, nn = counts("orders_asof_events", "last_orderkey")
    assert n > 0 and nn > 0, (n, nn)
    n, nn = counts("next_purchase_asof_events", "next_purchase_id")
    assert nn > 0 and n - nn > 0, (n, nn)  # matches AND no-later-purchase nulls
    n, nn = counts("nearest_error_to_purchase", "nearest_error_id")
    assert nn > 0 and n - nn > 0, (n, nn)  # matches AND out-of-tolerance nulls
    n, nn = counts("user_features_point_in_time", "n_events_before")
    assert n > 0 and nn > 0, (n, nn)
