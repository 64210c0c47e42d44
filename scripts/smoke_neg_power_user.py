"""Power-user cliff smoke for negative sampling (round-7, r6 verdict
"what's wrong #2").

Corpus: 1,000 normal users x 30 items + ONE power user with N items
(catalog 100k). The pure array form pays O(K*|items|^2) inside that one
user's row — a single-task cliff invisible to oracle gates (TPC-H users
hold ~30 items). The hybrid routes the power user through the row-stream
anti-join branch: O(K*|items|) rows hash-partitioned across the cluster.

Usage: python scripts/smoke_neg_power_user.py [power_items] [mode]
  mode: hybrid (default threshold) | array (threshold=10**9) | both
Prints one JSON line per mode.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from measure import bench_session, timed  # noqa: E402

from big_data_occupancy_detection_spark.plans.mlplans import (  # noqa: E402
    negative_samples_by_user,
)

CATALOG = 100_000


def main() -> None:
    power_items = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    which = sys.argv[2] if len(sys.argv) > 2 else "both"
    spark = bench_session("smoke_neg_power_user")

    normal = (
        spark.range(30_000)
        .select(
            (F.col("id") % 1000 + 10).cast("long").alias("user_id"),
            F.pmod(F.xxhash64("id"), F.lit(CATALOG)).cast("long").alias("item"),
        )
    )
    power = spark.range(1, power_items + 1).select(
        F.lit(7).cast("long").alias("user_id"), F.col("id").alias("item")
    )
    pairs = normal.unionByName(power).localCheckpoint(eager=True)
    np_ = spark.range(1).select(F.lit(CATALOG).cast("long").alias("n"))

    runs = {"hybrid": {}, "array": {"power_user_threshold": 10**9}}
    for mode, kw in runs.items():
        if which not in ("both", mode):
            continue
        n, stats = timed(
            spark,
            lambda: negative_samples_by_user(pairs, np_, **kw)
            .select(F.sum(F.size("kept_negs")))
            .first()[0],
        )
        print(
            json.dumps(
                {"mode": mode, "power_items": power_items, "kept_total": n, **stats}
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
