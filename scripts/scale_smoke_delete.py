"""Targeted-delete surgery smoke (PERF.md, round 5).

Lays out R-times-replicated sf0.1 orders range-sorted by o_custkey into
64 files, then deletes a CLUSTERED key set (adjacent custkeys — the
common deletion-request shape after range layout). The scale claim:
bytes rewritten track the files that can contain the keys, not the
dataset — plus an idempotent-rerun row showing the second request prunes
everything.

Usage: python scripts/scale_smoke_delete.py [R]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from measure import bench_session, timed  # noqa: E402

from big_data_occupancy_detection_spark.session import DEFAULT_SF_DIR as SF_DIR  # noqa: E402
from big_data_occupancy_detection_spark.sources.readers import table  # noqa: E402
from big_data_occupancy_detection_spark.sources.sinks import (  # noqa: E402
    delete_keys_parquet,
    write_range_sorted_parquet,
)


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = bench_session(f"delete_smoke_{r}x")
    orders = table(spark, SF_DIR, "orders")
    big = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("__k"),
    ).select(
        (F.col("o_orderkey") * r + F.col("__k")).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    out = tempfile.mkdtemp(prefix="smoke_delete_") + "/orders"
    try:
        write_range_sorted_parquet(big, out, ["o_custkey"], num_files=64)
        files = glob.glob(os.path.join(out, "*.parquet"))
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_rows = spark.read.parquet(out).count()
        # 50 adjacent custkeys from the middle of the range
        mids = (
            spark.read.parquet(out)
            .select("o_custkey").distinct().orderBy("o_custkey").collect()
        )
        keys = [row.o_custkey for row in mids[len(mids) // 2 : len(mids) // 2 + 50]]
        sizes_before = {f: os.path.getsize(f) for f in files}
        rep, stats = timed(
            spark, lambda: delete_keys_parquet(spark, out, "o_custkey", keys)
        )
        rewritten_bytes = sum(
            sz for f, sz in sizes_before.items()
            if not os.path.exists(f) or os.path.getsize(f) != sz
        )
        print(json.dumps({
            "rows": n_rows, "files": len(files),
            "total_mb": round(total_bytes / 1e6, 1),
            "keys": len(keys), "rows_deleted": rep["rows_deleted"],
            "files_rewritten": rep["files_rewritten"],
            "rewritten_mb": round(rewritten_bytes / 1e6, 2),
            **stats,
        }), flush=True)
        rep2, stats2 = timed(
            spark, lambda: delete_keys_parquet(spark, out, "o_custkey", keys)
        )
        print(json.dumps({
            "rerun_rows_deleted": rep2["rows_deleted"],
            "rerun_files_rewritten": rep2["files_rewritten"],
            **{f"rerun_{k}": v for k, v in stats2.items()},
        }), flush=True)
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
