"""Bucket-pruned frontier exact-rescue smoke (round-10 item 3).

The 100 TB shape the bucket layout exists for: the persisted seen set is
huge (50 M URLs here), a crawl micro-batch is SMALL (100 discovered
URLs). Unpruned, every batch pays a full seen scan just to apply the
map-only Bloom prescreen (39.7 s at a mere 5 M rows per the r9 smoke —
prohibitive per batch). With `frontier_seen_write`'s bucket layout, the
batch's candidate canonicals touch at most min(|candidates|, n_buckets)
partition DIRS, so per-batch input bytes are bounded by candidate-bucket
volume, not |seen|.

Usage: python scripts/scale_smoke_frontier_bucketed.py [n_seen] [n_batch] [n_buckets]
(defaults 50,000,000 seen x 100 batch x 1024 buckets; the same batch is
run against the FLAT layout and the BUCKETED layout — novel sets are
asserted identical, wall + input bytes printed for both.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from measure import bench_session, timed  # noqa: E402

from big_data_occupancy_detection_spark.ext import domains as DOM  # noqa: E402


def main() -> None:
    n_seen = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    n_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 1024
    spark = bench_session(f"scale_smoke_frontier_bucketed_{n_seen}")
    root = tempfile.mkdtemp(prefix="frontier_bucketed_smoke_")
    try:
        sid = F.col("id")
        canon = F.concat(
            F.lit("https://site"), (sid % 50_000).cast("string"),
            F.lit(".com/page/"), sid.cast("string"),
        )
        seen_src = spark.range(n_seen).select(canon.alias("canonical_url"))
        # FLAT layout (the r9 state of the art) vs BUCKET layout: one
        # file per bucket via a pre-write repartition on the bucket key
        _, flat_write = timed(
            spark,
            lambda: seen_src.repartition(64)
            .write.mode("overwrite")
            .parquet(f"{root}/flat"),
        )
        _, bucket_write = timed(
            spark,
            lambda: DOM.frontier_seen_write(
                seen_src.repartition(
                    64, DOM.frontier_seen_bucket("canonical_url", n_buckets)
                ),
                f"{root}/bucketed",
                n_buckets=n_buckets,
            ),
        )
        print(
            json.dumps(
                {
                    "n_seen": n_seen,
                    "n_batch": n_batch,
                    "n_buckets": n_buckets,
                    "flat_write_s": flat_write["wall_s"],
                    "bucketed_write_s": bucket_write["wall_s"],
                }
            ),
            flush=True,
        )
        # batch: even ids respell a seen URL, odd ids are novel
        bid = F.col("id")
        seen_ref = (bid * 37) % n_seen
        messy = F.concat(
            F.lit("HTTPS://SITE"), (seen_ref % 50_000).cast("string"),
            F.lit(".com:443/page/"), seen_ref.cast("string"),
            F.lit("/?utm_source=smoke"),
        )
        fresh = F.concat(
            F.lit("https://new"), bid.cast("string"), F.lit(".example/p"),
        )
        batch = spark.range(n_batch).select(
            bid.alias("doc_id"),
            F.when(bid % 2 == 0, messy).otherwise(fresh).alias("url"),
        ).localCheckpoint(eager=True)
        n_words = 1 << 7  # batch-sized filter: 100 keys
        results = {}
        for name, seen, kw in [
            ("flat", spark.read.parquet(f"{root}/flat"), {}),
            (
                "bucketed",
                DOM.frontier_seen_read(spark, f"{root}/bucketed"),
                {"seen_bucket_col": "bucket", "n_buckets": n_buckets},
            ),
        ]:
            got, stats = timed(
                spark,
                lambda: sorted(
                    (r["doc_id"], r["canonical_url"])
                    for r in DOM.frontier_novel_urls(
                        batch, seen, "url", "doc_id", n_words=n_words, **kw
                    )
                    .localCheckpoint(eager=True)
                    .collect()
                ),
            )
            results[name] = got
            print(
                json.dumps({"layout": name, "novel": len(got), **stats}),
                flush=True,
            )
        assert results["flat"] == results["bucketed"], "layouts disagree"
        assert len(results["flat"]) == n_batch // 2, len(results["flat"])
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
