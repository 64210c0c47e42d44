"""Scale smoke for crawl-frontier incremental URL dedup (round-9 item 6).

The 100 TB shape: the SEEN set is huge (every URL ever fetched), the
discovered batch is small. frontier_novel_urls must ride a map-only
literal Bloom of the batch down the seen scan — the seen set is never
shuffled, never exploded, never joined in full; only bloom survivors
(~|batch∩seen| + FP·|seen|) reach the broadcast anti-join.

Usage: python scripts/scale_smoke_frontier.py [n_seen] [n_batch]
(defaults 5,000,000 seen x 10,000 batch — half of the batch planted as
messy respellings of seen URLs, half novel; exact hit arithmetic is
asserted, wall + shuffle bytes printed.)
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from measure import bench_session, timed  # noqa: E402

from big_data_occupancy_detection_spark.ext import domains as DOM  # noqa: E402


def main() -> None:
    n_seen = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    spark = bench_session(f"scale_smoke_frontier_{n_seen}")
    sid = F.col("id")
    canon = F.concat(
        F.lit("https://site"), (sid % 50_000).cast("string"),
        F.lit(".com/page/"), sid.cast("string"),
    )
    seen = (
        spark.range(n_seen).select(canon.alias("canonical_url"))
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    # batch: even ids respell a seen URL (case + default port + tracking
    # params + trailing slash -> canonicalization must collapse them);
    # odd ids are novel resources
    bid = F.col("id")
    seen_ref = (bid * 37) % n_seen
    messy = F.concat(
        F.lit("HTTPS://SITE"), (seen_ref % 50_000).cast("string"),
        F.lit(".com:443/page/"), seen_ref.cast("string"),
        F.lit("/?utm_source=smoke&fbclid=x"),
    )
    fresh = F.concat(
        F.lit("https://new"), bid.cast("string"), F.lit(".example/page"),
    )
    batch = spark.range(n_batch).select(
        bid.alias("doc_id"),
        F.when(bid % 2 == 0, messy).otherwise(fresh).alias("url"),
    )
    # batch-sized filter: 10k keys / 3 words-per-key at ~1% FP, k=5
    n_words = 1 << 13
    n_novel, stats = timed(
        spark,
        lambda: DOM.frontier_novel_urls(
            batch, seen, "url", "doc_id", n_words=n_words
        )
        .localCheckpoint(eager=True)
        .count(),
    )
    # exact arithmetic: every even doc_id collapses into a seen URL,
    # every odd one is novel
    expect = n_batch // 2
    assert n_novel == expect, (n_novel, expect)
    print(
        json.dumps(
            {
                "n_seen": n_seen,
                "n_batch": n_batch,
                "novel": n_novel,
                **stats,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
