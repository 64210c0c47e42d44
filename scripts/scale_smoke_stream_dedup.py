"""Streaming near-dedup ingest throughput smoke (PERF.md, round 5).

Seeds the persisted shingle index with a replicated sf0.1 corpus, then
ingests successive micro-batches through ``apply_near_dedup_batch`` (the
exact foreachBatch core the stream runs) and measures PER-BATCH wall as
the committed corpus grows. The scale claim under test: per-batch cost
is proportional to the BATCH (the batch side of the match join is
broadcast; the corpus index is scanned, never shuffled), so batch walls
stay ~flat while the corpus grows — the delta-proportional ingest shape.

Each batch is half exact duplicates of corpus docs (exercising the
match-pair stream) and half fresh docs (every word suffixed with the
batch id, so every shingle is new — exercising index growth).

Usage: python scripts/scale_smoke_stream_dedup.py [R] [n_batches]
       R = corpus replication of sf0.1 documents (default 10 -> 50k docs)
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

from big_data_occupancy_detection_spark.session import DEFAULT_SF_DIR as SF_DIR  # noqa: E402
from big_data_occupancy_detection_spark.sources.readers import table  # noqa: E402
from big_data_occupancy_detection_spark.streaming.dedup_ingest import (  # noqa: E402
    apply_near_dedup_batch,
)


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = bench_session(f"stream_dedup_smoke_{r}x")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("__k"),
        )
        .select((F.col("doc_id") * r + F.col("__k")).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    n0 = corpus.count()
    batch_n = max(n0 // 10, 1000)
    index_dir = tempfile.mkdtemp(prefix="smoke_dedup_idx_")
    try:
        _, seed = timed(spark, lambda: apply_near_dedup_batch(corpus, 0, index_dir))
        print(json.dumps({"seed_docs": n0, "seed_wall_s": seed["wall_s"]}),
              flush=True)
        base = corpus.limit(batch_n).localCheckpoint(eager=True)
        for b in range(1, n_batches + 1):
            half = batch_n // 2
            dups = base.limit(half).select(
                (F.col("doc_id") + 10_000_000 * b).alias("doc_id"), "text"
            )
            fresh = (
                base.orderBy("doc_id").limit(batch_n).subtract(base.limit(half))
                .select(
                    (F.col("doc_id") + 20_000_000 * b).alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.split("text", " "),
                            lambda w: F.concat(w, F.lit(f"_{b}")),
                        ),
                    ).alias("text"),
                )
            )
            batch = dups.unionByName(fresh).localCheckpoint(eager=True)
            nb = batch.count()
            _, stats = timed(
                spark, lambda: apply_near_dedup_batch(batch, b, index_dir)
            )
            print(
                json.dumps(
                    {
                        "batch": b,
                        "batch_docs": nb,
                        "corpus_docs_before": n0 + (b - 1) * (nb - nb // 2),
                        "docs_per_s": round(nb / stats["wall_s"], 0),
                        **stats,
                    }
                ),
                flush=True,
            )
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
