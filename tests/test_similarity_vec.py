"""The Arrow k-means behind the IVF-PQ build, checked against the
oracle-verified Catalyst-fold forms, and the query-batch cap of the
persisted-index serve paths.

numpy matmul sums pairwise/SIMD while the fold sums left-to-right, so
cosines can differ in the last ulps — the assignment assertion therefore
tolerates last-ulp boundary flips rather than demanding hash equality.
The fold forms keep the DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext import pq_index as pqx
from big_data_occupancy_detection_spark.ext import similarity as sim
from big_data_occupancy_detection_spark.ext import similarity_vec as simv


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


def test_assignment_parity(emb):
    """Vectorized argmax assignment == fold-based assignment (same
    centroids, same tie-break) for every vector."""
    normed = sim._normalized(emb, "vec_id", "embedding")
    cent = sim._fit_centroids(normed, 16, 1)
    cent_rows = simv.collect_centroids(cent)
    fold = sim._assign_nearest(
        emb.select(F.col("vec_id"), "embedding"), cent, "vec_id", "embedding"
    ).select("vec_id", "cluster")
    vec = simv.assign_nearest_vectorized(emb, cent_rows, "vec_id", "embedding")
    fold_map = {r["vec_id"]: r["cluster"] for r in fold.collect()}
    vec_map = {r["vec_id"]: r["cluster"] for r in vec.select("vec_id", "cluster").collect()}
    assert set(fold_map) == set(vec_map)
    disagree = [v for v in fold_map if fold_map[v] != vec_map[v]]
    # identical argmax except possible last-ulp boundary flips
    assert len(disagree) <= max(1, len(fold_map) // 100), disagree[:5]


def test_query_batch_guard(spark):
    """The persisted-index serve paths (`pq_topk_from_index`,
    `ivfpq_topk_from_index`, `sq8_topk_from_index`) pin their query batch
    through `_capped_qn`, which refuses more than MAX_QUERY_BATCH rows."""
    big = spark.range(simv.MAX_QUERY_BATCH + 1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.1)] * 4).alias("embedding"),
    )
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        pqx._capped_qn(big, "vec_id", "embedding")
