"""Arrow k-means behind the IVF-PQ index build.

``pq_index.build_ivfpq_index`` partitions its code table by a coarse
IVF cluster. That partitioning carries no result contract (probing all
clusters reproduces the plain PQ index under any assignment), so the
coarse fit and assignment run here as numpy matrix products inside
Arrow-batched ``mapInPandas`` hops instead of the interpreted
``zip_with``/``aggregate`` folds of ``ext/similarity.py`` (measured:
the whole IVF-PQ build 213 s → 68 s at 200k×64, PERF.md):

- ``fit_centroids_vectorized``: spherical k-means from the same
  md5-seeded start as the fold form; Lloyd rounds with map-side partial
  sums (k·dim doubles per task) reduced on the driver.
- ``assign_nearest_vectorized``: centroid argmax as one batch matmul
  (``X @ C.T``), a pure map with no ×k crossJoin fan-out and no shuffle.
  ``tests/test_similarity_vec.py`` checks it against the fold form's
  ``_assign_nearest``.

``MAX_QUERY_BATCH`` caps the query batch that ``pq_index._capped_qn``
pins for the serve paths.

No score that a registry query returns is computed here. Scores come
from the fold forms, whose left-to-right sums DuckDB replays bit for
bit; numpy's pairwise summation can differ in the last ulps. This module
only decides which coarse partition a vector lands in.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..operators.partitioning import repartition_for_compute
from .similarity import IVF_CENTROIDS, IVF_ITERS, _normalized, _seed_centroids

# A serve-path query batch is pinned and fans out against every LUT or
# probe row; at serving scale it is 10¹–10⁴ rows. Guard the accidental
# "joined the whole corpus as queries" misuse instead of OOMing.
MAX_QUERY_BATCH = 10_000


def _to_matrix(series: pd.Series) -> np.ndarray:
    """Stack an Arrow list<float> column into an (n, dim) float64 matrix."""
    return np.array([np.asarray(v, dtype=np.float64) for v in series])


def _centroid_matrix(cent_rows: list[tuple[int, list[float]]]) -> np.ndarray:
    """(k, dim) float64 matrix ordered by cid — np.argmax's first-max
    tie-break then lands on the smallest cid, matching the fold form's
    ``max_by(cid, struct(dot, -cid))``."""
    rows = sorted(cent_rows)
    if [c for c, _ in rows] != list(range(len(rows))):
        raise ValueError("centroid ids must be dense 0..k-1")
    return np.array([v for _, v in rows], dtype=np.float64)


def collect_centroids(cent: DataFrame) -> list[tuple[int, list[float]]]:
    """Materialize a (cid, __cent) centroid frame to driver rows
    (k·dim doubles — constant in corpus size)."""
    return sorted((int(r["cid"]), list(r["__cent"])) for r in cent.collect())


def assign_nearest_vectorized(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cluster, vec): argmax-dot centroid assignment as a pure map.

    One batch matmul per Arrow batch — no crossJoin fan-out, no shuffle
    (the fold-based ``_assign_nearest`` pays a ×k row blow-up plus one
    hash exchange to undo it). Ties break to the smallest cid like the
    fold form. Centroids travel in the task closure (k·dim doubles).
    """
    C = _centroid_matrix(cent_rows)
    schema = f"{id_col} long, cluster int, {vec_col} array<float>"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _to_matrix(pdf[vec_col])
            idx = np.argmax(X @ C.T, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cluster": idx.astype(np.int32),
                    vec_col: pdf[vec_col].values,
                }
            )

    src = repartition_for_compute(df.select(id_col, vec_col))
    return src.mapInPandas(part, schema=schema)


def fit_centroids_vectorized(
    emb: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Spherical k-means fit, Arrow path: same md5-seeded start as the
    fold form, Lloyd rounds with map-side partial sums.

    Each round is one map job emitting ≤ k rows per task (cluster,
    partial sum, count) — the driver reduces ~tasks·k tiny rows into the
    next centroid matrix. The SQL form's mean step must posexplode n·dim
    rows to stay agg-parallel; here the partial-sum matrix lives in task
    memory (k·dim doubles) and the explosion never happens. Empty
    clusters keep their previous centroid (the fold form drops them —
    both are standard Lloyd choices; this one keeps cid density so the
    argmax index stays aligned).
    """
    normed = _normalized(emb, id_col, vec_col)
    cent_rows = collect_centroids(_seed_centroids(normed, n_centroids))
    dim = len(cent_rows[0][1])
    k = len(cent_rows)
    src = repartition_for_compute(normed).persist()
    try:
        for _ in range(n_iters):
            C = _centroid_matrix(cent_rows)

            def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                sums = np.zeros((k, dim))
                counts = np.zeros(k, dtype=np.int64)
                for pdf in batches:
                    if pdf.empty:
                        continue
                    X = _to_matrix(pdf["nvec"])
                    idx = np.argmax(X @ C.T, axis=1)
                    np.add.at(sums, idx, X)
                    counts += np.bincount(idx, minlength=k)
                hit = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "cluster": hit.astype(np.int32),
                        "psum": [sums[i] for i in hit],
                        "cnt": counts[hit],
                    }
                )

            rows = src.mapInPandas(
                partials, schema="cluster int, psum array<double>, cnt long"
            ).collect()
            sums = np.zeros((k, dim))
            counts = np.zeros(k, dtype=np.int64)
            for r in rows:
                sums[r["cluster"]] += np.asarray(r["psum"])
                counts[r["cluster"]] += r["cnt"]
            nxt = C.copy()
            hit = counts > 0
            nxt[hit] = sums[hit] / counts[hit, None]
            cent_rows = [(i, list(nxt[i])) for i in range(k)]
        return cent_rows
    finally:
        src.unpersist()
