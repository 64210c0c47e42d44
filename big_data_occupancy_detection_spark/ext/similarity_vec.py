"""Arrow-vectorized scale paths for the similarity operators.

The Catalyst forms in ``ext/similarity.py`` are the oracle-verified
reference: every dot product is a ``zip_with``/``aggregate`` fold that a
DuckDB SQL oracle can replay bit-for-bit. But higher-order-function
lambdas are *interpreted* per element (never whole-stage-codegen'd), so
at index-build scale — n·k dot products for k-means assignment, Σm² for
per-cluster pair scans — the fold cost dominates wall clock (measured:
~90% of `ivf_topk` at 200k×64 in PERF.md's 100× smoke).

This module swaps exactly those inner loops for numpy matrix products
inside Arrow-batched ``mapInPandas`` / ``applyInPandas`` hops, keeping
the distributed shape IDENTICAL to the reference forms:

- ``assign_nearest_vectorized``: centroid argmax as one batch matmul
  (``X @ C.T``) — a pure *map* (no ×k fan-out crossJoin, no hash
  shuffle; the fold form pays both).
- ``fit_centroids_vectorized``: Lloyd rounds with map-side partial sums
  (k·dim doubles per task) reduced on the driver — the mean step never
  explodes n·dim rows the way ``_mean_centroids`` must to stay in pure
  SQL.
- ``brute_force_topk_vectorized`` / ``ivf_topk_vectorized``: per-batch
  local top-k (numpy argpartition) then a global top-k over the
  ~batches·q·k survivors — the canonical two-level TopK reduction.
- ``semantic_dedup_vectorized``: identical k-means partition + skew
  guard as ``semantic_dedup``, but the per-cell "∃ earlier similar
  member" scan is one m×m matmul per cell via ``applyInPandas``
  (cells are bounded by the mandatory ``max_cluster_size`` cap, so the
  in-task matrix is bounded too).

Numerics: numpy float64 matmul uses pairwise/SIMD summation while the
Catalyst fold sums left-to-right, so results can differ in the last few
ulps. These paths therefore do NOT replace the oracle-registered
queries; they are the serving/index-build fast path, parity-tested
against the fold forms with ulp-tolerant assertions
(`tests/test_similarity_vec.py`) and benchmarked in the 100× smoke.

Reference behavior being accelerated: ml/predict cosine scoring in the
reference app (`ml/train_model.py`) — re-expressed here as distributed
ANN rather than a driver-side loop.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.partitioning import checkpoint_for_reuse, repartition_for_compute
from .similarity import (
    IVF_CENTROIDS,
    IVF_ITERS,
    IVF_PROBES,
    SEMDEDUP_SPLIT_PLANES,
    _seed_centroids,
    _normalized,
    _split_bits,
    with_lsh_bucket,
)

# Query batches are collected to the driver for closure shipping; at
# serving scale a batch is 10¹–10⁴ rows. Guard the accidental "joined the
# whole corpus as queries" misuse instead of OOMing the driver.
MAX_QUERY_BATCH = 10_000


def _round_half_up9(x: np.ndarray) -> np.ndarray:
    """Spark's F.round(double, 9) is HALF_UP — away from zero on the
    half boundary. numpy's round is half-even, and plain
    floor(x·1e9+0.5) rounds half-boundaries toward +inf (wrong for
    NEGATIVE cosines, which real embedding sets do produce); the
    sign-aware form rounds away from zero exactly like Spark."""
    return np.sign(x) * np.floor(np.abs(x) * 1e9 + 0.5) / 1e9


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


def _local_then_global_topk(
    corpus: DataFrame,
    q_ids: np.ndarray,
    Q: np.ndarray,
    k: int,
    vec_col: str,
    id_col: str,
    probe_clusters: dict[int, set[int]] | None = None,
) -> DataFrame:
    """Two-level TopK: per-Arrow-batch numpy top-k per query, then a
    global per-query window over the ~batches·q·k survivors. The corpus
    never shuffles; only the tiny survivor set does."""
    qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    has_probe = probe_clusters is not None

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _to_matrix(pdf[vec_col])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            ids = pdf[id_col].values
            clusters = pdf["cluster"].values if has_probe else None
            out_q, out_id, out_cos = [], [], []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                if has_probe:
                    probe = probe_clusters[int(q_ids[qi])]
                    mask &= np.isin(clusters, list(probe))
                if not mask.any():
                    continue
                # round BEFORE the local top-k and break ties exactly as
                # the global rank does (round(cos,9) desc, vec_id asc):
                # an unrounded argpartition could drop a candidate tied
                # at 9 decimals at the k boundary in favor of a larger
                # vec_id, making results vary with Arrow batch boundaries
                cos = _round_half_up9(Xn[mask] @ qn[qi])
                cand_ids = ids[mask]
                if len(cos) > k:
                    keep = np.lexsort((cand_ids, -cos))[:k]
                    cos, cand_ids = cos[keep], cand_ids[keep]
                out_q.extend([q_ids[qi]] * len(cos))
                out_id.extend(cand_ids)
                out_cos.extend(cos)
            yield pd.DataFrame({"qid": out_q, "vec_id": out_id, "cos": out_cos})

    local = corpus.mapInPandas(part, schema="qid long, vec_id long, cos double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    rows = queries.select(id_col, vec_col).limit(MAX_QUERY_BATCH + 1).collect()
    if len(rows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}; "
            "for corpus-vs-corpus similarity use the near-pairs operators"
        )
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    Q = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    return q_ids, Q


def brute_force_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k, Arrow path — same contract/schema as
    ``brute_force_topk`` but the per-pair fold becomes one matmul per
    (batch, query-set): scan-parallel, zero corpus shuffle."""
    q_ids, Q = _collect_queries(queries, id_col, vec_col)
    c = repartition_for_compute(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
    ).withColumn("cluster", F.lit(0))
    return _local_then_global_topk(c, q_ids, Q, k, vec_col, "vec_id")


def ivf_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k, Arrow path: vectorized k-means fit +
    assignment (the measured 90% of the fold form's wall), then the same
    probed search expressed as the two-level TopK with a per-query
    probed-cluster mask — the corpus is scanned once, never shuffled.

    In production the assigned corpus is persisted bucketed by cluster;
    repeated query batches then skip fit+assign entirely and partition
    pruning turns the mask into skipped splits.
    """
    cent_rows = fit_centroids_vectorized(
        corpus, n_centroids, n_iters, id_col, vec_col
    )
    C = _centroid_matrix(cent_rows)
    q_ids, Q = _collect_queries(queries, id_col, vec_col)
    probes = np.argsort(-(Q @ C.T), axis=1, kind="stable")[:, :n_probes]
    probe_clusters = {int(q): set(map(int, p)) for q, p in zip(q_ids, probes)}
    assigned = assign_nearest_vectorized(corpus, cent_rows, id_col, vec_col)
    return _local_then_global_topk(
        assigned, q_ids, Q, k, vec_col, id_col, probe_clusters
    )


def semantic_dedup_vectorized(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 1000,
    split_planes: int = SEMDEDUP_SPLIT_PLANES,
    plane_dim: int | None = None,
) -> DataFrame:
    """(vid, cluster, dup_of, keep) — ``semantic_dedup`` with the Σm²
    pair scan as one m×m matmul per cell (``applyInPandas`` grouped on
    the same __jkey the fold form joins on).

    The skew-guard cap is MANDATORY here: a cell's vectors sit in one
    task's memory as a dense matrix, so the cap is the memory bound
    (cap·dim doubles + cap² scores). Same keep rule — drop iff an
    earlier-id member of the cell exceeds the threshold — with the same
    HALF_UP-at-9-decimals comparison.
    """
    if max_cluster_size is None:
        raise ValueError("vectorized semantic dedup requires max_cluster_size")
    cent_rows = fit_centroids_vectorized(
        emb, n_centroids, n_iters, id_col, vec_col
    )
    assigned = checkpoint_for_reuse(
        assign_nearest_vectorized(emb, cent_rows, id_col, vec_col)
        .withColumnRenamed(id_col, "vid")
    )
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("__csz"))
    depths = sizes.select(
        "cluster",
        _split_bits(F.col("__csz"), max_cluster_size, split_planes).alias("__b"),
    )
    sub = with_lsh_bucket(
        emb.select(F.col(id_col).alias("vid"), vec_col),
        split_planes,
        vec_col,
        plane_dim,
    ).select("vid", F.col("bucket").alias("__sub"))
    cells = (
        assigned.join(F.broadcast(depths), "cluster")
        .join(sub, "vid")
        .select(
            "vid",
            "cluster",
            vec_col,
            (
                F.col("cluster") * F.lit(1 << split_planes)
                + F.col("__sub").bitwiseAND(F.expr("shiftleft(1, __b)") - F.lit(1))
            ).alias("__jkey"),
        )
    )

    def scan_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid")
        X = _to_matrix(pdf[vec_col])
        n = np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = _round_half_up9((X / n) @ (X / n).T)
        # strictly-lower-triangular mask: candidate earlier-id members
        dup = np.full(len(pdf), -1, dtype=np.int64)
        ids = pdf["vid"].values
        for i in range(1, len(pdf)):
            hits = np.nonzero(S[i, :i] > threshold)[0]
            if len(hits):
                dup[i] = ids[hits[0]]
        out = pd.DataFrame(
            {"vid": ids, "cluster": pdf["cluster"].values, "dup_of": dup}
        )
        return out

    scanned = cells.groupBy("__jkey").applyInPandas(
        scan_cell, schema="vid long, cluster int, dup_of long"
    )
    return scanned.select(
        "vid",
        "cluster",
        F.when(F.col("dup_of") >= 0, F.col("dup_of")).alias("dup_of"),
        (F.col("dup_of") < 0).alias("keep"),
    )


def cluster_outliers_vectorized(
    emb: DataFrame,
    flag_per_cluster: int = 2,
    n_centroids: int = IVF_CENTROIDS,
    n_iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow twin of ``similarity.cluster_outliers``: same md5-seeded
    fit (vectorized Lloyd rounds), then ONE mapInPandas computes the
    argmax assignment AND the cosine-to-own-centroid in the same batch
    matmul — no ×k crossJoin fan-out and no join back to the centroid
    frame. Only the per-cluster ranking window shuffles (slim
    (vid, cluster, cos9) rows). Same semantics up to last-ulp
    assignment flips at cluster boundaries (numpy means differ from SQL
    means in final ulps — the documented `_vec` contract, see
    tests/test_similarity_vec.py)."""
    cent_rows = fit_centroids_vectorized(
        emb, n_centroids, n_iters, id_col=id_col, vec_col=vec_col
    )
    C = _centroid_matrix(cent_rows)
    cn = np.sqrt((C * C).sum(axis=1))
    schema = "vid long, cluster int, cos9 double"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = _to_matrix(pdf[vec_col])
            dots = X @ C.T
            idx = np.argmax(dots, axis=1)  # ties -> first = smallest cid
            xn = np.sqrt((X * X).sum(axis=1))
            cos = dots[np.arange(len(X)), idx] / (xn * cn[idx])
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].values,
                    "cluster": idx.astype(np.int32),
                    "cos9": _round_half_up9(cos),
                }
            )

    src = repartition_for_compute(emb.select(id_col, vec_col))
    scored = src.mapInPandas(part, schema=schema)
    w = Window.partitionBy("cluster").orderBy(F.asc("cos9"), F.asc("vid"))
    return scored.select(
        "vid",
        "cluster",
        F.round("cos9", 6).alias("centroid_cos"),
        F.row_number().over(w).cast("long").alias("rnk"),
    ).withColumn("is_outlier", F.col("rnk") <= flag_per_cluster)
