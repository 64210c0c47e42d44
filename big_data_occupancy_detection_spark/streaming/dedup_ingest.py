"""Streaming incremental near-dedup: a foreachBatch ingest pipeline that
maintains a persisted shingle index and dedups each arriving micro-batch
against it (round-4 VERDICT item 6).

``ext.dedup.cross_corpus_near_dups`` is the batch form: it re-shingles
the WHOLE corpus per call. The production ingest shape keeps the corpus
as a persisted index of pre-hashed shingle sets and pays only
|delta|-proportional work per batch (the measured 65× delta-vs-rerun win
in PERF.md), exactly-once across crashes and restarts.

Index layout under ``index_dir`` (delta-log style — append-only batch
dirs plus a commit marker, never a rewrite of the corpus):

- ``adds/batch-<id>/``      parquet (doc_id, hs array<long>, n_sh) of
  the docs ACCEPTED in that batch. Written with mode=overwrite so a
  replay of an uncommitted batch is idempotent.
- ``decisions/batch-<id>/`` parquet (doc_id, dup_of, keep) for EVERY
  doc of the batch (the operator's output contract, same columns as
  ``cross_corpus_near_dups``). Also overwrite-idempotent.
- ``_commits/<id>``         empty marker created LAST — the commit
  point. Readers and the replay guard consult only committed ids, so a
  crash between the data writes and the marker leaves ignorable
  orphans that the replay overwrites.

Per-batch semantics (deterministic given the batch split; asserted
batch-vs-stream in tests/test_streaming_dedup_ingest.py):

1. a batch doc is a CORPUS dup iff its n-gram Jaccard against any
   committed-accepted doc reaches ``threshold`` (``dup_of`` = smallest
   such corpus id) — identical to ``cross_corpus_near_dups``;
2. among the corpus survivors, a doc is an INTRA-BATCH dup iff it
   near-matches a smaller-id corpus survivor (single-pass min-parent,
   the same convention as the ``ngram_jaccard_pairs`` family —
   ``dup_of`` may itself be a dropped doc, exactly as in the pair
   operators; full transitive collapse is the batch
   ``near_dup_clusters`` operator);
3. survivors of both checks are appended to the index.

Scale shape: the corpus index is SCANNED, never shuffled — the batch's
exploded shingles are broadcast into the join (a micro-batch is small
by construction), and only the (cdoc, ndoc) match stream shuffles for
the per-pair intersection count. On a cluster, write ``adds`` through
the bucketed sink (sources/sinks.py) bucketed by shingle hash to make
repeated ingests shuffle-free on the index side too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext.dedup import with_shingles
from ..functions.rounding import portable_round
from ..functions.text_fns import hash64
from ..operators.generate import explode_fused
from ..operators.partitioning import checkpoint_for_reuse


def _committed_ids(index_dir: str) -> list[int]:
    cdir = os.path.join(index_dir, "_commits")
    if not os.path.isdir(cdir):
        return []
    return sorted(int(n) for n in os.listdir(cdir) if n.isdigit())


def _corpus_index(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(cdoc, hs, n_sh) across every COMMITTED batch, or None if empty."""
    paths = [
        os.path.join(index_dir, "adds", f"batch-{i}")
        for i in _committed_ids(index_dir)
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def read_decisions(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(doc_id, dup_of, keep) across every committed batch."""
    paths = [
        os.path.join(index_dir, "decisions", f"batch-{i}")
        for i in _committed_ids(index_dir)
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _shingled(batch_df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, hs array<long>, n_sh): the stored index row shape —
    hashed distinct shingles + the PRE-hash distinct count, so Jaccard
    denominators match ``cross_corpus_near_dups`` bit-for-bit (hash
    collisions, were one ever to occur, would merge inverted-index rows
    identically in both paths)."""
    return with_shingles(batch_df, text_col, n).select(
        F.col(id_col).alias("doc_id"),
        F.transform("shingles", lambda s: hash64(s)).alias("hs"),
        F.size("shingles").alias("n_sh"),
    )


def _min_parent_dups(
    inv_a: DataFrame, sizes_a: DataFrame, inv_b: DataFrame, sizes_b: DataFrame,
    threshold: float, broadcast_b: bool,
) -> DataFrame:
    """(ndoc, dup_of): smallest a-side near-match per b-side doc.
    ``inv_*`` are exploded (s, {cdoc|ndoc}); the b side broadcasts when
    it is a bounded micro-batch so the a side (the corpus) only scans."""
    right = F.broadcast(inv_b) if broadcast_b else inv_b
    inter = (
        inv_a.join(right, "s")
        .groupBy("cdoc", "ndoc")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = portable_round(
        F.col("inter") / (F.col("n_c") + F.col("n_n") - F.col("inter")), 6
    )
    return (
        inter.join(sizes_a, "cdoc")
        .join(sizes_b, "ndoc")
        .filter(jac >= threshold)
        .groupBy("ndoc")
        .agg(F.min("cdoc").alias("dup_of"))
    )


def apply_near_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> None:
    """Apply one micro-batch: corpus check → intra-batch check → append
    accepted docs + decisions → commit marker. Idempotent on replay of
    an uncommitted batch; a no-op for a committed one."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    if batch_id in set(_committed_ids(index_dir)):
        return  # replay after a post-commit crash: already applied
    sh = checkpoint_for_reuse(_shingled(batch_df, text_col, id_col, n))
    inv_n = explode_fused(sh, "hs", "s", keep=["doc_id"]).select(
        F.col("doc_id").alias("ndoc"), "s"
    )
    sizes_n = sh.select(F.col("doc_id").alias("ndoc"), F.col("n_sh").alias("n_n"))
    corpus = _corpus_index(spark, index_dir)
    if corpus is not None:
        inv_c = explode_fused(corpus, "hs", "s", keep=["doc_id"]).select(
            F.col("doc_id").alias("cdoc"), "s"
        )
        sizes_c = corpus.select(
            F.col("doc_id").alias("cdoc"), F.col("n_sh").alias("n_c")
        )
        corpus_dups = _min_parent_dups(
            inv_c, sizes_c, inv_n, sizes_n, threshold, broadcast_b=True
        )
    else:
        corpus_dups = None
    survivors = checkpoint_for_reuse(
        sh.join(corpus_dups, sh.doc_id == corpus_dups.ndoc, "left_anti")
        if corpus_dups is not None
        else sh
    )
    # intra-batch: min-parent among corpus survivors (a < b on id)
    inv_s = explode_fused(survivors, "hs", "s", keep=["doc_id"])
    intra = _min_parent_dups(
        inv_s.select(F.col("doc_id").alias("cdoc"), "s"),
        survivors.select(F.col("doc_id").alias("cdoc"), F.col("n_sh").alias("n_c")),
        inv_s.select(F.col("doc_id").alias("ndoc"), "s"),
        survivors.select(F.col("doc_id").alias("ndoc"), F.col("n_sh").alias("n_n")),
        threshold,
        broadcast_b=False,
    ).filter(F.col("dup_of") < F.col("ndoc"))
    dups = intra if corpus_dups is None else corpus_dups.unionByName(intra)
    # corpus dup wins when both exist (min over both parents is the
    # corpus one only if smaller — take the overall min, deterministic)
    dups = dups.groupBy("ndoc").agg(F.min("dup_of").alias("dup_of"))
    decisions = checkpoint_for_reuse(
        sh.select("doc_id")
        .join(dups, sh.doc_id == dups.ndoc, "left_outer")
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )
    accepted = sh.join(
        decisions.filter("keep").select("doc_id"), "doc_id"
    )
    accepted.write.mode("overwrite").parquet(
        os.path.join(index_dir, "adds", f"batch-{batch_id}")
    )
    decisions.write.mode("overwrite").parquet(
        os.path.join(index_dir, "decisions", f"batch-{batch_id}")
    )
    cdir = os.path.join(index_dir, "_commits")
    os.makedirs(cdir, exist_ok=True)
    # marker creation is the atomic commit point
    open(os.path.join(cdir, str(batch_id)), "a").close()


def near_dedup_ingest_sink(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
):
    """Start the checkpointed foreachBatch ingest query. Exactly-once:
    Spark's checkpoint replays an in-flight batch with the same
    batch_id after a crash/restart, and ``apply_near_dedup_batch``'s
    commit markers make the replay idempotent."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_near_dedup_batch(
            batch_df, batch_id, index_dir,
            text_col=text_col, id_col=id_col, n=n, threshold=threshold,
        )

    return (
        docs_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
