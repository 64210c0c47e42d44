"""End-to-end training-data export: BPE tokenize -> pack.

Composes two production stages a pretraining exporter runs —
distributed BPE encoding (``ext.bpe``) and fixed-budget sequence packing
(``ext.curation.pack_sequences``) — and asserts the chain's invariants
hold end to end, not just per stage: token counts flow unchanged into
the packer, and bin boundaries are the exact exclusive prefix sums.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext import bpe as BPE
from big_data_occupancy_detection_spark.ext.curation import pack_sequences
from big_data_occupancy_detection_spark.sources.readers import table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
BUDGET = 256


@pytest.fixture(scope="module")
def exported(spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    merges = BPE.learn_bpe_merges(docs, n_merges=32)
    toks = BPE.apply_bpe(docs, merges)  # (doc_id, bpe_tokens, n_tokens)
    export = pack_sequences(
        toks, BUDGET, token_count_col="n_tokens", id_col="doc_id"
    ).withColumnRenamed("doc", "doc_id")
    # (doc_id, n_tok, start_offset, bin_start, bin_end)
    return docs, toks, export


def test_token_counts_flow_into_packer_unchanged(spark, exported):
    docs, toks, export = exported
    n_docs = docs.count()
    assert export.count() == n_docs
    # the packer received the BPE counts, not a recount of its own
    mismatched = (
        export.join(toks, "doc_id")
        .filter(F.col("n_tok") != F.col("n_tokens"))
        .count()
    )
    assert mismatched == 0
    bad_bins = export.filter(
        (F.col("bin_start") != F.floor(F.col("start_offset") / BUDGET))
        | (
            F.col("bin_end")
            != F.floor((F.col("start_offset") + F.col("n_tok") - 1) / BUDGET)
        )
    ).count()
    assert bad_bins == 0


def test_offsets_are_exact_exclusive_prefix_sums(exported):
    _, _, export = exported
    rows = (
        export.select("doc_id", "n_tok", "start_offset")
        .orderBy("doc_id")
        .collect()
    )
    running = 0
    for r in rows:
        assert r.start_offset == running, r
        running += r.n_tok

