"""Distributed BPE: merge learning vs a naive reference, encode/round-trip
properties, and the dedup-aware distributed tokenization."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext import bpe

CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new newer"),
    (3, "wider wide widest new low"),
    (4, "the quick brown fox the quick"),
    (5, "low low low low lowest"),
]


def naive_learn(freqs, n_merges, min_freq=2):
    """Independent reference: full pair recount every round."""
    words = {tuple(w) + (bpe.END,): f for w, f in freqs}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for sym, f in words.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pc[best] < min_freq:
            break
        merges.append(best)
        words = {
            bpe._merge_all(sym, best): f for sym, f in words.items()
        }
    return merges, words


def _freqs(corpus):
    c = Counter()
    for _, t in corpus:
        for w in t.split():
            c[w] += 1
    # same ordering contract as word_freqs: freq desc, word asc
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))


def test_incremental_learner_matches_naive_reference():
    freqs = _freqs(CORPUS)
    for n in (1, 3, 8, 50):
        naive, _ = naive_learn(freqs, n)
        fast = bpe.learn_merges_from_freqs(freqs, n_merges=n)
        assert fast == naive, (n, fast, naive)


def test_encode_word_reproduces_trainer_state():
    """Replaying merges by rank must reproduce the trainer's final
    symbol sequence for every training word."""
    freqs = _freqs(CORPUS)
    merges, final_words = naive_learn(freqs, 30)
    ranks = {p: i for i, p in enumerate(merges)}
    for word, _ in freqs:
        want = None
        for sym in final_words:
            if "".join(sym)[: -len(bpe.END)] == word:
                want = list(sym)
                break
        got = bpe.encode_word(word, ranks)
        assert got == want, (word, got, want)
        # reconstruction: token concat strips back to word + END marker
        assert "".join(got) == word + bpe.END


def test_apply_bpe_distributed_matches_driver_encode(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = bpe.learn_bpe_merges(docs, n_merges=20)
    assert merges == naive_learn(_freqs(CORPUS), 20)[0]
    out = {
        r.doc_id: (list(r.bpe_tokens), r.n_tokens)
        for r in bpe.apply_bpe(docs, merges).collect()
    }
    ranks = {p: i for i, p in enumerate(merges)}
    for doc_id, text in CORPUS:
        want = []
        for w in text.split():
            want += bpe.encode_word(w, ranks)
        assert out[doc_id] == (want, len(want)), doc_id
    # tokens reconstruct the normalized text exactly
    for doc_id, text in CORPUS:
        toks, _ = out[doc_id]
        assert "".join(toks).replace(bpe.END, " ").strip() == text


def test_learn_bpe_merges_on_documents_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = bpe.learn_bpe_merges(docs, n_merges=32)
    m2 = bpe.learn_bpe_merges(docs, n_merges=32)
    assert m1 == m2  # deterministic end-to-end
    assert len(m1) == 32
    # learned merges actually compress the corpus
    toks = bpe.apply_bpe(docs.limit(50), m1)
    chars = docs.limit(50).select(
        F.sum(F.length(F.col("text"))).alias("c")
    ).collect()[0]["c"]
    n = toks.select(F.sum("n_tokens").alias("n")).collect()[0]["n"]
    assert 0 < n < chars


def test_apply_bpe_keeps_empty_and_null_docs(spark):
    """Docs whose normalized text yields zero pre-tokens must come back
    as bpe_tokens=[] — never silently vanish (output rows == input docs)."""
    docs = spark.createDataFrame(
        [(1, "hello hello world"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    merges = bpe.learn_bpe_merges(docs, n_merges=8)
    out = {
        r.doc_id: (list(r.bpe_tokens), r.n_tokens)
        for r in bpe.apply_bpe(docs, merges).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    for d in (2, 3, 4):
        assert out[d] == ([], 0)
    assert out[1][1] > 0


def test_doc_bpe_tokens_gate_passes_with_empty_docs(spark, tmp_path):
    """The in-path reconstruction gate must treat an empty doc's expected
    stream as "" (no trailing separator) now that empty docs survive."""
    from big_data_occupancy_detection_spark.plans import textops

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, ""), (3, None), (4, "the cat")],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = textops.doc_bpe_tokens(spark, str(tmp_path)).collect()  # no raise
    assert [r.doc_id for r in rows] == [1, 2, 3, 4]
    assert rows[1].n_tokens == 0 and rows[2].n_tokens == 0

