"""Distributed BPE: learn a byte-pair-encoding merge table from a corpus
and tokenize documents with it — the vocabulary-induction step of a
training-data pipeline.

Scale split (the shape real BPE trainers use, and the right one at
100 TB):

- the CORPUS-proportional pass is one distributed aggregation — BPE
  statistics depend only on the (word, frequency) table, so the engine
  reduces N documents to at most ``max_words`` weighted words with a
  single hash shuffle (plus a TakeOrdered cap);
- the merge LOOP is inherently sequential (merge k+1's counts depend on
  merge k having been applied), so it runs driver-side over the capped
  word-frequency table with incremental pair-count maintenance — only
  words containing the merged pair are touched per round. The cap
  bounds driver memory by construction (``max_words`` words × word
  length), the same contract as the bounded collects elsewhere in the
  repo (centroids, vocab tops).
- TOKENIZATION is distributed again, and dedup-aware: encode each
  DISTINCT word once (Arrow-batched pandas iterator, broadcast merge
  ranks), then broadcast-join the per-word encodings back onto the
  position-exploded documents and reassemble in order. Re-encoding cost
  scales with |vocabulary|, not corpus tokens.

Word model: lowercase pre-tokens from the same ``BPE_REGEX`` the
token-count heuristic uses (letter runs / digit runs / single symbols),
each word terminated by the ``</w>`` end-of-word symbol; a merge round
merges all non-overlapping occurrences of the best pair left-to-right
(ties: highest count, then lexicographically smallest pair —
deterministic on any engine). ``encode_word`` replays merges in learned
rank order with the identical all-occurrences rule, so encoding the
training corpus reproduces the trainer's final symbol sequences exactly
(property-tested in tests/test_bpe.py).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_fns import norm_text
from ..operators.generate import explode_fused
from ..operators.partitioning import repartition_for_compute
from .text import BPE_REGEX

END = "</w>"
MAX_WORDS = 100_000


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the ``MAX_WORDS`` most frequent pre-tokens (ties by
    word asc), computed with one map-side-combined hash aggregation over
    the corpus — the only corpus-proportional stage of BPE learning."""
    pre = F.regexp_extract_all(norm_text(text_col), F.lit(BPE_REGEX), 0)
    return (
        explode_fused(docs.select(pre.alias("__pre")), "__pre", "word", keep=[])
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(MAX_WORDS)
    )


def _merge_all(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Merge every non-overlapping occurrence of ``pair``, left-to-right."""
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _pairs_of(sym: tuple[str, ...]) -> Counter:
    """Pair multiset of one symbol sequence (adjacent, overlapping)."""
    c: Counter = Counter()
    for a, b in zip(sym, sym[1:]):
        c[(a, b)] += 1
    return c


def learn_merges_from_freqs(
    freq_rows: Iterable[tuple[str, int]],
    n_merges: int = 200,
) -> list[tuple[str, str]]:
    """Sequential BPE merge learning over a (word, freq) inventory with
    incremental pair-count maintenance: per round only the words
    containing the merged pair are re-scanned (pair→words index), so the
    loop is O(n_merges · touched), not O(n_merges · vocab)."""
    words: dict[int, tuple[str, ...]] = {}
    wfreq: dict[int, int] = {}
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for wid, (word, freq) in enumerate(freq_rows):
        sym = tuple(word) + (END,)
        words[wid], wfreq[wid] = sym, int(freq)
        for p, k in _pairs_of(sym).items():
            pair_counts[p] += k * int(freq)
            pair_words[p].add(wid)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        # deterministic argmax: highest weighted count, then smallest pair
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 2:  # a pair seen once is never merged
            break
        merges.append(best)
        for wid in list(pair_words[best]):
            old = words[wid]
            new = _merge_all(old, best)
            f = wfreq[wid]
            delta = _pairs_of(new)
            delta.subtract(_pairs_of(old))
            for p, k in delta.items():
                if k == 0:
                    continue
                pair_counts[p] += k * f
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                if k > 0:
                    pair_words[p].add(wid)
                # k < 0: leave the id in pair_words — stale membership is
                # harmless (a later merge of that pair finds no occurrence
                # and no-ops), a MISSING id would silently corrupt counts
            words[wid] = new
        del pair_counts[best]
        del pair_words[best]
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Tokenize one word by replaying merges in rank order (lowest rank
    first, all non-overlapping occurrences) — the exact inverse-order
    contract of the trainer, so training words round-trip identically."""
    sym: tuple[str, ...] = tuple(word) + (END,)
    while len(sym) > 1:
        ranked = [
            (ranks[p], p)
            for p in set(zip(sym, sym[1:]))
            if p in ranks
        ]
        if not ranked:
            break
        _, best = min(ranked)
        sym = _merge_all(sym, best)
    return list(sym)


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
) -> list[tuple[str, str]]:
    """Distributed corpus pass + sequential merge learning (see module
    docstring for the scale split)."""
    rows = word_freqs(docs, text_col).collect()  # bounded: cap
    return learn_merges_from_freqs([(r["word"], r["freq"]) for r in rows], n_merges)


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bpe_tokens array<string>, n_tokens): tokenize every
    document with a learned merge table.

    Dedup-aware distributed shape: DISTINCT words encode once through an
    Arrow-batched pandas iterator (merge ranks broadcast with the
    closure), the tiny (word → tokens) table broadcast-joins back onto
    the position-exploded corpus, and per-document order is restored
    with an array_sort over (pos, tokens) structs — no window, one
    shuffle (the final per-doc aggregation)."""
    import pandas as pd

    ranks = {p: i for i, p in enumerate(merges)}

    def enc(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "word": b["word"],
                    "toks": [encode_word(w, ranks) for w in b["word"]],
                }
            )

    pre = F.regexp_extract_all(norm_text(text_col), F.lit(BPE_REGEX), 0)
    # posexplode_OUTER + left join: a doc whose normalized text yields no
    # pre-tokens (empty / whitespace-only / NULL text) keeps one
    # (pos=NULL, word=NULL) row, so it reaches the per-doc aggregation and
    # comes back as bpe_tokens=[] instead of silently vanishing from the
    # output (output row count == input doc count, always).
    exploded = repartition_for_compute(docs).select(
        F.col(id_col), F.posexplode_outer(pre).alias("pos", "word")
    )
    distinct_words = (
        exploded.select("word").filter(F.col("word").isNotNull()).distinct()
    )
    encoded = distinct_words.mapInPandas(enc, "word string, toks array<string>")
    per_doc = (
        exploded.join(F.broadcast(encoded), "word", "left")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "toks"))
                        ),
                        lambda s: s["pos"].isNotNull(),
                    ),
                    lambda s: s["toks"],
                )
            ).alias("bpe_tokens")
        )
        .withColumn("n_tokens", F.size("bpe_tokens").cast("long"))
    )
    return per_doc

