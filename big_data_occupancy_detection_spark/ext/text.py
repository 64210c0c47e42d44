"""Text analysis operators — language ID, quality scoring, token counting,
document fingerprinting. All pure Catalyst expressions (JVM-side, codegen),
scan-parallel with zero shuffles until the final aggregate, so they scale
linearly to a 100 TB documents table.

Engine-parity design: every constant (marker lists, regexes, hash recipe)
lives here once and is consumed by BOTH the Spark expression builders and
the DuckDB oracle-SQL builders in ``plans/textops.py``, so the two sides
can never drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..operators.generate import explode_fused
from ..operators.partitioning import repartition_for_compute

from ..functions.text_fns import char_ngrams, md5_hash64, norm_text, tokens

# Marker vocabularies for the language-ID heuristic. A deterministic
# marker-token scoring (argmax of per-language marker hits with a fixed
# tie-break priority) — the classic stopword-profile approach compressed
# to an oracle-reproducible form.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "is", "and", "of"],
    "es": ["el", "la", "los", "y", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了", "在", "和"],
}
LANG_PRIORITY = ["en", "es", "de", "fr", "zh"]  # tie-break order

# BPE-ish word/number/punctuation tokenizer (same regex class semantics in
# Java regex and RE2/DuckDB): runs of letters, runs of digits, or a single
# non-space-non-alnum symbol.
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

EN_STOPWORDS = ["the", "a", "an", "is", "and", "of", "to", "in"]


def marker_score(text_col: Column | str, lang: str) -> Column:
    """Number of token occurrences that are markers of ``lang``."""
    markers = LANG_MARKERS[lang]
    return F.size(
        F.filter(
            tokens(text_col),
            lambda t: t.isin(*markers),
        )
    )


def lang_id(text_col: Column | str) -> Column:
    """argmax over language marker scores, ties broken by LANG_PRIORITY."""
    scores = {lang: marker_score(text_col, lang) for lang in LANG_PRIORITY}
    expr = F.lit(LANG_PRIORITY[-1])
    # Build the CASE chain back-to-front so earlier (higher-priority)
    # languages win ties: lang_i wins iff score_i >= score_j for all j>i
    # and score_i > score_j comparisons already consumed for j<i.
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[i]
        cond = None
        for other in LANG_PRIORITY[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def token_count_bpe(text_col: Column | str) -> Column:
    """BPE-ish regex token count (letters / digits / single symbols)."""
    return F.size(F.regexp_extract_all(norm_text(text_col), F.lit(BPE_REGEX), 0))


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: length, token stats, stopword ratio."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_char = F.length(norm_text(text_col))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return {
        "n_chars_norm": n_char.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "avg_token_len": (n_char - (n_tok - 1)).cast("double") / n_tok,
        "stopword_ratio": stop_hits.cast("double") / n_tok,
        "distinct_token_ratio": F.size(F.array_distinct(toks)).cast("double") / n_tok,
    }


def quality_score(text_col: Column | str) -> Column:
    """Composite quality score in [0,1]: favors mid-length documents with a
    natural stopword rate and lexical diversity (Gopher-style heuristics
    reduced to a deterministic closed form)."""
    f = quality_features(text_col)
    len_score = F.least(f["n_tokens"] / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    div_score = f["distinct_token_ratio"]
    return (len_score + stop_score + div_score) / 3.0


def fingerprint_md5(text_col: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the normalized text."""
    return F.md5(norm_text(text_col))


def fingerprint_rolling_min(text_col: Column | str, n: int = 5) -> Column:
    """Winnowing-style content fingerprint: minimum 60-bit hash over all
    character n-grams — stable under local edits elsewhere in the document.

    The per-gram hash is the portable md5 family, so the DuckDB oracle
    replays the same fingerprint.
    """
    return F.array_min(F.transform(char_ngrams(text_col, n), md5_hash64))


def bm25_rank(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, bm25) — top-``k`` documents for a bag-of-terms query under
    BM25 (Robertson/Sparck Jones probabilistic idf, ln(1 + (N-df+.5)/(df+.5))).

    Shuffle shape at corpus scale: one shuffle builds the (doc, term) posting
    counts (the explode is filtered to the query's terms BEFORE the
    aggregation, so only matching tokens ever shuffle); per-term document
    frequencies and the global (N, avgdl) scalars are broadcast back onto the
    postings; the final top-k is orderBy+limit — Spark's TakeOrdered, a
    per-partition heap + driver merge of k rows, never a global sort.
    Document length rides the posting rows (functionally dependent on
    doc_id), so the corpus is scanned exactly once.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")
    ).withColumn("dl", F.size("t"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    posts = (
        explode_fused(base, "t", "term", keep=["doc_id", "dl"])
        .filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    ) * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        posts.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, start_tok, n_toks, chunk_text) — overlapping
    fixed-token windows, the shaping step before tokenized training
    batches or RAG embedding. Chunk k covers tokens [k·stride,
    k·stride + window); the last chunk is the first whose window reaches
    the end of the document (short tails are NOT emitted as extra
    chunks). A doc of ≤ ``window`` tokens yields exactly one chunk.

    Scale shape: pure map — tokenize once, explode a
    ``sequence(0, n_chunks-1)`` and slice the token array per chunk; no
    shuffle at all (the common follow-up, writing chunks bucketed by
    doc_id, is where the one exchange appears). The chunk count is
    integer arithmetic (no float ceil — engines disagree on half-ulp
    boundaries): n_chunks = 1 + (max(n_tok - window, 0) + stride - 1)
    div stride.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    base = repartition_for_compute(docs).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t")
    )
    nt = F.size("__t")
    base = base.withColumn(
        "__nc", (F.lit(1) + F.floor(
            (F.greatest(nt - F.lit(window), F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        )).cast("long")
    )
    ch = explode_fused(
        base,
        F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1),
        "chunk_id",
        keep=["doc_id", "__t"],
    )
    start = (F.col("chunk_id") * stride).cast("int")
    piece = F.slice(F.col("__t"), start + F.lit(1), F.lit(window))
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_toks"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def vocab_coverage(
    docs: DataFrame,
    top_n: int = 500,
    text_col: str = "text",
) -> DataFrame:
    """(rank, token, freq, cum_share) — the ``top_n`` corpus vocabulary by
    frequency with cumulative token coverage (what share of all token
    occurrences the first r vocabulary entries explain) — the sizing curve
    for tokenizer vocab / OOV-rate decisions.

    Scale shape: one map-side-combined groupBy(token) count, a broadcast
    1-row total, and orderBy+limit — Spark's TakeOrdered (per-partition
    heap, k-row driver merge), NEVER a global sort/window over the full
    vocabulary. Only the ``top_n`` survivors see a window function, and
    that window is a single tiny task by construction.
    """
    freqs = (
        explode_fused(
            repartition_for_compute(docs).select(tokens(text_col).alias("__t")),
            "__t",
            "token",
            keep=[],
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = freqs.agg(F.sum("freq").alias("__tot"))
    top = freqs.orderBy(F.desc("freq"), "token").limit(top_n)
    w = (
        Window.orderBy(F.desc("freq"), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rw = Window.orderBy(F.desc("freq"), "token")
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(rw).cast("long").alias("rank"),
            "token",
            F.col("freq").cast("long").alias("freq"),
            portable_round(
                F.sum("freq").over(w).cast("double") / F.col("__tot"), 6
            ).alias("cum_share"),
        )
    )


def _word_ngrams(tk: Column, n: int) -> Column:
    """Array of space-joined word n-grams (NON-distinct — counts matter
    for repetition metrics). Empty when the doc has fewer than ``n``
    tokens (guarded: Spark's ``sequence(1, 0)`` would step DOWNWARD)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - (n - 1)),
        lambda i: F.array_join(F.slice(tk, i, n), " "),
    )
    return F.when(F.size(tk) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style WITHIN-document repetition metrics — the quality
    filters that catch boilerplate/spam pages the corpus-level dedup
    operators cannot see (a page repeating its own nav bar 50 times is
    unique corpus-wide):

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of lines
      (and of line characters, weighting each occurrence beyond the
      first) that duplicate another line of the SAME document. Lines
      come from the RAW text (normalization collapses newlines),
      trimmed, empties dropped.
    - ``top_bigram_cover_frac``: max character coverage of any single
      word 2-gram (count × gram length / normalized chars).
    - ``dup_5gram_frac``: fraction of word-5-gram occurrences whose
      gram occurs more than once in the document.

    Scale shape: three hash shuffles (per-doc line / 2-gram / 5-gram
    counts, all map-side combined) re-joined on ``doc_id`` — no per-doc
    O(len²) array HOFs, so a pathological 100k-line doc costs its token
    volume, not its square. Ratios are single int/int double divisions
    + ``portable_round`` so a DuckDB oracle reproduces them bit-for-bit.
    """
    base = repartition_for_compute(docs).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    )
    lines = base.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(F.split("__t", "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        ).alias("line"),
    )
    ldoc = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("len", F.length("line"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_lines"),
            F.count(F.lit(1)).alias("nd"),
            F.sum((F.col("c") - 1) * F.col("len")).alias("dupch"),
            F.sum(F.col("c") * F.col("len")).alias("totch"),
        )
    )
    g2doc = (
        base.select("doc_id", F.explode(_word_ngrams(tokens("__t"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max(F.col("c") * F.length("g")).alias("max2cover"))
    )
    g5doc = (
        base.select("doc_id", F.explode(_word_ngrams(tokens("__t"), 5)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
            ).alias("dup_occ"),
            F.sum("c").alias("tot_occ"),
        )
    )
    nch = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(norm_text(text_col)).alias("nchars"),
    )
    return (
        nch.join(ldoc, "doc_id", "left")
        .join(g2doc, "doc_id", "left")
        .join(g5doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            portable_round(
                F.when(
                    F.col("n_lines") > 0,
                    (F.col("n_lines") - F.col("nd")) / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_line_frac"),
            portable_round(
                F.when(
                    F.col("totch") > 0, F.col("dupch") / F.col("totch")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_line_char_frac"),
            portable_round(
                F.when(
                    F.col("nchars") > 0,
                    F.coalesce("max2cover", F.lit(0)) / F.col("nchars"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_bigram_cover_frac"),
            portable_round(
                F.when(
                    F.col("tot_occ") > 0, F.col("dup_occ") / F.col("tot_occ")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_5gram_frac"),
        )
    )
