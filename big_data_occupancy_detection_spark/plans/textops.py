"""Text / dedup / similarity / multimodal plans over documents+embeddings.

The oracle SQL for these is BUILT programmatically from the same constants
(hash recipe, marker lists, seeds, band layout) the Spark operators use —
see ``ext.text`` / ``ext.dedup`` / ``ext.similarity`` — so both sides
compute byte-identical signatures.

DuckDB building blocks mirrored against Spark:
  norm      trim(regexp_replace(lower(text),'\\s+',' ','g'))   ⇔ functions.text_fns.norm_text
  tokens    regexp_split_to_array(norm, ' ')                   ⇔ tokens
  hash64_sql(e) CAST(('0x'||substr(md5(e),1,15)) AS BIGINT)    ⇔ md5_hash64 (60-bit, portable)
  shingles  list_distinct(list_transform(range...))            ⇔ with_shingles
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext import dedup as D
from ..ext import multimodal as MM
from ..ext import similarity as SIM
from ..ext import text as TX
from ..functions.rounding import portable_round, portable_round_sql
from ..operators.partitioning import checkpoint_for_reuse, repartition_for_compute
from ..sources.readers import table
from .registry import register

# ---------------------------------------------------------------- SQL helpers

NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
TOKENS_SQL = f"regexp_split_to_array({NORM_SQL}, ' ')"


def hash64_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len(t) - 2, 1) + 1), "
    "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))"
)

_TOKS_CTE = f"toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)"
# NULL-text exclusion variant (r7 null fuzz): queries whose Spark twin
# drops NULL-text docs structurally (signature aggregates see no token
# rows) pair with this CTE so both engines operate on the same corpus —
# the unfiltered CTE yields t=NULL rows DuckDB folds into spurious
# signature-0 groups.
_TOKS_NN_CTE = (
    f"toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents"
    " WHERE text IS NOT NULL)"
)
_SH_CTE = f"sh AS (SELECT doc_id, {SHINGLES_SQL} AS shingles FROM toks)"


# --------------------------------------------------------------------------
# q23 — text statistics + quality score (token counting, quality heuristics).
# --------------------------------------------------------------------------
_STOPS = ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS)

_TEXT_STATS_ORACLE = f"""
WITH {_TOKS_CTE},
feat AS (
  SELECT doc_id,
         length({NORM_SQL}) AS n_char,
         len(t) AS n_tok,
         len(regexp_extract_all({NORM_SQL}, '{TX.BPE_REGEX}')) AS n_bpe,
         len(list_filter(t, x -> list_contains([{_STOPS}], x))) AS stop_hits,
         len(list_distinct(t)) AS n_distinct
  FROM documents JOIN toks USING (doc_id))
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_bpe AS BIGINT) AS n_tokens_bpe,
       (floor(CAST((CAST(n_char - (n_tok - 1) AS DOUBLE) / n_tok) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS avg_token_len,
       (floor(CAST((CAST(stop_hits AS DOUBLE) / n_tok) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS stopword_ratio,
       (floor(CAST((CAST(n_distinct AS DOUBLE) / n_tok) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS distinct_token_ratio,
       (floor(CAST(((least(n_tok / 50.0, 1.0)
              + least((CAST(stop_hits AS DOUBLE) / n_tok) * 5.0, 1.0)
              + CAST(n_distinct AS DOUBLE) / n_tok) / 3.0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS quality
FROM feat
"""


@register("text_stats", oracle=_TEXT_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    f = TX.quality_features("text")
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        TX.token_count_bpe("text").cast("long").alias("n_tokens_bpe"),
        portable_round(f["avg_token_len"], 6).alias("avg_token_len"),
        portable_round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        portable_round(f["distinct_token_ratio"], 6).alias("distinct_token_ratio"),
        portable_round(TX.quality_score("text"), 6).alias("quality"),
    )


# --------------------------------------------------------------------------
# q24 — language ID (marker-profile argmax with fixed tie-break priority).
# --------------------------------------------------------------------------
def _lang_oracle() -> str:
    score_cols = []
    for lang in TX.LANG_PRIORITY:
        marks = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(t, x -> list_contains([{marks}], x))) AS s_{lang}"
        )
    cases = []
    prio = TX.LANG_PRIORITY
    for i, lang in enumerate(prio[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in prio[i + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{prio[-1]}' END"
    return f"""
    WITH {_TOKS_CTE},
    scores AS (SELECT doc_id, {', '.join(score_cols)} FROM toks)
    SELECT d.doc_id, d.lang, {case_sql} AS pred_lang
    FROM documents d JOIN scores USING (doc_id)
    """


@register("lang_id_pred", oracle=_lang_oracle())
def lang_id_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", TX.lang_id("text").alias("pred_lang"))


# --------------------------------------------------------------------------
# q — Gopher-style within-document repetition metrics (ext.text.
# repetition_features): dup-line fractions over the RAW text's lines,
# max single-bigram character coverage, duplicate 5-gram occurrence
# fraction — the boilerplate/spam filters corpus-level dedup cannot see.
# Complements plans/curation.repetition_filter, which covers the
# TOKEN-level pair of Gopher signals (top-token fraction, distinct-
# bigram fraction + keep rule); this adds the line-level and long-gram
# rows of the Gopher table. All ratios are one int/int double division
# + portable_round, so the oracle replays them bit-for-bit.
# --------------------------------------------------------------------------
def _repetition_oracle() -> str:
    from ..functions.rounding import portable_round_sql as prs

    return f"""
    WITH lraw AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents
    ),
    lines AS (SELECT doc_id, trim(l) AS line FROM lraw WHERE trim(l) <> ''),
    lstat AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
    ldoc AS (
      SELECT doc_id, sum(c) AS n_lines, count(*) AS nd,
             sum((c - 1) * length(line)) AS dupch,
             sum(c * length(line)) AS totch
      FROM lstat GROUP BY 1
    ),
    {_TOKS_CTE},
    g2l AS (
      SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 0) + 1),
               i -> concat_ws(' ', t[i], t[i+1])) AS gl FROM toks
    ),
    g2 AS (SELECT doc_id, unnest(gl) AS g FROM g2l),
    g2s AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
    g2d AS (SELECT doc_id, max(c * length(g)) AS max2cover FROM g2s GROUP BY 1),
    g5l AS (
      SELECT doc_id, list_transform(range(1, greatest(len(t) - 4, 0) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
               AS gl FROM toks
    ),
    g5 AS (SELECT doc_id, unnest(gl) AS g FROM g5l),
    g5s AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
    g5d AS (
      SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
             sum(c) AS tot_occ
      FROM g5s GROUP BY 1
    ),
    nch AS (SELECT doc_id, length({NORM_SQL}) AS nchars FROM documents)
    SELECT n.doc_id,
           CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
           {prs("CASE WHEN l.n_lines > 0 THEN (l.n_lines - l.nd) / l.n_lines ELSE 0.0 END", 6)} AS dup_line_frac,
           {prs("CASE WHEN l.totch > 0 THEN l.dupch / l.totch ELSE 0.0 END", 6)} AS dup_line_char_frac,
           {prs("CASE WHEN n.nchars > 0 THEN COALESCE(g2d.max2cover, 0) / n.nchars ELSE 0.0 END", 6)} AS top_bigram_cover_frac,
           {prs("CASE WHEN g5d.tot_occ > 0 THEN g5d.dup_occ / g5d.tot_occ ELSE 0.0 END", 6)} AS dup_5gram_frac
    FROM nch n
    LEFT JOIN ldoc l USING (doc_id)
    LEFT JOIN g2d USING (doc_id)
    LEFT JOIN g5d USING (doc_id)
    ORDER BY doc_id
    """


@register("doc_repetition_features", oracle=_repetition_oracle())
def doc_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_features(table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# q25 — exact dedup groups (md5 fingerprint, deterministic representative).
# --------------------------------------------------------------------------
@register(
    "exact_dedup_groups",
    oracle=f"""
    SELECT md5({NORM_SQL}) AS fingerprint,
           count(*) AS n_docs,
           min(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q26 — document fingerprints (whole-doc md5 + winnowing min-hash of char
# 5-grams: stable under local edits).
# --------------------------------------------------------------------------
_CHAR_GRAMS_SQL = (
    f"list_transform(range(1, greatest(length({NORM_SQL}) - 4, 1) + 1), "
    f"i -> substr({NORM_SQL}, i, 5))"
)


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({NORM_SQL}) AS fp_md5,
           list_min(list_transform({_CHAR_GRAMS_SQL}, g -> {hash64_sql('g')})) AS fp_rolling
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint_md5("text").alias("fp_md5"),
        TX.fingerprint_rolling_min("text", 5).alias("fp_rolling"),
    )


# --------------------------------------------------------------------------
# q — Bloom-filter ingest pre-screen (ext.sketches.bloom_build/
# bloom_contains): fold the corpus's winnowing fingerprints (min
# char-5-gram hash — the content-cluster key, stable under local edits)
# into a fixed 32768-bit membership bitmap (one map-side-combined
# bit_or groupBy — the shuffle carries words, not keys), then flag a
# delta batch. bloom_candidate false ⇒ content cluster DEFINITELY
# unseen (skip the dedup join entirely); is_dup is the exact ground
# truth, so the no-false-negative contract (is_dup ⇒ bloom_candidate)
# is visible — and testable — in the output. The oracle rebuilds the
# identical bitmap from the same md5-60bit "i|fp" probe family.
# --------------------------------------------------------------------------
_BLOOM_W, _BLOOM_K = 1024, 5
_BLOOM_M = _BLOOM_W * 32
_FPR_SQL = (
    "CAST(COALESCE(list_min(list_transform("
    f"{_CHAR_GRAMS_SQL}, g -> {hash64_sql('g')})), -1) AS VARCHAR)"
)
_BPROBE_SQL = hash64_sql("i::VARCHAR || '|' || fp") + f" % {_BLOOM_M}"


def _bloom_prescreen_oracle() -> str:
    return f"""
    WITH keyed AS (
      SELECT doc_id, {_FPR_SQL} AS fp, (doc_id % 10 = 0) AS is_delta
      FROM documents
    ),
    corpus AS (SELECT DISTINCT fp FROM keyed WHERE NOT is_delta),
    seeds AS (SELECT unnest(range({_BLOOM_K})) AS i),
    cpos AS (SELECT ({_BPROBE_SQL}) AS p FROM corpus, seeds),
    bloom AS (
      SELECT p // 32 AS word_idx,
             CAST(bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS BIGINT)
               AS word
      FROM cpos GROUP BY 1
    ),
    delta AS (SELECT doc_id, fp FROM keyed WHERE is_delta),
    dpos AS (SELECT doc_id, fp, ({_BPROBE_SQL}) AS p FROM delta, seeds),
    flags AS (
      SELECT doc_id,
             bool_and(
               (COALESCE(b.word, 0)
                & (1::BIGINT << CAST(p % 32 AS INTEGER))) <> 0
             ) AS bloom_candidate
      FROM dpos LEFT JOIN bloom b ON (dpos.p // 32) = b.word_idx
      GROUP BY doc_id
    )
    SELECT f.doc_id, f.bloom_candidate, (c.fp IS NOT NULL) AS is_dup
    FROM flags f
    JOIN delta d USING (doc_id)
    LEFT JOIN corpus c ON d.fp = c.fp
    ORDER BY doc_id
    """


@register("bloom_delta_prescreen", oracle=_bloom_prescreen_oracle())
def bloom_delta_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext import sketches as SK

    docs = table(spark, sf_dir, "documents")
    # The winnowing fingerprint hashes EVERY char 5-gram (~|text| md5s
    # per doc) and feeds three consumers (bloom build, delta probe,
    # exact join): repartition off the single input file and checkpoint
    # so the expensive pass runs once, parallel — not 3x single-threaded.
    keyed = checkpoint_for_reuse(
        repartition_for_compute(docs).select(
            "doc_id",
            F.coalesce(TX.fingerprint_rolling_min("text", 5), F.lit(-1))
            .cast("string")
            .alias("fp"),
            (F.col("doc_id") % 10 == 0).alias("__is_delta"),
        )
    )
    corpus = keyed.filter(~F.col("__is_delta")).select("fp").distinct()
    delta = keyed.filter(F.col("__is_delta")).select("doc_id", "fp")
    bloom = SK.bloom_build(corpus, "fp", n_words=_BLOOM_W, k=_BLOOM_K)
    flagged = SK.bloom_contains(
        bloom, delta, "fp",
        n_words=_BLOOM_W, k=_BLOOM_K, out_col="bloom_candidate",
    )
    out = flagged.join(corpus.withColumn("__dup", F.lit(True)), "fp", "left")
    return out.select(
        "doc_id",
        "bloom_candidate",
        F.coalesce("__dup", F.lit(False)).alias("is_dup"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q27 — n-gram Jaccard near-dup pairs via the prefix-filtered join
# (AllPairs, WWW'07; ext/dedup._prefix_jaccard). The oracle is the
# exhaustive inverted-index count. ``ngram_jaccard_pairs_prefix`` is a
# second registry name for the same query: the prefix join is the only
# exact n-gram Jaccard implementation (JACCARD_r16.json: half the shuffle
# of the exhaustive count at sf0.1, wall time within run-to-run spread).
# --------------------------------------------------------------------------
_JACCARD_T = 0.5

_NGRAM_ORACLE = f"""
WITH {_TOKS_CTE},
{_SH_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2,
       (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.d1
JOIN sizes sb ON sb.doc_id = p.d2
WHERE (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) >= {_JACCARD_T}
"""


@register("ngram_jaccard_pairs_prefix", oracle=_NGRAM_ORACLE)
@register("ngram_jaccard_pairs", oracle=_NGRAM_ORACLE)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=_JACCARD_T
    )


# --------------------------------------------------------------------------
# q28 — MinHash-LSH near-dup pairs (banded candidates + exact verification).
# --------------------------------------------------------------------------
def _minhash_oracle() -> str:
    nh, bands = D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS
    r = nh // bands
    sig_terms = ", ".join(
        "list_min(list_transform(shingles, s -> "
        + hash64_sql(f"'{i}|' || s")
        + "))"
        for i in range(nh)
    )
    band_selects = []
    for bi in range(bands):
        parts = ", ".join(f"sig[{bi * r + j + 1}]" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, shingles, {bi} AS band, md5(concat_ws('-', {parts})) AS bkey FROM sig"
        )
    banded = " UNION ALL ".join(band_selects)
    return f"""
    WITH {_TOKS_CTE},
    {_SH_CTE},
    sig AS (SELECT doc_id, shingles, [{sig_terms}] AS sig FROM sh),
    banded AS ({banded}),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.d1, c.d2,
             len(list_intersect(s1.shingles, s2.shingles)) AS inter,
             len(s1.shingles) AS n1, len(s2.shingles) AS n2
      FROM cands c
      JOIN sh s1 ON s1.doc_id = c.d1
      JOIN sh s2 ON s2.doc_id = c.d2)
    SELECT d1, d2,
           (floor(CAST((CAST(inter AS DOUBLE) / (n1 + n2 - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
    FROM verified
    WHERE (floor(CAST((CAST(inter AS DOUBLE) / (n1 + n2 - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) >= {_JACCARD_T}
    """


@register("minhash_lsh_pairs", oracle=_minhash_oracle())
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(table(spark, sf_dir, "documents"), threshold=_JACCARD_T)


# --------------------------------------------------------------------------
# q29 — SimHash near-dup pairs (bit-majority signatures, Hamming-0 buckets).
# --------------------------------------------------------------------------
def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {j}) & 1) = 1)) > len(hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
    WITH {_TOKS_NN_CTE},
    hashed AS (SELECT doc_id, list_transform(t, x -> {hash64_sql('x')}) AS hs FROM toks),
    sh AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hashed)
    SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash
    FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """


@register("simhash_pairs", oracle=_simhash_oracle())
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text docs excluded on both sides (r7 null fuzz — _TOKS_NN_CTE)
    return D.simhash_dup_pairs(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )


# --------------------------------------------------------------------------
# q30 — brute-force cosine top-k (exact ANN baseline; queries broadcast).
# --------------------------------------------------------------------------
_TOPK_ORACLE = """
WITH c AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
q AS (SELECT * FROM c WHERE vec_id < 10),
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id, sum(q.v * c.v) AS dot
  FROM q JOIN c ON q.i = c.i AND q.vec_id <> c.vec_id
  GROUP BY 1, 2),
cos AS (
  SELECT d.qid, d.vec_id,
         round(d.dot / (nq.nrm * nc.nrm), 9) AS cos9
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.qid
  JOIN norms nc ON nc.vec_id = d.vec_id),
ranked AS (
  SELECT qid, vec_id, cos9,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos9 DESC, vec_id) AS BIGINT) AS rnk
  FROM cos)
SELECT qid, vec_id, round(cos9, 6) AS cos, rnk
FROM ranked WHERE rnk <= 5
"""


@register("embedding_topk", oracle=_TOPK_ORACLE)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# --------------------------------------------------------------------------
# q — SQ8 scalar-quantized top-k (round 7): the int8-per-dimension member
# of the quantization family (8× compression, near-exact recall). Unlike
# PQ (k-means fit → rows-only), EVERY stage is SQL-replayable: lo/hi are
# exact MIN/MAX per dimension, the code is one deterministic double
# expression on identical operands, scores decode from codes only and
# rank under the standard round-to-9 key.
# --------------------------------------------------------------------------
_SQ8_ORACLE = """
WITH c AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY 1),
nv AS (SELECT c.vec_id, c.i, c.v / n.nrm AS nv FROM c JOIN norms n USING (vec_id)),
b AS (SELECT i, min(nv) AS lo, max(nv) AS hi FROM nv GROUP BY 1),
codes AS (
  SELECT nv.vec_id, nv.i,
         CASE WHEN b.hi - b.lo > 0
              THEN CAST(round((nv.nv - b.lo) * 255 / (b.hi - b.lo)) AS INT)
              ELSE 0 END AS code
  FROM nv JOIN b USING (i)),
dec AS (
  SELECT cd.vec_id, cd.i,
         b.lo + CAST(cd.code AS DOUBLE) * (b.hi - b.lo) / 255.0 AS dv
  FROM codes cd JOIN b USING (i)),
q AS (SELECT vec_id AS qid, i, nv AS qv FROM nv WHERE vec_id < 10),
dots AS (
  SELECT q.qid, d.vec_id, round(sum(q.qv * d.dv), 9) AS score9
  FROM q JOIN dec d ON d.i = q.i AND d.vec_id <> q.qid
  GROUP BY 1, 2),
ranked AS (
  SELECT qid, vec_id, score9,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY score9 DESC, vec_id) AS BIGINT) AS rnk
  FROM dots)
SELECT qid, vec_id, round(score9, 6) AS score, rnk
FROM ranked WHERE rnk <= 5
"""


@register("embedding_sq8_topk", oracle=_SQ8_ORACLE)
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors served from int8 scalar-quantized vectors."""
    emb = table(spark, sf_dir, "embeddings")
    return SIM.sq8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# --------------------------------------------------------------------------
# q — persisted SQ8 index serve (round 7): ADC over the 8×-compressed
# code table + per-query shortlist + EXACT re-rank from the range-sorted
# vectors (pushed-IN-filter pruning — the pq_topk_from_index serve
# shape). The only index-family serve that is oracle-paired END-TO-END:
# the oracle replays fit → encode → decode → shortlist → exact-cosine
# re-rank entirely in SQL (PQ's k-means fit can't be).
# --------------------------------------------------------------------------
_SQ8_IDX_SHORTLIST = 50

_SQ8_INDEX_ORACLE = f"""
WITH c AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY 1),
nv AS (SELECT c.vec_id, c.i, c.v / n.nrm AS nv FROM c JOIN norms n USING (vec_id)),
b AS (SELECT i, min(nv) AS lo, max(nv) AS hi FROM nv GROUP BY 1),
codes AS (
  SELECT nv.vec_id, nv.i,
         CASE WHEN b.hi - b.lo > 0
              THEN CAST(round((nv.nv - b.lo) * 255 / (b.hi - b.lo)) AS INT)
              ELSE 0 END AS code
  FROM nv JOIN b USING (i)),
dec AS (
  SELECT cd.vec_id, cd.i,
         b.lo + CAST(cd.code AS DOUBLE) * (b.hi - b.lo) / 255.0 AS dv
  FROM codes cd JOIN b USING (i)),
q AS (SELECT vec_id AS qid, i, nv AS qv FROM nv WHERE vec_id < 10),
dots AS (
  SELECT q.qid, d.vec_id, round(sum(q.qv * d.dv), 9) AS score9
  FROM q JOIN dec d ON d.i = q.i AND d.vec_id <> q.qid
  GROUP BY 1, 2),
short AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score9 DESC, vec_id) AS srnk
  FROM dots),
cand AS (SELECT qid, vec_id FROM short WHERE srnk <= {_SQ8_IDX_SHORTLIST}),
ex AS (
  SELECT ca.qid, ca.vec_id, round(sum(q.qv * n2.nv), 9) AS cos9
  FROM cand ca
  JOIN q ON q.qid = ca.qid
  JOIN nv n2 ON n2.vec_id = ca.vec_id AND n2.i = q.i
  GROUP BY 1, 2),
ranked AS (
  SELECT qid, vec_id, cos9,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cos9 DESC, vec_id) AS BIGINT) AS rnk
  FROM ex)
SELECT qid, vec_id, round(cos9, 6) AS score, rnk
FROM ranked WHERE rnk <= 5
"""


def _sq8_index_for(spark: SparkSession, sf_dir: str) -> str:
    from ..ext import pq_index as PQX

    return _content_index_for(
        spark, sf_dir, "sq8", "bdo_sq8_index", PQX.build_sq8_index
    )


@register("embedding_sq8_index_topk", oracle=_SQ8_INDEX_ORACLE)
def embedding_sq8_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 served from the PERSISTED SQ8 index (ADC shortlist 50 +
    exact re-rank) — fully oracle-paired."""
    from ..ext import pq_index as PQX

    emb = table(spark, sf_dir, "embeddings")
    path = _sq8_index_for(spark, sf_dir)
    return PQX.sq8_topk_from_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        shortlist=_SQ8_IDX_SHORTLIST,
    )


# --------------------------------------------------------------------------
# q31 — embedding near-dup pairs above a cosine threshold.
# --------------------------------------------------------------------------
_NEAR_T = 0.4

_NEAR_ORACLE = f"""
WITH c AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
  FROM c a JOIN c b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2)
SELECT a_id, b_id, round(d.dot / (na.nrm * nb.nrm), 6) AS cos
FROM dots d
JOIN norms na ON na.vec_id = d.a_id
JOIN norms nb ON nb.vec_id = d.b_id
WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= {_NEAR_T}
"""


@register("embedding_near_pairs", oracle=_NEAR_ORACLE)
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.near_pairs_threshold(table(spark, sf_dir, "embeddings"), _NEAR_T)


# --------------------------------------------------------------------------
# q32 — LSH-bucketed approximate top-k (the ANN scale path). The
# hyperplanes are derived from the portable md5 hash of (plane, dim), so
# the oracle rebuilds identical planes, buckets, candidates and ranking.
# --------------------------------------------------------------------------
def _lsh_topk_oracle() -> str:
    planes = SIM.LSH_PLANES
    probe = SIM.LSH_PROBE_HAMMING
    comp = (
        "(CAST(('0x' || substr(md5('plane' || p || '|' || CAST(i - 1 AS VARCHAR)), 1, 15)) "
        "AS BIGINT) % 2000001) / 1000000.0 - 1.0"
    )
    return f"""
    WITH c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    planes AS (
      SELECT p, i, {comp} AS comp
      FROM (SELECT unnest(range({planes})) AS p),
           (SELECT DISTINCT generate_subscripts(embedding, 1) AS i FROM embeddings)),
    dots AS (
      SELECT c.vec_id, pl.p, sum(c.v * pl.comp) AS d
      FROM c JOIN planes pl ON c.i = pl.i GROUP BY 1, 2),
    buckets AS (
      SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY 1),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
    q AS (SELECT * FROM c WHERE vec_id < 10),
    cand AS (
      SELECT bq.vec_id AS qid, bc.vec_id AS vec_id
      FROM buckets bq JOIN buckets bc
        ON bit_count(xor(bq.bucket, bc.bucket)) <= {probe}
       AND bq.vec_id < 10 AND bq.vec_id <> bc.vec_id),
    cos AS (
      SELECT cd.qid, cd.vec_id,
             round(sum(q.v * c.v) / (nq.nrm * nc.nrm), 9) AS cos9
      FROM cand cd
      JOIN q ON q.vec_id = cd.qid
      JOIN c ON c.vec_id = cd.vec_id AND c.i = q.i
      JOIN norms nq ON nq.vec_id = cd.qid
      JOIN norms nc ON nc.vec_id = cd.vec_id
      GROUP BY cd.qid, cd.vec_id, nq.nrm, nc.nrm),
    ranked AS (
      SELECT qid, vec_id, cos9,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos9 DESC, vec_id) AS BIGINT) AS rnk
      FROM cos)
    SELECT qid, vec_id, round(cos9, 6) AS cos, rnk
    FROM ranked WHERE rnk <= 5
    """


@register("embedding_lsh_topk", oracle=_lsh_topk_oracle())
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # plane_dim=64: the embeddings table's dimension (TESTDATA.md) — plane
    # components become literal arrays instead of per-row md5 expressions
    return SIM.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, plane_dim=64
    )


# --------------------------------------------------------------------------
# q33 — multimodal metadata: binary payload + typed, pruning-friendly meta.
# --------------------------------------------------------------------------
@register(
    "media_metadata",
    oracle=f"""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash,
           CAST(ceil(octet_length(encode(text)) / {MM.CHUNK_BYTES}.0) AS BIGINT) AS n_chunks
    FROM documents
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return MM.with_binary_payload(docs).select(
        "doc_id", F.col("n_bytes").cast("long").alias("n_bytes"), "content_hash", "n_chunks"
    )


# --------------------------------------------------------------------------
# q34 — multimodal decode plumbing (Arrow mapInPandas, stubbed codec).
# The deterministic fake decoder is md5-derived, so the oracle recomputes
# the identical features; exploding the feature array to scalar rows makes
# the Python-side decode hash-verifiable end to end.
# --------------------------------------------------------------------------
_FAKE_FEATURES_ORACLE = f"""
WITH f AS (SELECT doc_id, md5(text) AS h FROM documents
           WHERE text IS NOT NULL),
idx AS (SELECT doc_id, h, unnest(range({MM.FEATURE_DIM})) AS j FROM f)
SELECT doc_id, CAST(j AS INT) AS feat_idx,
       round(CAST(('0x' || substr(h, CAST(2 * j + 1 AS INT), 2)) AS INT) / 255.0, 4)
         AS feat_val
FROM idx
"""


@register("media_fake_features", oracle=_FAKE_FEATURES_ORACLE)
def media_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL-text doc has no payload to decode (the Python codec would
    # see a null byte buffer); excluded on both sides (r7 null fuzz)
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    decoded = MM.decode_features(MM.with_binary_payload(docs))
    return decoded.select(
        "doc_id", F.posexplode("features").alias("feat_idx", "feat_val")
    ).select(
        "doc_id",
        "feat_idx",
        F.round(F.col("feat_val").cast("double"), 4).alias("feat_val"),
    )


# --------------------------------------------------------------------------
# q41 — IVF approximate top-k (inverted-list ANN: seeded spherical k-means
# partitioning + multi-probe search). The whole fit is deterministic —
# md5-seeded centroids, one Lloyd round of double-precision means, argmax
# assignment with a fixed tie-break — so the oracle replays the identical
# seed → assign → mean → probe → rank pipeline in SQL. Engine-order float
# summation differences sit far below the round-to-9 rank key.
# --------------------------------------------------------------------------
def kmeans_cassign_ctes() -> str:
    """WITH-body fragment replaying the deterministic spherical-k-means fit
    and corpus assignment (``ext.similarity``'s ``_seed_centroids`` →
    ``_fit_centroids`` → ``_assign_nearest``) through the ``cassign``
    (vec_id, cluster) CTE — shared by the IVF top-k and semantic-dedup
    oracles."""
    k_cent = SIM.IVF_CENTROIDS
    vid_hash = hash64_sql("CAST(vec_id AS VARCHAR)")
    return f"""c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY 1),
    nv AS (  -- L2-normalized vectors (ivf: _normalized)
      SELECT c.vec_id, c.i, c.v / n.nrm AS nv
      FROM c JOIN norms n USING (vec_id)),
    seeds AS (  -- smallest-md5 sample, cid by (hash, vid) (ivf: _seed_centroids)
      SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cid
      FROM (SELECT vec_id, {vid_hash} AS h FROM embeddings)
      ORDER BY h, vec_id LIMIT {k_cent}),
    seedcent AS (
      SELECT s.cid, nv.i, nv.nv AS cv FROM seeds s JOIN nv ON nv.vec_id = s.vec_id),
    dots0 AS (  -- one Lloyd round: assign to argmax-dot seed
      SELECT nv.vec_id, sc.cid, sum(nv.nv * sc.cv) AS d
      FROM nv JOIN seedcent sc ON sc.i = nv.i GROUP BY 1, 2),
    assign0 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dots0) WHERE rn = 1),
    cent AS (  -- refined centroids: per-cluster per-dim mean (ivf: _mean_centroids)
      SELECT a.cid, nv.i, avg(nv.nv) AS cv
      FROM assign0 a JOIN nv ON nv.vec_id = a.vec_id GROUP BY 1, 2),
    dotsc AS (  -- corpus assignment on RAW vectors (ivf: _assign_nearest)
      SELECT c.vec_id, ct.cid, sum(c.v * ct.cv) AS d
      FROM c JOIN cent ct ON ct.i = c.i GROUP BY 1, 2),
    cassign AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dotsc) WHERE rn = 1)"""


def _ivf_topk_oracle() -> str:
    n_probes = SIM.IVF_PROBES
    return f"""
    WITH {kmeans_cassign_ctes()},
    dotsq AS (  -- each query probes its top-n closest inverted lists
      SELECT c.vec_id AS qid, ct.cid, sum(c.v * ct.cv) AS d
      FROM c JOIN cent ct ON ct.i = c.i WHERE c.vec_id < 10 GROUP BY 1, 2),
    probes AS (
      SELECT qid, cid AS cluster FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY d DESC, cid) AS rn
        FROM dotsq) WHERE rn <= {n_probes}),
    cand AS (
      SELECT p.qid, a.vec_id
      FROM probes p JOIN cassign a USING (cluster)
      WHERE a.vec_id <> p.qid),
    cos AS (
      SELECT cd.qid, cd.vec_id,
             round(sum(q.v * c.v) / (nq.nrm * nc.nrm), 9) AS cos9
      FROM cand cd
      JOIN c q ON q.vec_id = cd.qid
      JOIN c ON c.vec_id = cd.vec_id AND c.i = q.i
      JOIN norms nq ON nq.vec_id = cd.qid
      JOIN norms nc ON nc.vec_id = cd.vec_id
      GROUP BY cd.qid, cd.vec_id, nq.nrm, nc.nrm),
    ranked AS (
      SELECT qid, vec_id, cos9,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos9 DESC, vec_id) AS BIGINT) AS rnk
      FROM cos)
    SELECT qid, vec_id, round(cos9, 6) AS cos, rnk
    FROM ranked WHERE rnk <= 5
    """


@register("embedding_ivf_topk", oracle=_ivf_topk_oracle())
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# --------------------------------------------------------------------------
# q42 — corpus curation: the composed training-data pipeline (exact dedup →
# quality gate → near-dup removal) as ONE declarative plan. This is the
# shape a 100 TB pretraining-data job takes: every stage is a shuffle-
# bounded DataFrame op (hash agg on fingerprint, scan-parallel quality
# expressions, prefix-filtered near-dup join + anti-join), so the whole
# pipeline scales as its worst stage and Catalyst pipelines the rest.
# --------------------------------------------------------------------------
_CURATION_MIN_QUALITY = 0.5
_CURATION_MIN_TOKENS = 5

_CURATION_ORACLE = f"""
WITH {_TOKS_CTE},
{_SH_CTE},
keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({NORM_SQL})),
feat AS (
  SELECT doc_id,
         length({NORM_SQL}) AS n_char,
         len(t) AS n_tok,
         len(list_filter(t, x -> list_contains([{_STOPS}], x))) AS stop_hits,
         len(list_distinct(t)) AS n_distinct
  FROM documents JOIN toks USING (doc_id)),
q AS (
  SELECT doc_id,
         CAST(n_tok AS BIGINT) AS n_tokens,
         (floor(CAST(((least(n_tok / 50.0, 1.0)
                + least((CAST(stop_hits AS DOUBLE) / n_tok) * 5.0, 1.0)
                + CAST(n_distinct AS DOUBLE) / n_tok) / 3.0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS quality
  FROM feat),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
neardup AS (
  SELECT DISTINCT d2 FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.d1
  JOIN sizes sb ON sb.doc_id = p.d2
  WHERE (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
        >= {_JACCARD_T})
SELECT d.doc_id, d.lang, q.n_tokens, q.quality
FROM documents d
JOIN keep USING (doc_id)
JOIN q USING (doc_id)
WHERE q.quality >= {_CURATION_MIN_QUALITY}
  AND q.n_tokens >= {_CURATION_MIN_TOKENS}
  AND d.doc_id NOT IN (SELECT d2 FROM neardup)
"""


@register("corpus_curation", oracle=_CURATION_ORACLE)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # Near-dup ONLY over exact-dedup representatives: pair output is
    # quadratic in duplicate-group size (measured: a 10× replica corpus
    # inflates pairs ~1000× and the full-corpus form runs 204.6 s vs
    # 3.55 s staged, PERF.md), while the kept set is provably identical —
    # a non-rep's pairs are mirrored by its rep, which has a smaller id
    # and byte-identical text. exact_tagged computes keep-set + rep text
    # in ONE shuffle (fingerprint window, checkpointed).
    tagged = D.exact_tagged(docs)
    rep_rows = tagged.filter(F.col("doc") == F.col("rep"))
    keep = rep_rows.select(F.col("doc").alias("doc_id"))
    reps = rep_rows.select(
        F.col("doc").alias("doc_id"), F.col("__text").alias("text")
    )
    # the prefix-filtered pair join (the only exact n-gram Jaccard path):
    # half the shuffle of the exhaustive count at sf0.1 (JACCARD_r16.json)
    near_dup = (
        D.ngram_jaccard_pairs(reps, threshold=_JACCARD_T)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    # semi-join the exact-dedup keep set BEFORE the quality projection
    # (round-10): the two filters commute, so results are identical, but
    # the regex/token quality expressions now run only over the
    # exact-dedup representatives instead of every raw doc — at corpus
    # scale the duplicated majority never pays text analysis.
    f = TX.quality_features("text")
    gated = (
        docs.join(keep, "doc_id", "left_semi")
        .select(
            "doc_id",
            "lang",
            f["n_tokens"].alias("n_tokens"),
            portable_round(TX.quality_score("text"), 6).alias("quality"),
        )
        .filter(
            (F.col("quality") >= _CURATION_MIN_QUALITY)
            & (F.col("n_tokens") >= _CURATION_MIN_TOKENS)
        )
    )
    return gated.join(near_dup, "doc_id", "left_anti")


# --------------------------------------------------------------------------
# q43 — multimodal frame sampling: 1→N exploding mapInPandas over binary
# payloads (every 4th fixed-size chunk as a "frame"). The frame hashes are
# oracle-verified; the corpus text is ASCII so DuckDB's char-based
# substring equals the byte chunking Spark applies to the payload.
# --------------------------------------------------------------------------
_FRAME_EVERY_N = 4

_FRAME_ORACLE = f"""
WITH n AS (
  SELECT doc_id, text,
         greatest(CAST(ceil(length(text) / {MM.CHUNK_BYTES}.0) AS INT), 1) AS nch
  FROM documents WHERE text IS NOT NULL),
fr AS (SELECT doc_id, text, unnest(range(0, nch)) AS i FROM n)
SELECT doc_id,
       CAST(i AS INT) AS frame_index,
       md5(substring(text, CAST(i * {MM.CHUNK_BYTES} + 1 AS INT), {MM.CHUNK_BYTES}))
         AS frame_hash
FROM fr
WHERE i % {_FRAME_EVERY_N} = 0
"""


@register("media_frame_sample", oracle=_FRAME_ORACLE)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL payload can't be frame-sampled; excluded both sides (r7)
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    frames = MM.sample_frames(MM.with_binary_payload(docs), every_n=_FRAME_EVERY_N)
    return frames.select("doc_id", "frame_index", "frame_hash")


# --------------------------------------------------------------------------
# q49 — banded Hamming-k SimHash near-dup pairs: pigeonhole candidate
# generation (4×8-bit bands) + popcount verification of candidates only.
# --------------------------------------------------------------------------
_SIMHASH_MAX_HAMMING = 3


def _simhash_near_oracle() -> str:
    bit_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {j}) & 1) = 1)) > len(hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(D.SIMHASH_BITS)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {bi} AS band, (simhash >> {bi * 8}) & 255 AS bits FROM sh"
        for bi in range(D.SIMHASH_BANDS)
    )
    return f"""
    WITH {_TOKS_NN_CTE},
    hashed AS (SELECT doc_id, list_transform(t, x -> {hash64_sql('x')}) AS hs FROM toks),
    sh AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hashed),
    banded AS ({bands}),
    cands AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
    SELECT d1, d2, hamming FROM cands WHERE hamming <= {_SIMHASH_MAX_HAMMING}
    """


@register("simhash_near_pairs", oracle=_simhash_near_oracle())
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text docs excluded on both sides (r7 null fuzz — _TOKS_NN_CTE)
    return D.simhash_near_pairs(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        max_hamming=_SIMHASH_MAX_HAMMING,
    )


# --------------------------------------------------------------------------
# q50 — skew-guarded n-gram Jaccard: identical to q27 but ultra-common
# shingles (document frequency > threshold) are dropped before the
# prefix-filtered self-join. At corpus scale this is mandatory — one
# boilerplate shingle in 10^6 docs makes 10^12 candidate pairs. The
# computed Jaccard is then a lower bound (intersection counts only
# non-hot shingles); the oracle applies the identical guard.
# --------------------------------------------------------------------------
_MAX_SHINGLE_DF = 20

_NGRAM_GUARDED_ORACLE = f"""
WITH {_TOKS_CTE},
{_SH_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
kept AS (
  SELECT * FROM inv
  WHERE s NOT IN (SELECT s FROM inv GROUP BY s HAVING count(*) > {_MAX_SHINGLE_DF})),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d1, d2,
       (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.d1
JOIN sizes sb ON sb.doc_id = p.d2
WHERE (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) >= {_JACCARD_T}
"""


@register("ngram_jaccard_pairs_guarded", oracle=_NGRAM_GUARDED_ORACLE)
def ngram_jaccard_pairs_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        threshold=_JACCARD_T,
        max_shingle_df=_MAX_SHINGLE_DF,
    )


# --------------------------------------------------------------------------
# q53 — embedding near-dup pairs, LSH-bucketed (scale path of q31's O(n²)
# form): multiprobe bucket candidates + exact cosine verification. Oracle
# rebuilds the identical md5-derived hyperplane buckets.
# --------------------------------------------------------------------------
def _lsh_near_pairs_oracle() -> str:
    planes = SIM.LSH_PLANES
    probe = SIM.LSH_PROBE_HAMMING
    comp = (
        "(CAST(('0x' || substr(md5('plane' || p || '|' || CAST(i - 1 AS VARCHAR)), 1, 15)) "
        "AS BIGINT) % 2000001) / 1000000.0 - 1.0"
    )
    return f"""
    WITH c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    planes AS (
      SELECT p, i, {comp} AS comp
      FROM (SELECT unnest(range({planes})) AS p),
           (SELECT DISTINCT generate_subscripts(embedding, 1) AS i FROM embeddings)),
    dots AS (
      SELECT c.vec_id, pl.p, sum(c.v * pl.comp) AS d
      FROM c JOIN planes pl ON c.i = pl.i GROUP BY 1, 2),
    buckets AS (
      SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY 1),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
    cand AS (
      SELECT ba.vec_id AS a_id, bb.vec_id AS b_id
      FROM buckets ba JOIN buckets bb
        ON bit_count(xor(ba.bucket, bb.bucket)) <= {probe}
       AND ba.vec_id < bb.vec_id),
    cos AS (
      SELECT cd.a_id, cd.b_id,
             round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS cos
      FROM cand cd
      JOIN c a ON a.vec_id = cd.a_id
      JOIN c b ON b.vec_id = cd.b_id AND b.i = a.i
      JOIN norms na ON na.vec_id = cd.a_id
      JOIN norms nb ON nb.vec_id = cd.b_id
      GROUP BY cd.a_id, cd.b_id, na.nrm, nb.nrm)
    SELECT a_id, b_id, cos FROM cos WHERE cos >= {_NEAR_T}
    """



@register("embedding_near_pairs_lsh", oracle=_lsh_near_pairs_oracle())
def embedding_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.lsh_near_pairs(
        table(spark, sf_dir, "embeddings"), _NEAR_T, plane_dim=64
    )


# --------------------------------------------------------------------------
# q80 — near-dup CLUSTERS: connected components over the n-gram Jaccard
# pair graph (pairs → the clusters a curation pipeline actually consumes;
# keep min(doc) per cluster, drop the rest). Spark side is large-star/
# small-star contraction with per-round eager pins (ext.dedup.
# connected_components); the oracle computes the same fixpoint with a
# recursive transitive-closure CTE.
# --------------------------------------------------------------------------
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_TOKS_CTE},
{_SH_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
prs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM prs p
  JOIN sizes sa ON sa.doc_id = p.d1
  JOIN sizes sb ON sb.doc_id = p.d2
  WHERE (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
        >= {_JACCARD_T}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2, d1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
SELECT a AS doc, least(a, min(b)) AS cluster
FROM reach
GROUP BY a
"""


# q82 — ``near_dup_clusters_star`` is a second registry name for the same
# query, so callers that select it by that name keep working.
@register("near_dup_clusters_star", oracle=_CLUSTERS_ORACLE)
@register("near_dup_clusters", oracle=_CLUSTERS_ORACLE)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-dedup-first staging: identical clusters, pair graph shrinks
    # from quadratic-in-dup-group to rep-level (58x on dup-heavy corpora,
    # PERF.md); oracle (full-graph recursive CTE) unchanged.
    return D.near_dup_clusters_staged(
        table(spark, sf_dir, "documents"), threshold=_JACCARD_T
    )


# --------------------------------------------------------------------------
# q83 — BM25 ranked retrieval (bag-of-terms query over the corpus).
# Posting counts are one shuffle (term-filtered BEFORE aggregation);
# df + (N, avgdl) broadcast back; top-k is TakeOrdered, not a global sort.
# --------------------------------------------------------------------------
_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10

_BM25_ORACLE = f"""
WITH {_TOKS_CTE},
base AS (SELECT doc_id, len(t) AS dl, t FROM toks),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
posts AS (
  SELECT doc_id, dl, w AS term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(t) AS w FROM base)
  WHERE w IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
  GROUP BY doc_id, dl, w),
dfs AS (SELECT term, count(*) AS df FROM posts GROUP BY term),
scored AS (
  SELECT p.doc_id,
         sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * p.tf * ({_BM25_K1} + 1.0)
             / (p.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * p.dl / s.avgdl))) AS score
  FROM posts p JOIN dfs d USING (term) CROSS JOIN stats s
  GROUP BY p.doc_id)
SELECT doc_id, round(score, 6) AS bm25
FROM scored ORDER BY score DESC, doc_id LIMIT {_BM25_K}
"""


@register("bm25_search", oracle=_BM25_ORACLE)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.bm25_rank(
        table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


# --------------------------------------------------------------------------
# q84 — curation keep-policy: for every near-dup cluster, keep the highest-
# quality document (ties → lowest doc_id). One aggregation over the
# cluster labels (max_by on a (quality, -doc) struct — no window, so the
# shuffle carries partial aggregates, not whole clusters).
# --------------------------------------------------------------------------
_CLUSTER_REPS_ORACLE = f"""
WITH clusters AS ({_CLUSTERS_ORACLE}),
toksq AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
q AS (
  SELECT doc_id,
         (floor(CAST(((least(len(t) / 50.0, 1.0)
                + least((CAST(len(list_filter(t, x -> list_contains([{_STOPS}], x)))
                         AS DOUBLE) / len(t)) * 5.0, 1.0)
                + CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) / 3.0) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS quality
  FROM toksq),
ranked AS (
  SELECT c.cluster, c.doc, q.quality,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY q.quality DESC, c.doc ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster) AS n_docs
  FROM clusters c JOIN q ON q.doc_id = c.doc)
SELECT cluster, n_docs, doc AS rep_doc, quality AS rep_quality
FROM ranked WHERE rn = 1
"""


@register("cluster_representatives", oracle=_CLUSTER_REPS_ORACLE)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    clusters = D.near_dup_clusters_staged(docs, threshold=_JACCARD_T)
    quality = docs.select(
        "doc_id", portable_round(TX.quality_score("text"), 6).alias("quality")
    )
    joined = clusters.join(quality, clusters.doc == quality.doc_id)
    return joined.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max_by(
            "doc", F.struct(F.col("quality"), (-F.col("doc")).alias("neg"))
        ).alias("rep_doc"),
        F.max("quality").alias("rep_quality"),
    )


# --------------------------------------------------------------------------
# Staged MinHash-LSH pairs: banding + verification over exact-dedup
# representatives only, then output-linear expansion across exact groups
# (identical docs have identical signatures, so collisions respect
# groups). Same output as minhash_lsh_pairs — shared oracle.
# --------------------------------------------------------------------------
@register("minhash_lsh_pairs_staged", oracle=_minhash_oracle())
def minhash_lsh_pairs_staged_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs_staged(
        table(spark, sf_dir, "documents"), threshold=_JACCARD_T
    )


# --------------------------------------------------------------------------
# Staged n-gram Jaccard pairs (exact-dedup-first + output-linear group
# expansion) — completes the staged family next to minhash_lsh_pairs_staged.
# --------------------------------------------------------------------------
@register("ngram_jaccard_pairs_staged", oracle=_NGRAM_ORACLE)
def ngram_jaccard_pairs_staged_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs_staged(
        table(spark, sf_dir, "documents"), threshold=_JACCARD_T
    )


# --------------------------------------------------------------------------
# q — incremental-ingest near-dedup: treat five sources as the incoming
# batch and the rest as the existing corpus; a new doc survives iff no
# corpus doc reaches Jaccard 0.5 against it. The bipartite prefix-filtered
# join makes each ingest delta cost |delta|-proportional work — the 100 TB
# alternative to re-running corpus-wide dedup per batch.
# --------------------------------------------------------------------------
_NEW_SRC = "('src15','src16','src17','src18','src19')"

_INCR_ORACLE = f"""
WITH {_TOKS_CTE},
{_SH_CTE},
lab AS (SELECT doc_id, source IN {_NEW_SRC} AS isnew FROM documents),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT c.doc_id AS cdoc, nw.doc_id AS ndoc, count(*) AS inter
  FROM inv c
  JOIN lab lc ON lc.doc_id = c.doc_id AND NOT lc.isnew
  JOIN inv nw ON nw.s = c.s
  JOIN lab ln ON ln.doc_id = nw.doc_id AND ln.isnew
  GROUP BY 1, 2),
dups AS (
  SELECT ndoc, min(cdoc) AS dup_of
  FROM pairs p
  JOIN sizes sc ON sc.doc_id = p.cdoc
  JOIN sizes sn ON sn.doc_id = p.ndoc
  WHERE (floor(CAST((CAST(inter AS DOUBLE) / (sc.n_sh + sn.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) >= {_JACCARD_T}
  GROUP BY 1)
SELECT l.doc_id, d.dup_of, d.dup_of IS NULL AS keep
FROM lab l LEFT JOIN dups d ON d.ndoc = l.doc_id
WHERE l.isnew
"""


@register("incremental_near_dedup", oracle=_INCR_ORACLE)
def incremental_near_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    is_new = F.col("source").isin("src15", "src16", "src17", "src18", "src19")
    return D.cross_corpus_near_dups(
        docs.filter(~is_new), docs.filter(is_new), threshold=_JACCARD_T
    )


# --------------------------------------------------------------------------
# Document chunking: overlapping fixed-token windows (training-batch / RAG
# shaping). Pure map — no shuffle; chunk count is integer arithmetic on
# both engines (no float ceil).
# --------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 32, 24

_CHUNK_ORACLE = f"""
WITH {_TOKS_NN_CTE},
base AS (
  SELECT doc_id, t,
         1 + CAST(floor((greatest(len(t) - {_CHUNK_W}, 0) + {_CHUNK_S - 1})
                        / {_CHUNK_S}) AS BIGINT) AS nc
  FROM toks),
ch AS (
  SELECT doc_id, t, unnest(range(nc)) AS chunk_id FROM base)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_S} AS BIGINT) AS start_tok,
       CAST(len(t[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S} + {_CHUNK_W}]) AS BIGINT) AS n_toks,
       array_to_string(t[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S} + {_CHUNK_W}], ' ') AS chunk_text
FROM ch
"""


@register("chunk_documents", oracle=_CHUNK_ORACLE)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks of every document (window 32,
    stride 24) — the map-only shaping step before training batches.
    NULL-text docs have no tokens to chunk; excluded both sides (r7)."""
    return TX.chunk_documents(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        window=_CHUNK_W,
        stride=_CHUNK_S,
    )


# --------------------------------------------------------------------------
# Vocabulary coverage: top-N corpus vocabulary by frequency with the
# cumulative token-coverage curve (tokenizer-vocab sizing / OOV planning).
# TakeOrdered top-N — the full vocabulary never sees a window function.
# --------------------------------------------------------------------------

_VOCAB_N = 200

_VOCAB_ORACLE = f"""
WITH {_TOKS_CTE},
tok AS (SELECT unnest(t) AS token FROM toks),
freqs AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS tot FROM freqs),
top AS (SELECT token, freq FROM freqs ORDER BY freq DESC, token LIMIT {_VOCAB_N})
SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
       token, CAST(freq AS BIGINT) AS freq,
       (floor(CAST((CAST(sum(freq) OVER (ORDER BY freq DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                    / tot) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS cum_share
FROM top, tot
"""


@register("vocab_coverage", oracle=_VOCAB_ORACLE)
def vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 vocabulary with cumulative corpus coverage share."""
    return TX.vocab_coverage(table(spark, sf_dir, "documents"), top_n=_VOCAB_N)


# --------------------------------------------------------------------------
# Fuzzy match join: all customer-name pairs within Levenshtein distance 1,
# blocked on single-deletion variants (SymSpell) — entity-resolution /
# typo-linking without q-gram hot keys (every c_name shares the
# "Customer#" prefix, so positional q-grams would collide corpus-wide).
# --------------------------------------------------------------------------

_FUZZY_ORACLE = f"""
WITH base AS (SELECT c_custkey AS id, c_name AS name FROM customer),
vars AS (
  SELECT id, name,
         unnest(list_distinct(list_prepend(name,
           list_transform(range(1, length(name) + 1),
                          i -> substr(name, 1, i - 1) || substr(name, i + 1))))) AS v
  FROM base),
inv AS (SELECT id, name, {hash64_sql('v')} AS h FROM vars),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.name AS an, b.name AS bn
  FROM inv a JOIN inv b ON a.h = b.h AND a.id < b.id)
SELECT a_id, b_id, CAST(levenshtein(an, bn) AS BIGINT) AS dist
FROM cand WHERE levenshtein(an, bn) <= 1
"""


@register("customer_name_fuzzy_pairs", oracle=_FUZZY_ORACLE)
def customer_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer-name pairs within edit distance 1 (deletion-variant
    blocked, exact levenshtein verified)."""
    return D.fuzzy_pairs_edit1(
        table(spark, sf_dir, "customer"), "c_name", "c_custkey"
    )


# --------------------------------------------------------------------------
# Product-quantization ADC top-k (ext.similarity.pq_topk): per-subspace
# spherical-k-means codebooks + asymmetric-distance serving. The oracle
# replays the full fit — one shared md5 seed sample, per-subspace Lloyd
# round, mean codewords, code assignment — and the ADC score with the
# SAME fixed left-associated subspace sum, all with the subspace width
# derived from the data (max dim DIV 4), so it tracks any embedding
# dimensionality the driver regenerates.
# --------------------------------------------------------------------------
def _pq_topk_oracle() -> str:
    n_sub = SIM.PQ_SUBSPACES
    k_book = SIM.PQ_CODEBOOK
    shortlist = SIM.PQ_SHORTLIST
    vid_hash = hash64_sql("CAST(vec_id AS VARCHAR)")
    code_cols = ", ".join(
        f"max(CASE WHEN sub = {s} THEN code END) AS c{s}" for s in range(n_sub)
    )
    lut_joins = "\n".join(
        f"      JOIN lutq l{s} ON l{s}.sub = {s} AND l{s}.qid = f.qid "
        f"AND l{s}.cid = f.c{s}" for s in range(n_sub)
    )
    total = "l0.d"
    for s in range(1, n_sub):
        total = f"({total} + l{s}.d)"
    return f"""
    WITH c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY 1),
    dims AS (SELECT CAST(max(i) // {n_sub} AS INTEGER) AS dsub FROM c),
    nvs AS (
      SELECT c.vec_id,
             CAST((c.i - 1) // d.dsub AS INTEGER) AS sub,
             CAST(((c.i - 1) % d.dsub) + 1 AS INTEGER) AS si,
             c.v / n.nrm AS nv
      FROM c JOIN norms n USING (vec_id), dims d),
    seeds AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cid
      FROM (SELECT vec_id, {vid_hash} AS h FROM embeddings)
      ORDER BY h, vec_id LIMIT {k_book}),
    seedcent AS (
      SELECT s.cid, n.sub, n.si, n.nv AS cv
      FROM seeds s JOIN nvs n ON n.vec_id = s.vec_id),
    seednorm AS (
      SELECT sub, cid, sum(cv * cv) AS n2 FROM seedcent GROUP BY 1, 2),
    dots0 AS (  -- L2 assignment objective: dot - ||c||²/2
      SELECT n.vec_id, n.sub, sc.cid,
             sum(n.nv * sc.cv) - 0.5 * max(sn.n2) AS d
      FROM nvs n
      JOIN seedcent sc ON sc.sub = n.sub AND sc.si = n.si
      JOIN seednorm sn ON sn.sub = sc.sub AND sn.cid = sc.cid
      GROUP BY 1, 2, 3),
    assign0 AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d DESC, cid) AS rn
        FROM dots0) WHERE rn = 1),
    cent AS (
      SELECT a.sub, a.cid, n.si, avg(n.nv) AS cv
      FROM assign0 a JOIN nvs n ON n.vec_id = a.vec_id AND n.sub = a.sub
      GROUP BY 1, 2, 3),
    centnorm AS (
      SELECT sub, cid, sum(cv * cv) AS n2 FROM cent GROUP BY 1, 2),
    dotsc AS (
      SELECT n.vec_id, n.sub, ct.cid,
             sum(n.nv * ct.cv) - 0.5 * max(cn.n2) AS d
      FROM nvs n
      JOIN cent ct ON ct.sub = n.sub AND ct.si = n.si
      JOIN centnorm cn ON cn.sub = ct.sub AND cn.cid = ct.cid
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d DESC, cid) AS rn
        FROM dotsc) WHERE rn = 1),
    codes_p AS (SELECT vec_id, {code_cols} FROM codes GROUP BY 1),
    lutq AS (
      SELECT n.vec_id AS qid, n.sub, ct.cid, sum(n.nv * ct.cv) AS d
      FROM nvs n JOIN cent ct ON ct.sub = n.sub AND ct.si = n.si
      WHERE n.vec_id < 10 GROUP BY 1, 2, 3),
    fan AS (
      SELECT q.qid, cp.*
      FROM codes_p cp CROSS JOIN (SELECT DISTINCT qid FROM lutq) q),
    sc AS (
      SELECT f.qid, f.vec_id, round({total}, 9) AS score9
      FROM fan f
{lut_joins}
      WHERE f.vec_id <> f.qid),
    short AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score9 DESC, vec_id) AS srnk
        FROM sc) WHERE srnk <= {shortlist}),
    exact AS (  -- exact re-rank of the ADC shortlist from raw unit vectors
      SELECT s.qid, s.vec_id, round(sum(nq.nv * nc.nv), 9) AS cos9
      FROM short s
      JOIN nvs nq ON nq.vec_id = s.qid
      JOIN nvs nc ON nc.vec_id = s.vec_id
                 AND nc.sub = nq.sub AND nc.si = nq.si
      GROUP BY 1, 2),
    ranked AS (
      SELECT qid, vec_id, cos9,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY cos9 DESC, vec_id) AS BIGINT)
               AS rnk
      FROM exact)
    SELECT qid, vec_id, round(cos9, 6) AS score, rnk
    FROM ranked WHERE rnk <= 5
    """


# --------------------------------------------------------------------------
# Persisted-PQ serve path (ext.pq_index): identical results to the
# fit-per-call ``SIM.pq_topk`` (same oracle; tests pin the two equal), but
# the expensive codebook fit + code assignment runs ONCE per corpus — the
# index is cached on disk keyed by a fingerprint of the embeddings
# parquet (path+size+mtime+params), so a regenerated corpus rebuilds and
# a repeat call serves from the code table alone. The build is crash-safe: staged to a tmp dir and renamed
# into the fingerprint path atomically.
# --------------------------------------------------------------------------
def _pq_index_for(spark: SparkSession, sf_dir: str) -> str:
    import os
    import shutil
    import tempfile

    from ..ext import pq_index as PQX

    path = _index_digest_path(
        sf_dir,
        "bdo_pq_index",
        f"sub={SIM.PQ_SUBSPACES},book={SIM.PQ_CODEBOOK}",
        salt_first=False,  # pre-_content_index_for digest layout, kept
    )
    root = os.path.dirname(path)
    if not os.path.exists(os.path.join(path, "meta.json")):
        os.makedirs(root, exist_ok=True)
        staging = tempfile.mkdtemp(
            prefix=f".{os.path.basename(path)}-", dir=root
        )
        PQX.build_pq_index(table(spark, sf_dir, "embeddings"), staging)
        try:
            os.rename(staging, path)  # atomic publish; loser cleans up
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)
    return path


# ``embedding_pq_topk`` is a second registry name for the same query.
# The driver's sweep runs queries in sorted name order, so
# ``embedding_pq_index_topk`` runs first and pins the cold build+serve
# shape, and ``embedding_pq_topk`` runs second and pins the warm
# serve-from-cache shape.
@register("embedding_pq_index_topk", oracle=_pq_topk_oracle())
@register("embedding_pq_topk", oracle=_pq_topk_oracle())
def embedding_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext import pq_index as PQX

    emb = table(spark, sf_dir, "embeddings")
    path = _pq_index_for(spark, sf_dir)
    return PQX.pq_topk_from_index(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5
    )


# --------------------------------------------------------------------------
# q — distributed BPE vocabulary induction + tokenization (ext.bpe): one
# corpus-proportional word-frequency aggregation, sequential merge
# learning driver-side over the capped inventory, then dedup-aware
# distributed encoding (distinct words through an Arrow batch, broadcast
# join back, in-order reassembly). Rows-only: the merge loop is
# inherently iterative (merge k+1's statistics depend on merge k), so no
# single SQL statement replays it — correctness is pinned by
# tests/test_bpe.py (incremental learner == naive recount reference,
# encode/trainer round-trip, distributed == driver encoding) and by the
# IN-PATH reconstruction gate here: every emitted token row must concat
# back to its document's pre-token stream, or the query raises instead
# of returning (threaded through the kept n_tokens column — a dropped
# helper column would be pruned; see plans/mlplans.finite_or_raise).
# --------------------------------------------------------------------------
@register("doc_bpe_tokens", oracle=None)
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext import bpe as BPE
    from ..functions.text_fns import norm_text

    docs = table(spark, sf_dir, "documents")
    merges = BPE.learn_bpe_merges(docs, n_merges=64)
    out = BPE.apply_bpe(docs, merges)
    pre = F.regexp_extract_all(norm_text("text"), F.lit(BPE.BPE_REGEX), 0)
    # transform-then-join (not array_join + trailing END) so a doc with
    # zero pre-tokens expects "" — apply_bpe now emits bpe_tokens=[] for
    # empty/NULL docs instead of dropping them.
    expected = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.coalesce(pre, F.array().cast("array<string>")),
                lambda w: F.concat(w, F.lit(BPE.END)),
            ),
            "",
        ).alias("__expect"),
    )
    gated = (
        out.join(expected, "doc_id")
        .withColumn(
            "n_tokens",
            F.when(
                F.array_join("bpe_tokens", "") != F.col("__expect"),
                F.raise_error("doc_bpe_tokens: reconstruction mismatch"),
            ).otherwise(F.col("n_tokens")),
        )
        .drop("__expect")
    )
    return gated.select("doc_id", "bpe_tokens", "n_tokens").orderBy("doc_id")


# --------------------------------------------------------------------------
# q — cluster-balanced embedding sample (ext.similarity.
# cluster_balanced_sample): per-k-means-cluster quotas picked by
# portable md5 hash — the topic-balancing stage of a training-mixture
# pipeline. The oracle replays the shared deterministic fit/assignment
# CTEs (kmeans_cassign_ctes) plus the hash-ranked quota window.
# --------------------------------------------------------------------------
_BALANCED_N = 8


def _balanced_sample_oracle() -> str:
    vid_hash = hash64_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH {kmeans_cassign_ctes()},
    hh AS (SELECT vec_id, {vid_hash} AS h FROM embeddings),
    ranked AS (
      SELECT a.cluster, a.vec_id,
             CAST(row_number() OVER (PARTITION BY a.cluster
                                     ORDER BY hh.h, a.vec_id) AS BIGINT) AS rn
      FROM cassign a JOIN hh USING (vec_id))
    SELECT cluster, vec_id, rn FROM ranked WHERE rn <= {_BALANCED_N}
    """


@register("embedding_cluster_balanced_sample", oracle=_balanced_sample_oracle())
def embedding_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return SIM.cluster_balanced_sample(emb, n_per_cluster=_BALANCED_N)


# --------------------------------------------------------------------------
# q — exact-substring repeated spans (ext.dedup.repeated_substring_spans):
# the Lee-et-al exact-substring dedup primitive. Every min_len-char
# window of the normalized text is hashed (portable md5 hash64); windows
# whose hash occurs more than once corpus-wide are merged per doc into
# maximal spans via the running-max interval merge. The oracle replays
# the identical window enumeration, global duplicate filter, and merge.
# --------------------------------------------------------------------------
_SPAN_LEN = 30


def _span_ctes(keep_first: bool = False) -> str:
    """The shared span-detection CTE chain (ends with a ``spans`` CTE of
    (doc_id, span_start, span_end)) — composed by both the detection
    oracle and the removal oracles so their span sets are identical by
    construction. ``keep_first`` mirrors the operator's flag: the
    corpus-wide first occurrence of each window — lexicographic
    min(ROW(doc_id, pos)), the same ordering as Spark's min(struct) —
    is exempted from spanning."""
    g_hash = hash64_sql(f"substr(t, CAST(i AS INTEGER), {_SPAN_LEN})")
    if keep_first:
        # scalar-encoded winner (doc_id·2³² + pos): identical ordering to
        # Spark's min(struct(doc_id, pos)) while pos < 2³² and doc_id <
        # 2³¹ (chars per doc / ids — comfortably true at any tested SF).
        # A min(ROW(...)) + per-row ROW() comparison form was 14× slower
        # (struct compare defeats the join's vectorization) and the
        # MATERIALIZED hints matter doubly here: spans is referenced 3×
        # downstream, and without them the whole gram enumeration re-runs
        # per reference (221 s → 3 s on the r9 sweep).
        dup = """duph AS MATERIALIZED (
      SELECT h, min(doc_id * 4294967296 + pos) AS fenc
      FROM grams GROUP BY h HAVING count(*) > 1),
    dup AS MATERIALIZED (
      SELECT g.doc_id, g.pos FROM grams g JOIN duph USING (h)
      WHERE g.doc_id * 4294967296 + g.pos <> duph.fenc),"""
    else:
        dup = """duph AS MATERIALIZED (
      SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
    dup AS MATERIALIZED (
      SELECT g.doc_id, g.pos FROM grams g JOIN duph USING (h)),"""
    return f"""nt AS MATERIALIZED (
      SELECT doc_id, {NORM_SQL} AS t FROM documents
      WHERE length({NORM_SQL}) >= {_SPAN_LEN}),
    poss AS (  -- scalar generate_series + unnest: the table-function
               -- form does not support lateral correlation in DuckDB
      SELECT doc_id, t,
             unnest(generate_series(1, length(t) - {_SPAN_LEN - 1}))
               AS i
      FROM nt),
    grams AS MATERIALIZED (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, {g_hash} AS h
      FROM poss),
    {dup}
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {_SPAN_LEN - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR pos > max(pos + {_SPAN_LEN - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS new_s
      FROM dup),
    runs AS (
      SELECT doc_id, pos, sum(new_s) OVER (PARTITION BY doc_id ORDER BY pos
                                           ROWS UNBOUNDED PRECEDING) AS g
      FROM flagged),
    spans AS MATERIALIZED (
      SELECT doc_id,
             min(pos) AS span_start,
             max(pos) + {_SPAN_LEN - 1} AS span_end
      FROM runs GROUP BY doc_id, g)"""


def _repeated_span_oracle() -> str:
    return f"""
    WITH {_span_ctes()}
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_len
    FROM spans
    """


@register("doc_repeated_spans", oracle=_repeated_span_oracle())
def doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.repeated_substring_spans(
        table(spark, sf_dir, "documents"), min_len=_SPAN_LEN
    )


# --------------------------------------------------------------------------
# q — repeated-span REMOVAL (ext.dedup.remove_repeated_spans): the apply
# half of the exact-substring dedup loop — cut every corpus-duplicated
# maximal span out of the normalized text and emit the training-ready
# corpus. The oracle rebuilds the clean text as ordered inter-span gap
# segments (lag(span_end) cursor walk) string_agg'd plus the tail after
# the last span; docs without spans pass through via the left join.
# Pure string/integer arithmetic on both engines — float-free.
# --------------------------------------------------------------------------
def _despanned_oracle(keep_first: bool = False) -> str:
    return f"""
    WITH {_span_ctes(keep_first)},
    alln AS (SELECT doc_id, {NORM_SQL} AS t FROM documents),
    ordered AS (
      SELECT doc_id, span_start, span_end,
             lag(span_end, 1, 0) OVER (PARTITION BY doc_id
                                       ORDER BY span_start) AS prev_end
      FROM spans),
    segs AS (
      SELECT o.doc_id, o.span_start AS ord,
             substr(a.t, CAST(o.prev_end + 1 AS INTEGER),
                    CAST(o.span_start - o.prev_end - 1 AS INTEGER)) AS seg
      FROM ordered o JOIN alln a USING (doc_id)),
    built AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS head
      FROM segs GROUP BY doc_id),
    tails AS (
      SELECT s.doc_id,
             substr(a.t, CAST(max(s.span_end) + 1 AS INTEGER)) AS tail
      FROM spans s JOIN alln a USING (doc_id)
      GROUP BY s.doc_id, a.t),
    cleaned AS (
      SELECT b.doc_id, b.head || t.tail AS clean_text
      FROM built b JOIN tails t USING (doc_id))
    SELECT a.doc_id,
           coalesce(c.clean_text, a.t) AS clean_text,
           coalesce(ns.n_spans, 0) AS n_spans,
           CAST(length(a.t) - length(coalesce(c.clean_text, a.t)) AS BIGINT)
             AS removed_chars
    FROM alln a
    LEFT JOIN cleaned c USING (doc_id)
    LEFT JOIN (SELECT doc_id, count(*) AS n_spans
               FROM spans GROUP BY doc_id) ns USING (doc_id)
    """


@register("doc_despanned_text", oracle=_despanned_oracle())
def doc_despanned_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.remove_repeated_spans(
        table(spark, sf_dir, "documents"), min_len=_SPAN_LEN
    )


@register("doc_despanned_keep_first", oracle=_despanned_oracle(True))
def doc_despanned_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 9: the OTHER Lee-et-al removal policy — exempt each
    duplicated window's corpus-wide first occurrence (min (doc, pos)),
    so exactly one copy of every duplicated region survives training
    instead of none. Same plan as doc_despanned_text (the winner rides
    back in the existing duplicate-filter join — no extra shuffle, and
    hash-aggregable via the doc·2³²+pos scalar encode); the oracle
    exempts via the IDENTICAL scalar encode, so the ordering semantics
    are shared by construction."""
    return D.remove_repeated_spans(
        table(spark, sf_dir, "documents"), min_len=_SPAN_LEN,
        keep_first=True,
    )


# --------------------------------------------------------------------------
# q — cross-document shingle novelty: the between-document twin of the
# Gopher within-document repetition census. DF table + rejoin both
# shuffle 8-byte hashes; the text pass runs once (checkpointed compact
# stream — see ext.dedup.shingle_novelty's plan notes).
# --------------------------------------------------------------------------
_NOVELTY_ORACLE = f"""
WITH {_TOKS_CTE}, {_SH_CTE},
e AS (SELECT doc_id AS doc, {hash64_sql('s')} AS h
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
dfq AS (SELECT h, count(*) AS df FROM e GROUP BY h)
SELECT doc,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       {portable_round_sql('CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)', 6)} AS novelty
FROM e JOIN dfq USING (h) GROUP BY doc
"""


@register("doc_shingle_novelty", oracle=_NOVELTY_ORACLE)
def doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of distinct 3-word shingles appearing in no
    other document — the cross-doc overlap census behind dedup triage
    and memorization-risk reporting."""
    return D.shingle_novelty(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q — training-mix manifest: the END-TO-END selection a pretraining run
# ships — curation survivors (exact dedup → quality gate → near-dup
# removal, exactly corpus_curation's kept set) re-balanced by the
# α=0.5 temperature mixture over the SURVIVORS' per-language token
# mass, with each document's epoch multiplicity drawn by the same
# deterministic stochastic rounding as mixture_resample (md5-uniform vs
# the fractional weight — restartable, RNG-free, oracle-replayable).
# The survivor frame is checkpointed once (manifest grain — it feeds
# the per-lang aggregate and the output join); everything downstream of
# it is |langs|-sized + one broadcast join. n_copies uses the ROUNDED
# weight (as mixture_resample does) so the u-vs-fraction boundary
# compares identical doubles on both engines.
# --------------------------------------------------------------------------
_MANIFEST_ORACLE = f"""
WITH kept AS ({_CURATION_ORACLE}),
per AS (SELECT lang, count(*) AS n_docs, sum(n_tokens) AS n_tokens
        FROM kept GROUP BY lang),
d AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
             list_reduce(
               list_prepend(0.0,
                 list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY lang)),
               (acc, x) -> acc + x) AS sden
      FROM per),
wts AS (SELECT lang,
               {portable_round_sql('(sqrt(CAST(n_tokens AS DOUBLE)) / sden) / (CAST(n_tokens AS DOUBLE) / tot)', 6)} AS w
        FROM per, d)
SELECT k.doc_id, k.lang, k.n_tokens, k.quality,
       w AS sampling_weight,
       CAST(floor(w) + CASE WHEN
           CAST(('0x' || substr(md5('mix|' || CAST(k.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             / 1152921504606846976.0 < w - floor(w)
         THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM kept k JOIN wts USING (lang)
"""


@register("training_mix_manifest", oracle=_MANIFEST_ORACLE)
def training_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation survivors with their α=0.5 temperature-mixture sampling
    weight and deterministic epoch multiplicity — the shippable
    what-we-train-on manifest."""
    from ..ext.curation import temperature_shares_from_partials
    from ..functions.text_fns import md5_hash64

    kept = checkpoint_for_reuse(corpus_curation(spark, sf_dir))
    per = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    wts = temperature_shares_from_partials(per, ["lang"]).select(
        "lang", F.col("sampling_weight").alias("w")
    )
    u = md5_hash64(
        F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))
    ) / F.lit(float(1 << 60))
    w = F.col("w")
    return kept.join(F.broadcast(wts), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality",
        w.alias("sampling_weight"),
        (
            F.floor(w)
            + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_copies"),
    )


# --------------------------------------------------------------------------
# q — per-cluster embedding outlier census: cosine of each vector to its
# own k-means centroid, farthest-2 flagged. Shares the deterministic
# k-means CTE chain with the IVF/semantic-dedup oracles; no pair stage,
# so cost is one scan + one assignment shuffle at any corpus size.
# --------------------------------------------------------------------------
def _cluster_outliers_oracle() -> str:
    return f"""
    WITH {kmeans_cassign_ctes()},
    centnorm AS (SELECT cid, sqrt(sum(cv * cv)) AS cn FROM cent GROUP BY cid),
    cosg AS (
      SELECT a.vec_id, a.cluster,
             round(sum(c.v * ct.cv) / (n.nrm * cn.cn), 9) AS cos9
      FROM cassign a
      JOIN c ON c.vec_id = a.vec_id
      JOIN cent ct ON ct.cid = a.cluster AND ct.i = c.i
      JOIN norms n ON n.vec_id = a.vec_id
      JOIN centnorm cn ON cn.cid = a.cluster
      GROUP BY a.vec_id, a.cluster, n.nrm, cn.cn),
    ranked AS (
      SELECT vec_id, cluster, cos9,
             CAST(row_number() OVER (PARTITION BY cluster
                                     ORDER BY cos9 ASC, vec_id) AS BIGINT) AS rnk
      FROM cosg)
    SELECT vec_id AS vid, cluster, round(cos9, 6) AS centroid_cos, rnk,
           rnk <= 2 AS is_outlier
    FROM ranked
    """


@register("embedding_cluster_outliers", oracle=_cluster_outliers_oracle())
def embedding_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-from-centroid embedding outliers per k-means cluster —
    the noise/mislabel triage pass before semantic dedup or index build."""
    return SIM.cluster_outliers(table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# q — residual IVF-PQ serve (rows-only): the FAISS-IVFPQ composite with
# codebooks fit on coarse-centroid residuals — partition-pruned int8 code
# scan, per-(query, probed-cluster) bias + global-LUT ADC, exact re-rank.
# No DuckDB oracle by construction: the coarse stage is the Arrow-
# vectorized k-means (numpy pairwise summation — not an IEEE sequence SQL
# can replay), so correctness is carried by the pytest recall gates
# (test_ivfpq_residual_recall_at_tight_shortlist: residual recall@5 >=
# plain, 0.72 -> 0.88 at shortlist=100 on the shipped seed) and the serve
# contract asserts; the driver records the rows-only check.
# --------------------------------------------------------------------------
def _index_digest_path(
    sf_dir: str, cache_name: str, salt: str, salt_first: bool = True
) -> str:
    """Pure digest→path computation for the build-once index caches —
    shared by the builders below AND by :func:`persisted_index_status`
    (the bench's cache-hit reporting), so the reported hit/miss can
    never drift from what the builder actually keys on. ``salt_first``
    preserves the two historical digest layouts (the PQ cache predates
    ``_content_index_for`` and appends its salt last)."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    parts = [os.path.abspath(src)] + ([salt] if salt_first else [])
    paths = (
        sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
        )
        if os.path.isdir(src)
        else [src]
    )
    for p in paths:
        st = os.stat(p)
        parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    if not salt_first:
        parts.append(salt)
    digest = hashlib.sha1("|".join(parts).encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), cache_name, digest)


def persisted_index_status(sf_dir: str) -> dict[str, bool]:
    """Per persisted-index headline query: True = the index for this
    exact data dir is already on disk, so a timed run serves from cache;
    False = the first timed run pays the build. Read-only (never builds);
    surfaced in bench.py's JSON line so the timed surface of every
    ``*_index_topk`` entry is explicit in the artifact (round-10 VERDICT
    item: index-serve bench transparency)."""
    import os

    kinds = {
        "embedding_pq_index_topk": _index_digest_path(
            sf_dir,
            "bdo_pq_index",
            f"sub={SIM.PQ_SUBSPACES},book={SIM.PQ_CODEBOOK}",
            salt_first=False,
        ),
        "embedding_sq8_index_topk": _index_digest_path(
            sf_dir, "bdo_sq8_index", "sq8"
        ),
        "embedding_ivfpq_residual_topk": _index_digest_path(
            sf_dir,
            "bdo_ivfpq_res_index",
            f"residual=1|sub={SIM.PQ_SUBSPACES},book={SIM.PQ_CODEBOOK}",
        ),
    }
    return {
        name: os.path.exists(os.path.join(path, "meta.json"))
        for name, path in kinds.items()
    }


def _content_index_for(
    spark: SparkSession, sf_dir: str, salt: str, cache_name: str, build
) -> str:
    """Content-addressed build-once index cache shared by every persisted
    serve registry entry (round-7 review: previously copy-pasted per
    index kind): digest over the source parquet file stats + ``salt``,
    build into a dot-prefixed staging dir, publish with one atomic
    rename (the loser of a race cleans up), and ALWAYS remove a staging
    dir that failed to publish — including on builder exceptions."""
    import os
    import shutil
    import tempfile

    path = _index_digest_path(sf_dir, cache_name, salt)
    root = os.path.dirname(path)
    if not os.path.exists(os.path.join(path, "meta.json")):
        os.makedirs(root, exist_ok=True)
        staging = tempfile.mkdtemp(
            prefix=f".{os.path.basename(path)}-", dir=root
        )
        try:
            build(table(spark, sf_dir, "embeddings"), staging)
            os.rename(staging, path)  # atomic publish
        except OSError:
            pass  # lost the publish race; fall through to cleanup
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    if not os.path.exists(os.path.join(path, "meta.json")):
        raise RuntimeError(f"index build failed to publish {path}")
    return path


def _ivfpq_res_index_for(spark: SparkSession, sf_dir: str) -> str:
    from ..ext import pq_index as PQX

    return _content_index_for(
        spark,
        sf_dir,
        f"residual=1|sub={SIM.PQ_SUBSPACES},book={SIM.PQ_CODEBOOK}",
        "bdo_ivfpq_res_index",
        lambda emb, staging: PQX.build_ivfpq_index(
            emb, staging, residual=True
        ),
    )


# Oracle-paired as of round 10 (r9 note disproven, VERDICT item 4): the
# shortlist itself comes from a k-means-fitted IVF-PQ index (iterative
# float training — not replayable as ANSI SQL over the parquet tables),
# but GIVEN the shortlist the exact re-rank tail IS plain SQL. The
# channel the r9 note thought missing is a LAZY oracle: oracle_sql_map
# resolves a callable at map-build time, which serves the deterministic
# shortlist from the content-cached index (same bounded Spark job the
# query itself runs before its re-rank) and bakes the (qid, vec_id)
# pairs into the SQL as a VALUES list; DuckDB then independently
# recomputes unit-normalization, the exact cosine of every shortlist
# pair, the (score desc, vec_id) tie-broken top-5, and the rounding —
# verifying everything downstream of candidate generation. Candidate
# generation itself stays covered by tests/test_similarity_index.py's
# recall gate (ANN vs exact top-k) and the shared-arithmetic parity of
# the PQ distance kernels. If no SparkSession is active when the oracle
# map is built (the only time the shortlist can't be served), the entry
# degrades to the old rows-only check instead of failing the map.
def _ivfpq_residual_oracle() -> str | None:
    import os

    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        return None
    from ..ext import pq_index as PQX

    # no try/except here: oracle_sql_map catches, WARNS with the query
    # name + exception, and degrades to rows-only — swallowing locally
    # would hide breakage from that single reporting point (r10 review)
    path = _ivfpq_res_index_for(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    pairs = PQX.ivfpq_shortlist_from_index(
        spark, path, emb.filter(F.col("vec_id") < 10), n_probes=4
    ).collect()  # bounded: ≤ 10 queries × PQ_SHORTLIST rows
    if not pairs:
        return None
    values = ", ".join(
        f"({int(r['qid'])}, {int(r['vec_id'])})" for r in pairs
    )
    return f"""
    WITH c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY 1),
    nv AS MATERIALIZED (
      SELECT c.vec_id, c.i, c.v / n.nrm AS nv
      FROM c JOIN norms n USING (vec_id)),
    short(qid, vec_id) AS (VALUES {values}),
    exact AS (  -- exact re-rank of the served ADC shortlist
      SELECT s.qid, s.vec_id, round(sum(nq.nv * nc.nv), 9) AS cos9
      FROM short s
      JOIN nv nq ON nq.vec_id = s.qid
      JOIN nv nc ON nc.vec_id = s.vec_id AND nc.i = nq.i
      GROUP BY 1, 2),
    ranked AS (
      SELECT qid, vec_id, cos9,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY cos9 DESC, vec_id) AS BIGINT)
               AS rnk
      FROM exact)
    SELECT qid, vec_id, round(cos9, 6) AS score, rnk
    FROM ranked WHERE rnk <= 5
    """


@register("embedding_ivfpq_residual_topk", oracle=_ivfpq_residual_oracle)
def embedding_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ext import pq_index as PQX

    emb = table(spark, sf_dir, "embeddings")
    path = _ivfpq_res_index_for(spark, sf_dir)
    return PQX.ivfpq_topk_from_index(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, n_probes=4
    )


# --------------------------------------------------------------------------
# q — centroid (Rocchio) language classifier, resubstitution confusion
# matrix: per-language token-frequency centroids scored against every
# document by a term-frequency dot product — the classic fully-
# aggregative text classifier (the exact-arithmetic stand-in for
# multinomial Naive Bayes, whose log-likelihood sums cannot be made
# bit-portable across engines because ln() is not correctly-rounded in
# either). Score_l(d) = Σ_t tf(d,t)·c(l,t) / N_l is an exact rational:
# the numerator is a BIGINT dot product, the per-language normalizer is
# applied as a HALF-UP SCALED-INTEGER division (e9), so the argmax and
# every tie-break (score desc, lang asc) compare identical integers in
# both engines. Scale: |doc-token pairs| × |langs| fan-out — linear in
# corpus tokens with a small constant (languages), all hash joins on
# token; no driver state. The e9-scaled numerator is DECIMAL(38,0)/
# HUGEINT on both engines (an int64 form wraps at num ~9.2e9 —
# reachable at ~1e7 tokens/lang — and Spark wraps SILENTLY where
# DuckDB errors).
# --------------------------------------------------------------------------
_CENTROID_SCALE = 1_000_000_000


def _centroid_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, lang, {TOKENS_SQL} AS t
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
    tokrows AS (SELECT doc_id, lang, unnest(t) AS tok FROM base),
    tf AS (
      SELECT doc_id, lang AS true_lang, tok, CAST(count(*) AS BIGINT) AS tf
      FROM tokrows GROUP BY 1, 2, 3),
    cent AS (
      SELECT lang AS lang_c, tok, CAST(count(*) AS BIGINT) AS c
      FROM tokrows GROUP BY 1, 2),
    tot AS (
      SELECT lang AS lang_c, CAST(count(*) AS BIGINT) AS n_l
      FROM tokrows GROUP BY 1),
    scores AS (
      SELECT tf.doc_id, tf.true_lang, cent.lang_c,
             CAST(sum(tf.tf * cent.c) AS BIGINT) AS num
      FROM tf JOIN cent ON cent.tok = tf.tok
      GROUP BY 1, 2, 3),
    scaled AS (
      SELECT s.doc_id, s.true_lang, s.lang_c,
             CAST((CAST(s.num AS HUGEINT) * {_CENTROID_SCALE}
                   + t.n_l // 2) // t.n_l AS HUGEINT) AS score_e9
      FROM scores s JOIN tot t ON t.lang_c = s.lang_c),
    pred AS (
      SELECT doc_id, true_lang, lang_c AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_e9 DESC, lang_c) AS rn
      FROM scaled)
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("doc_lang_centroid_confusion", oracle=_centroid_oracle())
def doc_lang_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of a token-centroid (Rocchio) language classifier,
    trained and scored on the corpus with exact scaled-integer scores."""
    from pyspark.sql import Window
    from ..functions.text_fns import tokens as _tokens

    tokrows = checkpoint_for_reuse(
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", F.explode(_tokens("text")).alias("tok"))
    )
    tf = tokrows.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "tok"
    ).agg(F.count(F.lit(1)).cast("long").alias("tf"))
    cent = tokrows.groupBy(F.col("lang").alias("lang_c"), "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = tokrows.groupBy(F.col("lang").alias("lang_c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_l")
    )
    scores = (
        tf.join(cent, "tok")
        .groupBy("doc_id", "true_lang", "lang_c")
        .agg(F.sum(F.col("tf") * F.col("c")).cast("long").alias("num"))
    )
    scaled = scores.join(F.broadcast(tot), "lang_c").select(
        "doc_id",
        "true_lang",
        "lang_c",
        # DECIMAL(38) scaling, not BIGINT: num*1e9 wraps int64 at num
        # ~9.2e9 (reachable at ~1e7 tokens/lang with common-token dot
        # products) — Spark would wrap SILENTLY where DuckDB errors
        # (review finding); decimal/HUGEINT gives ~1e20 dot headroom
        F.expr(
            f"CAST((CAST(num AS DECIMAL(38,0)) * {_CENTROID_SCALE} "
            f"+ n_l DIV 2) DIV n_l AS DECIMAL(38,0))"
        ).alias("score_e9"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_e9"), F.asc("lang_c")
    )
    pred = (
        scaled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("lang_c").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# q — Matryoshka truncated-dimension top-k: brute-force cosine over only
# the FIRST 16 of 64 dimensions (the matryoshka-embedding serving trick:
# score with a prefix of the vector, 4× less arithmetic and bandwidth),
# flagged against the full-dimension top-5 so the result quantifies the
# recall cost of truncation per query. Both rankings use the engine's
# standard round-to-9 + id tie-break, so the flag join is exact. Scale:
# two brute-force passes over |corpus| × |queries| with the query side
# broadcast — the truncated pass reads 1/4 of the vector bytes; the
# production path would pair the truncated scan with full-dim reranking
# of the shortlist (exactly the residual-IVFPQ serve pattern).
# --------------------------------------------------------------------------
_MATRYOSHKA_DIM = 16


def _matryoshka_oracle() -> str:
    def topk_cte(prefix: str, dim_filter: str) -> str:
        return f"""
    {prefix}c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    {prefix}cd AS (SELECT * FROM {prefix}c {dim_filter}),
    {prefix}norms AS (
      SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM {prefix}cd GROUP BY vec_id),
    {prefix}q AS (SELECT * FROM {prefix}cd WHERE vec_id < 10),
    {prefix}dots AS (
      SELECT q.vec_id AS qid, c.vec_id AS vec_id, sum(q.v * c.v) AS dot
      FROM {prefix}q q JOIN {prefix}cd c
        ON q.i = c.i AND q.vec_id <> c.vec_id
      GROUP BY 1, 2),
    {prefix}cos AS (
      SELECT d.qid, d.vec_id, round(d.dot / (nq.nrm * nc.nrm), 9) AS cos9
      FROM {prefix}dots d
      JOIN {prefix}norms nq ON nq.vec_id = d.qid
      JOIN {prefix}norms nc ON nc.vec_id = d.vec_id),
    {prefix}ranked AS (
      SELECT qid, vec_id, cos9,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY cos9 DESC, vec_id) AS BIGINT)
               AS rnk
      FROM {prefix}cos)"""

    return f"""
    WITH {topk_cte('t', f'WHERE i <= {_MATRYOSHKA_DIM}')},
    {topk_cte('f', '')}
    SELECT t.qid, t.vec_id, round(t.cos9, 6) AS cos, t.rnk,
           (f.vec_id IS NOT NULL) AS in_full_top5
    FROM tranked t
    LEFT JOIN (SELECT qid, vec_id FROM franked WHERE rnk <= 5) f
      ON f.qid = t.qid AND f.vec_id = t.vec_id
    WHERE t.rnk <= 5
    """


@register("embedding_matryoshka_topk", oracle=_matryoshka_oracle())
def embedding_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors scored on the first 16 of 64 dimensions,
    flagged with membership in the full-dimension top-5."""
    emb = table(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _MATRYOSHKA_DIM).alias("embedding")
    )
    topk_t = SIM.brute_force_topk(trunc, trunc.filter(F.col("vec_id") < 10), k=5)
    full = SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        "qid", "vec_id", F.lit(True).alias("in_full")
    )
    return topk_t.join(F.broadcast(full), ["qid", "vec_id"], "left").select(
        "qid",
        "vec_id",
        "cos",
        "rnk",
        F.coalesce("in_full", F.lit(False)).alias("in_full_top5"),
    )
