"""Training-data curation plans: PII redaction, eval-set contamination,
repetition filtering, stratified sampling, sequence packing, export
shuffle.

Beyond-the-reference surface (the reference has no text pipeline;
SURVEY.md §2's LLM-pipeline extension). Every query here is a thin
registry adapter over ``ext.curation`` with a DuckDB oracle that
replays the identical deterministic recipe (md5 sample/shuffle keys,
fixed regex set, fixed thresholds), so the driver hash-compares values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext import curation as C
from ..functions.rounding import portable_round_sql
from ..sources.readers import table
from .registry import register
from .textops import NORM_SQL, TOKENS_SQL, SHINGLES_SQL, hash64_sql


def PR6(e: str) -> str:
    return portable_round_sql(e, 6)

_TOKS_CTE = f"toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)"

# --------------------------------------------------------------------------
# PII redaction. The synthetic corpus contains no PII (verified: zero
# digits/'@'), so the query plants deterministic PII per doc — an email
# always, a phone always, an IPv4 on every third doc — with the SAME
# expression on both engines, then counts and redacts. The operator under
# test (ext.curation.redact_pii / pii_counts) is general.
# --------------------------------------------------------------------------

_PII_EMAIL = C.PII_PATTERNS["email"]
_PII_PHONE = C.PII_PATTERNS["phone"]
_PII_IPV4 = C.PII_PATTERNS["ipv4"]

_PII_SYNTH_SQL = (
    "text || ' mail user' || CAST(doc_id AS VARCHAR) || "
    "'@example.org call +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
    "CASE WHEN doc_id % 3 = 0 THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
)

_PII_ORACLE = f"""
WITH synth AS (SELECT doc_id, {_PII_SYNTH_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
       regexp_replace(regexp_replace(regexp_replace(t,
           '{_PII_EMAIL}', '[EMAIL]', 'g'),
           '{_PII_PHONE}', '[PHONE]', 'g'),
           '{_PII_IPV4}', '[IPV4]', 'g') AS redacted
FROM synth
"""


@register("pii_redaction", oracle=_PII_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and mask emails / phone numbers / IPv4s per document —
    map-only (regex expressions inside whole-stage codegen, zero
    shuffles), the shape of a pre-training PII scrub pass."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail user"),
            did.cast("string"),
            F.lit("@example.org call +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" ip 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    counts = C.pii_counts("t")
    return synth.select(
        "doc_id",
        counts["n_email"],
        counts["n_phone"],
        counts["n_ipv4"],
        C.redact_pii("t").alias("redacted"),
    )


# --------------------------------------------------------------------------
# Eval-set contamination: fraction of each doc's distinct 3-gram shingles
# found anywhere in the "benchmark" slice (doc_id % 97 == 0).
# --------------------------------------------------------------------------

_CONTAM_ORACLE = f"""
WITH {_TOKS_CTE},
sh AS (SELECT doc_id, {SHINGLES_SQL} AS shingles FROM toks),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 97 = 0)
SELECT e.doc_id AS doc,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit,
       (floor(CAST((sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS contamination,
       sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) > 0.2 AS contaminated
FROM ex e LEFT JOIN bench b USING (shingle)
GROUP BY e.doc_id
"""


@register("benchmark_contamination", oracle=_CONTAM_ORACLE)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: per-document distinct-shingle overlap with a
    benchmark subset, flagged above 20% — explode + one hash join on the
    shingle + one aggregation back to doc grain."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return C.shingle_contamination(docs, bench, n=3, flag_threshold=0.2)


# --------------------------------------------------------------------------
# Gopher-style repetition filter.
# --------------------------------------------------------------------------

_REP_ORACLE = f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top FROM tc GROUP BY 1),
big AS (
  SELECT doc_id, len(t) AS n_tok,
         CASE WHEN len(t) < 2 THEN 0.0
              ELSE (floor(CAST((1.0 - len(list_distinct(list_transform(
                       range(1, len(t)),
                       i -> concat(t[i], ' ', t[i + 1]))))
                   / CAST(len(t) - 1 AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
         END AS dup_bigram_frac
  FROM toks)
SELECT b.doc_id AS doc,
       CAST(b.n_tok AS BIGINT) AS n_tok,
       (floor(CAST((top.top / CAST(b.n_tok AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS top_token_frac,
       b.dup_bigram_frac,
       (top.top / CAST(b.n_tok AS DOUBLE) <= {C.GOPHER_MAX_TOP_TOKEN_FRAC}
        AND b.dup_bigram_frac <= {C.GOPHER_MAX_DUP_BIGRAM_FRAC}) AS keep
FROM big b JOIN top USING (doc_id)
"""


@register("repetition_filter", oracle=_REP_ORACLE)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (most-frequent-token fraction,
    duplicate-bigram fraction) with a Gopher-rule keep flag."""
    docs = table(spark, sf_dir, "documents")
    return C.repetition_stats(docs)


# --------------------------------------------------------------------------
# Deterministic stratified sampling: 3 docs per (lang, source) stratum.
# --------------------------------------------------------------------------

_STRAT_ORACLE = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
WHERE rk <= 3
"""


@register("stratified_sample_docs", oracle=_STRAT_ORACLE)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota per-(lang, source) sample ranked by a portable md5
    pseudo-random key — replayable data-mixture sampling."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return C.stratified_sample(docs, ["lang", "source"], k=3)


# --------------------------------------------------------------------------
# Concat-and-chunk sequence packing at a 256-token budget.
# --------------------------------------------------------------------------

from .textops import _TOKS_NN_CTE  # noqa: E402  (r7 shared null-text CTE)

_PACK_ORACLE = f"""
WITH {_TOKS_NN_CTE},
t2 AS (SELECT doc_id, len(t) AS n_tok FROM toks),
c AS (SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t2)
SELECT doc_id AS doc,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum - n_tok AS BIGINT) AS start_offset,
       CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS bin_start,
       CAST(floor((cum - 1) / 256.0) AS BIGINT) AS bin_end
FROM c
"""


@register("pack_training_sequences", oracle=_PACK_ORACLE)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lay documents out contiguously in id order and cut 256-token
    training sequences; the global offset comes from the scalable
    range-partitioned running sum, not a one-task window. NULL-text
    docs have no tokens to pack — a NULL token count would poison the
    running offset — so they are excluded on both sides (r7 null
    fuzz)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return C.pack_sequences(docs, budget=256)


# --------------------------------------------------------------------------
# Seeded deterministic export shuffle.
# --------------------------------------------------------------------------

_SHUFFLE_ORACLE = """
SELECT doc_id AS doc,
       row_number() OVER (
         ORDER BY md5('7|' || CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos
FROM documents
"""


@register("export_shuffle_order", oracle=_SHUFFLE_ORACLE)
def export_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded, engine-portable global shuffle for training export —
    positions from the scalable global numbering over md5(seed|id)."""
    docs = table(spark, sf_dir, "documents")
    return C.export_shuffle(docs, seed=7)


# --------------------------------------------------------------------------
# C4-style heuristic quality battery (map-only rule scan).
# --------------------------------------------------------------------------

_C4_NRM = NORM_SQL
_C4_MWL = "(len(nrm) - (len(t) - 1)) / CAST(len(t) AS DOUBLE)"
_C4_ALPHA = "len(regexp_replace(nrm, '[^a-z]', '', 'g')) / CAST(len(nrm) AS DOUBLE)"
_C4_CURLY = "(contains(text, '{') OR contains(text, '}'))"
_C4_BOILER = "contains(nrm, 'lorem ipsum')"

_C4_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, {_C4_NRM} AS nrm, {TOKENS_SQL} AS t FROM documents)
SELECT doc_id AS doc,
       CAST(len(t) AS BIGINT) AS n_words,
       {PR6(_C4_MWL)} AS mean_word_len,
       {PR6(_C4_ALPHA)} AS alpha_ratio,
       {_C4_CURLY} AS has_curly,
       {_C4_BOILER} AS has_boilerplate,
       (len(t) BETWEEN {C.C4_WORDS[0]} AND {C.C4_WORDS[1]}
        AND {_C4_MWL} BETWEEN {C.C4_MEAN_WORD_LEN[0]} AND {C.C4_MEAN_WORD_LEN[1]}
        AND {_C4_ALPHA} >= {C.C4_MIN_ALPHA_RATIO}
        AND NOT {_C4_CURLY}
        AND NOT {_C4_BOILER}) AS keep
FROM base
"""


@register("c4_quality_filter", oracle=_C4_ORACLE)
def c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic quality rules (word-count bounds, mean word
    length, alphabetic ratio, boilerplate rejects) — a zero-shuffle
    whole-stage-codegen scan."""
    return C.c4_quality_flags(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Hashed linear quality scorer (fasttext-shape with a deterministic
# weight table, folded in-row with F.aggregate — no explode, no shuffle).
# --------------------------------------------------------------------------

_HQ_DIM, _HQ_SEED = 1024, 11


def _hq_weight_sql(tok_expr: str) -> str:
    from .textops import hash64_sql

    seeded_tok = "'" + str(_HQ_SEED) + "|' || " + tok_expr
    bucket = "(" + hash64_sql(seeded_tok) + " % " + str(_HQ_DIM) + ")"
    seeded_bucket = "'" + str(_HQ_SEED + 1) + "|' || CAST(" + bucket + " AS VARCHAR)"
    return hash64_sql(seeded_bucket) + " % 1001 / 1000.0 - 0.5"


_HQ_ORACLE = f"""
WITH {_TOKS_CTE},
s AS (
  SELECT doc_id, len(t) AS n_tok,
         (floor(CAST((list_sum(list_transform(t, x -> {_hq_weight_sql('x')}))
               / CAST(len(t) AS DOUBLE)) AS DOUBLE) * 1000000000.0 + 0.5) / 1000000000.0) AS s9
  FROM toks)
SELECT doc_id AS doc,
       CAST(n_tok AS BIGINT) AS n_tok,
       (floor(CAST((s9) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS score,
       round(1.0 / (1.0 + exp(-s9)), 6) AS prob,
       round(1.0 / (1.0 + exp(-s9)), 6) >= 0.5 AS keep
FROM s
"""


@register("quality_score_hashed", oracle=_HQ_ORACLE)
def quality_score_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality score over hashed token features with a logistic
    squash — the classifier-filter shape (CCNet/fasttext) with an
    engine-portable deterministic weight table."""
    return C.hashed_quality_score(
        table(spark, sf_dir, "documents"), dim=_HQ_DIM, seed=_HQ_SEED
    )


# --------------------------------------------------------------------------
# Data-mixture planning: per-source token shares vs a uniform target.
# --------------------------------------------------------------------------

_MIX_ORACLE = f"""
WITH {_TOKS_CTE},
d AS (SELECT source, t FROM documents JOIN toks USING (doc_id)),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t)) AS BIGINT) AS n_tokens
  FROM d GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tot, count(*) AS groups FROM per)
SELECT source, n_docs, n_tokens,
       (floor(CAST((n_tokens / CAST(tot AS DOUBLE)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS token_share,
       (floor(CAST((1.0 / groups) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS target_share,
       (floor(CAST(((1.0 / groups) / (n_tokens / CAST(tot AS DOUBLE))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
           AS sampling_weight
FROM per, tot
"""


@register("domain_mixture_plan", oracle=_MIX_ORACLE)
def domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token shares vs a uniform target mixture with the
    resampling weight a mixture-aware sampler would apply — one map-side
    combined aggregation plus a broadcast 1-row totals join."""
    return C.domain_mixture(table(spark, sf_dir, "documents"), ["source"])


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: k-means partition (shared with the IVF
# oracle's CTE chain) + within-cluster cosine prune. Threshold 0.3 chosen
# for the synthetic embeddings (max pairwise cosine ~0.5) so the output
# exercises both kept and dropped rows; production default is 0.95.
# --------------------------------------------------------------------------

_SEMDEDUP_T = 0.3


def _semantic_dedup_oracle() -> str:
    from .textops import kmeans_cassign_ctes

    return f"""
    WITH {kmeans_cassign_ctes()},
    pairsim AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid,
             round(sum(ca.v * cb.v) / (na.nrm * nb.nrm), 9) AS cos9
      FROM cassign a JOIN cassign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN c ca ON ca.vec_id = a.vec_id
      JOIN c cb ON cb.vec_id = b.vec_id AND cb.i = ca.i
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
    dups AS (
      SELECT bid AS vec_id, min(aid) AS dup_of
      FROM pairsim WHERE cos9 > {_SEMDEDUP_T} GROUP BY bid)
    SELECT ca.vec_id AS vid, ca.cluster, d.dup_of,
           d.dup_of IS NULL AS keep
    FROM cassign ca LEFT JOIN dups d USING (vec_id)
    """


@register("semantic_dedup", oracle=_semantic_dedup_oracle())
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic spherical-k-means
    partition, then drop every vector cosine-similar (> threshold) to an
    earlier member of its cluster — Σ m_c² pairwise work instead of n²."""
    from ..ext import similarity as SIM

    return SIM.semantic_dedup(
        table(spark, sf_dir, "embeddings"), threshold=_SEMDEDUP_T
    )


# --------------------------------------------------------------------------
# semantic_dedup with the cluster-size skew guard: clusters larger than the
# cap are split on md5-hyperplane sign-bit sub-buckets before the Σ m_c²
# pair stage (one hot cluster can otherwise dominate a 100 TB job). Cap 16
# at sf0.01's 500 vectors / 16 centroids (~31 avg cluster) so the guard
# actually triggers 1-2 bit splits in the checked output. The per-cluster
# bit depth is integer comparisons (no log2 — float log2 flips ceil at
# exact power-of-two ratios between engines).
# --------------------------------------------------------------------------

_SEMDEDUP_CAP = 16


def _semantic_dedup_capped_oracle() -> str:
    from .textops import kmeans_cassign_ctes
    from ..ext import similarity as SIM

    planes = SIM.SEMDEDUP_SPLIT_PLANES
    comp = (
        "(CAST(('0x' || substr(md5('plane' || p || '|' || CAST(i - 1 AS VARCHAR)), 1, 15)) "
        "AS BIGINT) % 2000001) / 1000000.0 - 1.0"
    )
    depth_case = " ".join(
        f"WHEN csz <= {_SEMDEDUP_CAP << b} THEN {b}" for b in range(planes)
    )
    return f"""
    WITH {kmeans_cassign_ctes()},
    pl AS (
      SELECT p, i, {comp} AS comp
      FROM (SELECT unnest(range({planes})) AS p),
           (SELECT DISTINCT generate_subscripts(embedding, 1) AS i FROM embeddings)),
    pdots AS (
      SELECT c.vec_id, pl.p, sum(c.v * pl.comp) AS d
      FROM c JOIN pl ON c.i = pl.i GROUP BY 1, 2),
    subbuck AS (
      SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sub
      FROM pdots GROUP BY 1),
    depths AS (
      SELECT cluster, CASE {depth_case} ELSE {planes} END AS b
      FROM (SELECT cluster, count(*) AS csz FROM cassign GROUP BY 1)),
    refined AS (
      SELECT ca.vec_id, ca.cluster,
             ca.cluster * {1 << planes} + (sb.sub % (1::BIGINT << d.b)) AS jkey
      FROM cassign ca JOIN depths d USING (cluster) JOIN subbuck sb USING (vec_id)),
    pairsim AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid,
             round(sum(ca.v * cb.v) / (na.nrm * nb.nrm), 9) AS cos9
      FROM refined a JOIN refined b
        ON a.jkey = b.jkey AND a.vec_id < b.vec_id
      JOIN c ca ON ca.vec_id = a.vec_id
      JOIN c cb ON cb.vec_id = b.vec_id AND cb.i = ca.i
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
    dups AS (
      SELECT bid AS vec_id, min(aid) AS dup_of
      FROM pairsim WHERE cos9 > {_SEMDEDUP_T} GROUP BY bid)
    SELECT r.vec_id AS vid, r.cluster, d.dup_of,
           d.dup_of IS NULL AS keep
    FROM refined r LEFT JOIN dups d USING (vec_id)
    """


@register("semantic_dedup_capped", oracle=_semantic_dedup_capped_oracle())
def semantic_dedup_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with the max-cluster-size skew guard: oversized
    k-means clusters are LSH-split so the per-cell pair cost is bounded by
    ~cap² regardless of how skewed the corpus's embedding density is."""
    from ..ext import similarity as SIM

    return SIM.semantic_dedup(
        table(spark, sf_dir, "embeddings"),
        threshold=_SEMDEDUP_T,
        max_cluster_size=_SEMDEDUP_CAP,
        plane_dim=64,
    )


# --------------------------------------------------------------------------
# PageRank over the document near-duplicate similarity graph (Jaccard
# >= 0.5 pairs, undirected) — centrality for canonical-copy selection.
# 3 synchronous power iterations, damping 0.85, per-iteration rounding to
# PAGERANK_DIGITS so both engines' float summation stays byte-identical.
# --------------------------------------------------------------------------

_PR_ITERS, _PR_DAMP = 3, 0.85


def _pagerank_oracle() -> str:
    # MATERIALIZED hints (round 9): `e` is referenced by every c{i}/d{i}
    # leg and r{i} chains on r{i-1}, so DuckDB's default CTE inlining
    # re-evaluates the expensive shingle self-join exponentially in the
    # iteration count (~25 s warm in the r8 sweep). Materializing the
    # graph legs and each iteration frame makes every leg evaluate once;
    # arithmetic unchanged (verified identical fetchall).
    from ..ext.graph import PAGERANK_DIGITS
    from .textops import _SH_CTE, _JACCARD_T

    r0 = portable_round_sql("1.0 / (SELECT n FROM nn)", PAGERANK_DIGITS)
    head = f"""
    WITH {_TOKS_CTE},
    {_SH_CTE},
    sizes AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    inv AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS s FROM sh),
    prs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jp AS MATERIALIZED (
      SELECT d1, d2 FROM prs p
      JOIN sizes sa ON sa.doc_id = p.d1
      JOIN sizes sb ON sb.doc_id = p.d2
      WHERE (floor(CAST((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0)
            >= {_JACCARD_T}),
    e AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM jp
          UNION ALL SELECT d2, d1 FROM jp),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    base AS MATERIALIZED (
      SELECT n.node, coalesce(o.outdeg, 0) AS outdeg
      FROM nodes n LEFT JOIN
        (SELECT src, count(*) AS outdeg FROM e GROUP BY 1) o
        ON o.src = n.node),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
    r0 AS MATERIALIZED (SELECT node, {r0} AS pr FROM base)"""
    iters = []
    for i in range(1, _PR_ITERS + 1):
        p = i - 1
        pr = portable_round_sql(
            f"""(1.0 - {_PR_DAMP}) / (SELECT n FROM nn)
                   + {_PR_DAMP} * (coalesce(c{i}.inflow, 0.0)
                       + (SELECT dmass FROM d{i}) / (SELECT n FROM nn))""",
            PAGERANK_DIGITS,
        )
        iters.append(f"""
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum(r.pr / b.outdeg) AS inflow
      FROM e JOIN r{p} r ON r.node = e.src JOIN base b ON b.node = e.src
      GROUP BY 1),
    d{i} AS MATERIALIZED (
      SELECT coalesce(sum(pr), 0.0) AS dmass
      FROM r{p} JOIN base USING (node) WHERE outdeg = 0),
    r{i} AS MATERIALIZED (
      SELECT b.node,
             {pr} AS pr
      FROM base b LEFT JOIN c{i} ON c{i}.node = b.node)""")
    return (
        head
        + ","
        + ",".join(iters)
        + f"\n    SELECT node AS doc, pr AS pagerank FROM r{_PR_ITERS}"
    )


@register("doc_pagerank", oracle=_pagerank_oracle())
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the Jaccard>=0.5 near-duplicate graph
    (both orientations of every pair): one shuffle per iteration, rank
    frame O(|V|), lineage cut per round by an eager pin."""
    from ..ext import dedup as D
    from ..ext import graph as G
    from ..operators.partitioning import checkpoint_for_reuse
    from .textops import _JACCARD_T

    # the prefix-filtered pair join (ext/dedup._prefix_jaccard): the
    # index explodes only each doc's |x|−⌈t·|x|⌉+1 smallest-hash
    # shingles, half the shuffle of the exhaustive count at sf0.1
    # (JACCARD_r16.json). The edge list feeds 3 power iterations, so
    # this is the whole query's dominant cost.
    # pairs is consumed TWICE by the orientation union below, and the
    # candidate verify (full-array intersect) is the expensive part of
    # its lineage — pin it once (standing two-consumer rule; measured at
    # the 10× evidence scale: the un-pinned union re-ran the verify per
    # branch, 78 s end-to-end vs ~25 s pinned+prefix).
    pairs = checkpoint_for_reuse(
        D.ngram_jaccard_pairs(
            table(spark, sf_dir, "documents"), threshold=_JACCARD_T
        ).select("d1", "d2")
    )
    edges = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).unionAll(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    return G.pagerank(edges, n_iters=_PR_ITERS, damping=_PR_DAMP).select(
        F.col("node").alias("doc"), "pagerank"
    )


# --------------------------------------------------------------------------
# Corpus-level paragraph dedup (RefinedWeb recipe). The synthetic corpus
# has no newline structure, so the query chunks 12-token pseudo-paragraphs;
# the operator's default splits real corpora on newlines.
# --------------------------------------------------------------------------

_PAR_CT = 12

_PARDEDUP_ORACLE = f"""
WITH {_TOKS_CTE},
chunks AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(t) / {_PAR_CT}.0) AS INT)),
           i -> array_to_string(t[(i * {_PAR_CT} + 1):(i * {_PAR_CT} + {_PAR_CT})], ' ')
         ) AS pars
  FROM toks),
ex AS (
  SELECT doc_id, unnest(pars) AS par,
         generate_subscripts(pars, 1) AS pos
  FROM chunks),
ranked AS (
  SELECT doc_id, pos, par,
         row_number() OVER (PARTITION BY par ORDER BY doc_id, pos) AS rn
  FROM ex)
SELECT doc_id AS doc,
       CAST(count(*) AS BIGINT) AS n_par,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN par END, ' ' ORDER BY pos), '')
           AS clean_text
FROM ranked GROUP BY doc_id
"""


@register("paragraph_dedup_docs", oracle=_PARDEDUP_ORACLE)
def paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level paragraph dedup: drop every paragraph already seen at
    a smaller (doc, position), reassemble surviving text per document —
    one shuffle on the paragraph, one back to doc grain."""
    return C.paragraph_dedup(
        table(spark, sf_dir, "documents"), chunk_tokens=_PAR_CT
    )


# --------------------------------------------------------------------------
# Mixture resampling EXECUTION: replicate each doc floor(w) times plus a
# stochastic-rounding extra copy drawn from a deterministic md5-uniform,
# so expected copies = the domain_mixture sampling weight exactly. The
# md5 draw makes a 100 TB resample restartable (no RNG state) and lets
# the oracle replay every copy decision.
# --------------------------------------------------------------------------

_RESAMPLE_ORACLE = f"""
WITH {_TOKS_CTE},
d AS (SELECT source, t, doc_id FROM documents JOIN toks USING (doc_id)),
per AS (
  SELECT source, CAST(sum(len(t)) AS BIGINT) AS n_tokens
  FROM d GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tot, count(*) AS groups FROM per),
mixw AS (
  SELECT source,
         (floor(CAST(((1.0 / groups) / (n_tokens / CAST(tot AS DOUBLE))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0) AS w
  FROM per, tot),
cop AS (
  SELECT doc_id, source,
         CAST(floor(w) + CASE WHEN
             CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 < w - floor(w)
           THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM documents JOIN mixw USING (source))
SELECT doc_id, source, n_copies,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
FROM cop WHERE n_copies > 0
"""


@register("mixture_resampled_docs", oracle=_RESAMPLE_ORACLE)
def mixture_resampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.mixture_resample(table(spark, sf_dir, "documents"), ["source"])


# --------------------------------------------------------------------------
# Weighted sampling (Efraimidis-Spirakis A-Res): per stratum keep the k
# docs with the largest u^(1/w) priority, u deterministic md5-uniform,
# w = n_chars — longer docs proportionally likelier. Ranking uses the
# equivalent log-domain key ln(u)/w (same order, far better float
# discrimination than u^(1/w), whose values crush against 1.0 for large
# w); rounding to 9 decimals + id tiebreak makes the rank boundary
# engine-exact. Fully distributed: one window per stratum, no RNG state.
# --------------------------------------------------------------------------

_WS_K = 2
_WS_U = (
    "(CAST(('0x' || substr(md5('samp|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " / 1152921504606846976.0)"
)

_WEIGHTED_ORACLE = f"""
SELECT doc_id, source, priority FROM (
  SELECT doc_id, source,
         round(ln(greatest({_WS_U}, 1e-18)) / n_chars, 9) AS priority,
         row_number() OVER (
           PARTITION BY source
           ORDER BY round(ln(greatest({_WS_U}, 1e-18)) / n_chars, 9) DESC,
                    doc_id) AS rk
  FROM documents)
WHERE rk <= {_WS_K}
"""


@register("weighted_sample_docs", oracle=_WEIGHTED_ORACLE)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text_fns import md5_hash64

    docs = table(spark, sf_dir, "documents")
    u = md5_hash64(
        F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))
    ) / F.lit(float(1 << 60))
    # zero-weight (empty) docs: NULL priority on both engines — DuckDB's
    # x/0 is NULL, Spark's ANSI mode raises, so null the divisor; DESC
    # NULLS LAST on both engines means they sample only when fewer than
    # K weighted docs exist (found by the full-registry regeneration fuzz)
    priority = F.round(
        F.log(F.greatest(u, F.lit(1e-18)))
        / F.when(F.col("n_chars") > 0, F.col("n_chars")),
        9,
    )
    w = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", priority.alias("priority"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WS_K)
        .drop("rk")
    )


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023): hashed bag-of-words
# importance ratio of a curated target domain vs the raw pool. The
# fold over per-bucket terms is sorted-order deterministic on both
# engines (F.aggregate vs list_reduce over the bucket-ordered list), so
# the float sum is bit-identical. The seeded portable hash keeps the
# bucket assignment oracle-replayable.
# --------------------------------------------------------------------------

_DSIR_DIM, _DSIR_SEED = 1024, 17
_DSIR_TARGET = "('src0','src1','src2')"


def _dsir_oracle() -> str:
    from .textops import hash64_sql

    bucket = hash64_sql(f"'{_DSIR_SEED}|' || tok") + f" % {_DSIR_DIM}"
    return f"""
    WITH {_TOKS_CTE.replace('doc_id,', 'doc_id, source,')},
    tk AS (SELECT doc_id, source IN {_DSIR_TARGET} AS is_t, unnest(t) AS tok
           FROM toks),
    b AS (SELECT doc_id, is_t, {bucket} AS bucket FROM tk WHERE tok <> ''),
    bc AS (SELECT bucket,
                  sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                  sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cq
           FROM b GROUP BY bucket),
    tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS tct,
                   CAST(sum(cq) AS DOUBLE) AS tcq FROM bc),
    lam AS (SELECT bucket,
                   ln((ct + 1.0) / (tct + {_DSIR_DIM}.0))
                 - ln((cq + 1.0) / (tcq + {_DSIR_DIM}.0)) AS lam
            FROM bc, tot),
    dc AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
    terms AS (SELECT doc_id, c, c * lam AS term, bucket FROM dc JOIN lam USING (bucket)),
    f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                 list_reduce(list_prepend(0.0, list(term ORDER BY bucket)),
                             (acc, x) -> acc + x) AS lw
          FROM terms GROUP BY doc_id)
    SELECT doc_id, n_tok,
           {PR6('lw')} AS log_weight,
           {PR6('lw')} >= 0.0 AS keep
    FROM f
    """


@register("dsir_importance_weights", oracle=_dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection scores: per-document log importance weight of
    a curated target domain (sources src0-src2) against the raw pool
    over 1024 hashed unigram buckets, add-one smoothed on both sides."""
    docs = table(spark, sf_dir, "documents")
    return C.dsir_log_weights(
        docs,
        F.col("source").isin("src0", "src1", "src2"),
        dim=_DSIR_DIM,
        seed=_DSIR_SEED,
    )


# --------------------------------------------------------------------------
# Corpus data card: the one-pass ROLLUP census (per language × source,
# per language, grand total) a training run's datasheet starts from.
# One map-side-combined aggregation over the corpus; the rolled frame is
# tiny (|langs|·|sources| rows) and is eagerly checkpointed because two
# consumers read it (the grand-total row joins back as the share
# denominator) — without the pin the corpus pass would run twice. All
# sums are integers; the only doubles are two final ratios rounded
# identically on both engines.
# --------------------------------------------------------------------------

_DATACARD_ORACLE = f"""
WITH t AS (SELECT lang, source, len({TOKENS_SQL}) AS n_tok, n_chars
           FROM documents),
r AS (SELECT lang, source,
             count(*) AS n_docs,
             sum(n_tok) AS n_tokens,
             sum(n_chars) AS n_chars,
             GROUPING(lang, source) AS gid
      FROM t GROUP BY ROLLUP (lang, source)),
tot AS (SELECT CAST(n_tokens AS DOUBLE) AS tot FROM r WHERE gid = 3)
SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       CAST(gid AS INTEGER) AS gid,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       {PR6('CAST(n_tokens AS DOUBLE) / n_docs')} AS avg_doc_tokens,
       {PR6('CAST(n_tokens AS DOUBLE) / tot')} AS token_share
FROM r, tot
"""


@register("corpus_datacard", oracle=_DATACARD_ORACLE)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasheet census of the documents corpus: doc/token/char totals at
    (lang, source), (lang) and grand grain, with per-group mean document
    length and share of corpus tokens."""
    from ..functions.text_fns import tokens as _tokens

    docs = table(spark, sf_dir, "documents").select(
        "lang", "source", F.size(_tokens("text")).alias("n_tok"), "n_chars"
    )
    return C.datacard_from_docs(docs)


# --------------------------------------------------------------------------
# Temperature-sampled language mixture (α = 0.5): sqrt is IEEE-correctly
# rounded on both engines, so — unlike a general pow(x, α) — the target
# shares are bit-identical; the denominator is a stratum-ordered fold.
# --------------------------------------------------------------------------

_TEMP_MIX_ORACLE = f"""
WITH t AS (SELECT lang, len({TOKENS_SQL}) AS n_tok FROM documents),
per AS (SELECT lang, count(*) AS n_docs, sum(n_tok) AS n_tokens
        FROM t GROUP BY lang),
d AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
             list_reduce(
               list_prepend(0.0,
                 list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY lang)),
               (acc, x) -> acc + x) AS sden
      FROM per)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       {PR6('CAST(n_tokens AS DOUBLE) / tot')} AS token_share,
       {PR6('sqrt(CAST(n_tokens AS DOUBLE)) / sden')} AS temp_share,
       {PR6('(sqrt(CAST(n_tokens AS DOUBLE)) / sden) / (CAST(n_tokens AS DOUBLE) / tot)')} AS sampling_weight
FROM per, d
"""


@register("lang_temperature_mixture", oracle=_TEMP_MIX_ORACLE)
def lang_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language α=0.5 temperature-sampling plan: natural token share,
    flattened target share, and the resampling weight that converts one
    into the other."""
    return C.temperature_mixture_sqrt(
        table(spark, sf_dir, "documents"), ["lang"]
    )


# --------------------------------------------------------------------------
# k-anonymity audit: group sizes over a quasi-identifier tuple
# (nation, market segment, $1000 balance band) — the privacy census a
# training-data pipeline runs before releasing user-derived records.
# Rows in groups of size 1 are re-identifiable; size < 5 is the classic
# suppression threshold. The balance band floors exact cents / 1e5: the
# quotient is either an exactly-representable integer (multiples of
# $1000) or >= 1/100000 away from one, so floor() is portable across
# engines — no half-ulp banding flips (see functions/rounding.py).
# --------------------------------------------------------------------------
@register(
    "customer_k_anonymity",
    oracle="""
    WITH qid AS (
      SELECT c_nationkey, c_mktsegment,
             floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
                   / 100000.0) AS bal_band
      FROM customer),
    groups AS (
      SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS k
      FROM qid GROUP BY 1, 2, 3)
    SELECT CASE WHEN k = 1 THEN 'unique'
                WHEN k < 5 THEN 'small'
                ELSE 'anonymous' END AS risk_class,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_customers,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM groups GROUP BY 1
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk census over (nation, segment, $1000 balance
    band) quasi-identifiers: group counts and sizes per risk class."""
    cust = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    qid = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(cents.cast("double") / 100000.0).alias("bal_band"),
    )
    groups = qid.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("k")
    )
    risk = F.when(F.col("k") == 1, "unique").when(F.col("k") < 5, "small").otherwise(
        "anonymous"
    )
    return groups.groupBy(risk.alias("risk_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_customers"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# --------------------------------------------------------------------------
# l-diversity audit: k-anonymity's companion — a quasi-identifier group
# can be large (k-anonymous) yet still leak if everyone in it shares the
# same SENSITIVE value. Here the sensitive attribute is the market
# segment within (nation, $1000 balance band) quasi-groups: groups whose
# distinct-segment count l falls below 3 are reportable. Two map-side
# aggregations, no windows.
# --------------------------------------------------------------------------
@register(
    "customer_l_diversity",
    oracle="""
    WITH qid AS (
      SELECT c_nationkey,
             floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
                   / 100000.0) AS bal_band,
             c_mktsegment
      FROM customer),
    groups AS (
      SELECT c_nationkey, bal_band,
             count(*) AS k,
             count(DISTINCT c_mktsegment) AS l
      FROM qid GROUP BY 1, 2)
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_customers,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           (l < 3) AS below_l3
    FROM groups GROUP BY 1
    """,
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-sensitive-value (market segment) census per
    (nation, $1000 balance band) quasi-group — the l-diversity audit."""
    cust = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    qid = cust.select(
        "c_nationkey",
        F.floor(cents.cast("double") / 100000.0).alias("bal_band"),
        "c_mktsegment",
    )
    groups = qid.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return groups.groupBy("l").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_customers"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        (F.first("l") < 3).alias("below_l3"),
    )


# --------------------------------------------------------------------------
# q — corpus snapshot diff (ext.curation.snapshot_diff): the dataset-
# versioning primitive — added/removed/changed rows between two corpus
# versions, compared by md5 fingerprint so the full-outer join moves
# ~50 bytes/doc instead of payloads. The two versions are derived
# deterministically from the documents table (doc_id % 13 == 0 missing
# from v1 = "added"; % 11 == 0 missing from v2 = "removed"; % 7 == 0
# rewritten in v2 = "changed") so the oracle reproduces both sides.
# --------------------------------------------------------------------------
@register(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' (rev 2)' ELSE text END
               AS text
      FROM documents WHERE doc_id % 11 <> 0),
    o AS (SELECT doc_id, md5(coalesce(text, '')) AS f,
                 CAST(length(coalesce(text, '')) AS BIGINT) AS c FROM v1),
    n AS (SELECT doc_id, md5(coalesce(text, '')) AS f,
                 CAST(length(coalesce(text, '')) AS BIGINT) AS c FROM v2)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.f IS NULL THEN 'added'
                WHEN n.f IS NULL THEN 'removed'
                WHEN o.f <> n.f THEN 'changed' END AS status,
           o.c AS chars_old, n.c AS chars_new
    FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
    WHERE (CASE WHEN o.f IS NULL THEN 'added'
                WHEN n.f IS NULL THEN 'removed'
                WHEN o.f <> n.f THEN 'changed' END) IS NOT NULL
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two deterministic versions of the documents corpus."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.filter(F.pmod("doc_id", F.lit(13)) != 0)
    v2 = docs.filter(F.pmod("doc_id", F.lit(11)) != 0).select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(7)) == 0,
            F.concat(F.col("text"), F.lit(" (rev 2)")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return C.snapshot_diff(v1, v2, "doc_id", "text")


# --------------------------------------------------------------------------
# q — deterministic exact-quota sampling: the k documents per language
# with the smallest portable hash of doc_id. Unlike Bernoulli sampleBy
# (probabilistic quota) or randomSplit (RNG-state-dependent), hash-rank
# sampling is reproducible across engines, clusters and reruns, composes
# with incremental ingest (a doc's hash never changes, so the sample only
# evolves at the margin), and hits quotas EXACTLY — the property a
# training-mix spec needs. Rank windows run per language over hash-pruned
# candidates; at 100 TB, pre-filter h < threshold the same way
# ext/sketches.kmv_sketch prunes before its rank sort.
# --------------------------------------------------------------------------
_HASH_SAMPLE_K = 5


def _hash_sample_oracle() -> str:
    from .textops import hash64_sql

    h = hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH hashed AS (
      SELECT lang, doc_id, {h} AS h FROM documents),
    ranked AS (
      SELECT lang, doc_id, h,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS rnk
      FROM hashed)
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id
    FROM ranked WHERE rnk <= {_HASH_SAMPLE_K}
    """


@register("doc_hash_sample_per_lang", oracle=_hash_sample_oracle())
def doc_hash_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota deterministic sample: k smallest-hash docs per lang."""
    from ..functions.text_fns import md5_hash64

    docs = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", md5_hash64(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _HASH_SAMPLE_K)
        .select("lang", "rnk", "doc_id")
    )


# --------------------------------------------------------------------------
# URL/domain-grain curation (round 8): crawl pipelines attribute
# duplication, apply blocklists and balance mixtures at the REGISTRABLE
# DOMAIN (site) grain. The synthetic corpus has no url column, so — the
# pii_redaction precedent — each query PLANTS a deterministic URL per doc
# from (source, doc_id, lang) with the SAME expression on both engines
# (subdomain/tld/port/query variation exercises the parser, including
# two-level public suffixes); the operators under test (ext.domains) are
# general over any url/host column.
# --------------------------------------------------------------------------

_URL_SUBS = ["www", "blog", "cdn", "shop"]
_URL_TLDS = ["co.uk", "com", "org"]
_DOMAIN_BLOCKLIST = ["src3.co.uk", "cdn.src7.com", "spam.example"]
_DOMAIN_QUOTA = 3

_URLS_CTE = """
urls AS (
  SELECT doc_id, lang, source, text,
         'https://' || (['www','blog','cdn','shop'])[CAST(doc_id % 4 AS INT) + 1]
         || '.' || source || '.'
         || (['co.uk','com','org'])[CAST(doc_id % 3 AS INT) + 1]
         || CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END
         || '/' || lang || '/page-' || CAST(doc_id AS VARCHAR) || '.html'
         || CASE WHEN doc_id % 5 = 2 THEN '?ref=feed' ELSE '' END AS url
  FROM documents),
hosts AS (
  SELECT doc_id, source, text,
         lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)) AS host
  FROM urls),
doms AS (
  SELECT doc_id, source, text, host,
         CASE WHEN len(string_split(host, '.')) <= 2 THEN host
              WHEN string_split(host, '.')[-2] || '.' ||
                   string_split(host, '.')[-1]
                   IN ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
                       'org.au','co.jp','ne.jp','or.jp','co.in','co.nz',
                       'co.za','co.kr','com.br','com.cn','com.mx','com.sg',
                       'com.tr')
                   AND len(string_split(host, '.')) >= 3
              THEN string_split(host, '.')[-3] || '.' ||
                   string_split(host, '.')[-2] || '.' ||
                   string_split(host, '.')[-1]
              ELSE string_split(host, '.')[-2] || '.' ||
                   string_split(host, '.')[-1]
         END AS domain
  FROM hosts)
"""


def _doc_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, text, url) with the planted deterministic URL."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sub = F.element_at(
        F.array(*[F.lit(s) for s in _URL_SUBS]), (did % 4 + 1).cast("int")
    )
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _URL_TLDS]), (did % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        "source",
        "text",
        F.concat(
            F.lit("https://"), sub, F.lit("."), F.col("source"), F.lit("."),
            tld,
            F.when(did % 11 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/"), F.col("lang"), F.lit("/page-"),
            did.cast("string"), F.lit(".html"),
            F.when(did % 5 == 2, F.lit("?ref=feed")).otherwise(F.lit("")),
        ).alias("url"),
    )


def _doc_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, text, host, domain) via the ext.domains parsers."""
    from ..ext import domains as DOM

    u = _doc_urls(spark, sf_dir).withColumn("host", DOM.url_host("url"))
    return u.withColumn("domain", DOM.registrable_domain("host")).drop("url")


_BOILER_SQL = (
    "CASE WHEN doc_id % 5 = 0 "
    "THEN 'boilerplate landing page for ' || source ELSE text END"
)

_DOMAIN_DEDUP_ORACLE = f"""
WITH {_URLS_CTE},
boiler AS (
  SELECT domain, {_BOILER_SQL} AS t FROM doms),
fp AS (
  SELECT domain,
         md5(trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))) AS f
  FROM boiler),
per AS (SELECT domain, f, count(*) AS c FROM fp
        WHERE f IS NOT NULL AND domain IS NOT NULL GROUP BY 1, 2)
SELECT domain, CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique_texts,
       {PR6('(sum(c) - count(*)) / CAST(sum(c) AS DOUBLE)')} AS dup_rate
FROM per GROUP BY domain
"""


@register("domain_dedup_rate", oracle=_DOMAIN_DEDUP_ORACLE)
def domain_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain exact-duplication census — the signal that
    prices boilerplate-heavy sites before sampling. Duplicates are
    planted deterministically (every fifth doc serves its source's
    boilerplate page — the real crawl shape this measures); the operator
    (ext.domains.domain_dedup_stats) is two map-side-combined
    aggregations over the shrinking fingerprint grain, no row-grain
    join anywhere."""
    from ..ext import domains as DOM

    d = _doc_domains(spark, sf_dir)
    did = F.col("doc_id")
    planted = d.withColumn(
        "text",
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("boilerplate landing page for "), F.col("source")
            ),
        ).otherwise(F.col("text")),
    )
    return DOM.domain_dedup_stats(planted, "domain", "text")


_DOMAIN_BLOCK_ORACLE = f"""
WITH {_URLS_CTE},
bl(e) AS (VALUES ('src3.co.uk'), ('cdn.src7.com'), ('spam.example'))
SELECT d.doc_id, d.host, d.domain
FROM doms d
WHERE NOT EXISTS (
  SELECT 1 FROM bl
  WHERE d.host = bl.e OR d.host LIKE '%.' || bl.e)
"""


@register("domain_blocklist_filter", oracle=_DOMAIN_BLOCK_ORACLE)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-aware domain blocklist: an entry blocks the exact host and
    every subdomain under it ('src3.co.uk' takes the whole site,
    'cdn.src7.com' only that subtree). Uses the DataFrame-blocklist form
    of ext.domains.blocklist_filter — explode the bounded suffix array,
    broadcast-semi-join, broadcast-anti-join the hit ids back: the
    corpus is scanned once and never shuffled."""
    from ..ext import domains as DOM

    d = _doc_domains(spark, sf_dir)
    bl = spark.createDataFrame(
        [(e,) for e in _DOMAIN_BLOCKLIST], "entry string"
    )
    return DOM.blocklist_filter(d, "host", bl, "doc_id").select(
        "doc_id", "host", "domain"
    )


_DOMAIN_SAMPLE_ORACLE = f"""
WITH {_URLS_CTE},
hashed AS (
  SELECT domain, doc_id, {hash64_sql('CAST(doc_id AS VARCHAR)')} AS h
  FROM doms),
ranked AS (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rnk
  FROM hashed)
SELECT domain, CAST(rnk AS BIGINT) AS rnk, doc_id
FROM ranked WHERE rnk <= {_DOMAIN_QUOTA}
"""


@register("domain_balanced_sample", oracle=_DOMAIN_SAMPLE_ORACLE)
def domain_balanced_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota deterministic sample per registrable domain (the
    domain-balancing pass of a training mixture): k smallest-md5 docs
    per domain. Skew-safe without hand-salting — WindowGroupLimit
    pre-prunes each map task to quota rows per domain below the
    exchange (plan-pinned in test_domains), so a hot head domain ships
    quota·partitions rows, never its corpus."""
    from ..ext import domains as DOM

    d = _doc_domains(spark, sf_dir)
    out = DOM.domain_balanced_sample(d, "domain", "doc_id", _DOMAIN_QUOTA)
    return out.select("domain", F.col("rnk").cast("long").alias("rnk"), "doc_id")


# Plant key: k = doc_id // 20 is the doc's row index WITHIN its source
# (sources are assigned round-robin, source = doc_id % n_sources), so
# plant decisions keyed on k hit every source and decorrelate from the
# tld choice (doc_id % 3) — a doc_id%5 plant would silently hit only
# the sources whose index is 0 mod 5 (found vacuous: 0 result rows).
# Variant modulus 7 chosen by enumeration: after the even-k filter the
# tld (doc_id % 3) and a %3/%4 variant stay correlated per source; %7
# yields 40 same-source pairs sharing 2 fps (kept) and 20 sharing 1
# (dropped by min_shared) — both sides of the threshold exercised.
_MIRROR_BOILER_SQL = (
    "CASE WHEN (doc_id // 20) % 7 = 0 THEN 'shared cookie banner text' "
    "WHEN (doc_id // 20) % 2 = 0 THEN 'boilerplate page ' "
    "|| CAST(((doc_id // 20) // 2) % 7 AS VARCHAR) || ' for ' || source "
    "ELSE text END"
)

_DOMAIN_MIRROR_ORACLE = f"""
WITH {_URLS_CTE},
boiler AS (
  SELECT domain, {_MIRROR_BOILER_SQL} AS t FROM doms),
fp AS (  -- NULL texts excluded outright (no content evidence): the
         -- operator filters NULL fingerprints before sizes AND pairs
  SELECT DISTINCT domain,
         md5(trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))) AS f
  FROM boiler
  WHERE t IS NOT NULL),
sizes AS (SELECT domain, count(*) AS n FROM fp GROUP BY 1),
calm AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 16),
pairs AS (
  SELECT a.domain AS domain_a, b.domain AS domain_b,
         CAST(count(*) AS BIGINT) AS shared_texts
  FROM fp a
  JOIN fp b ON b.f = a.f AND a.domain < b.domain
  JOIN calm c ON c.f = a.f
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT p.domain_a, p.domain_b, p.shared_texts,
       {PR6('p.shared_texts / CAST(least(na.n, nb.n) AS DOUBLE)')} AS overlap
FROM pairs p
JOIN sizes na ON na.domain = p.domain_a
JOIN sizes nb ON nb.domain = p.domain_b
"""


@register("domain_mirror_overlap", oracle=_DOMAIN_MIRROR_ORACLE)
def domain_mirror_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain mirror detection: domain pairs sharing >= 2 distinct
    normalized-text fingerprints, scored by the containment coefficient
    shared/min(|A|,|B|) — duplication ACROSS sites, the complement of
    domain_dedup_rate's within-site census. Plants source-scoped
    boilerplate (mirrors within a source's three tld variants) AND a
    universal cookie-banner text that the hot-fingerprint guard
    (max_fp_domains=16) must drop — a fingerprint on 60 domains is
    universal boilerplate, not mirroring, and C(60,2) pair fan-out is
    exactly what the guard exists to prevent. Inverted-index pair
    enumeration: double explode of the per-fp (capped) domain set, never
    an all-pairs domain join."""
    from ..ext import domains as DOM

    d = _doc_domains(spark, sf_dir)
    k = F.floor(F.col("doc_id") / 20).cast("long")
    planted = d.withColumn(
        "text",
        F.when(k % 7 == 0, F.lit("shared cookie banner text"))
        .when(
            k % 2 == 0,
            F.concat(
                F.lit("boilerplate page "),
                (F.floor(k / 2).cast("long") % 7).cast("string"),
                F.lit(" for "),
                F.col("source"),
            ),
        )
        .otherwise(F.col("text")),
    )
    return DOM.domain_mirror_pairs(
        planted, "domain", "text", min_shared=2, max_fp_domains=16
    )


# --------------------------------------------------------------------------
# URL canonicalization (round 8): collapse the many spellings of one
# resource (case, default port, trailing slash, tracking params, param
# order, fragment) before URL-grain dedup — the crawl-frontier step that
# precedes content dedup. The plant writes FOUR deterministic raw
# variants per logical page; the oracle re-canonicalizes INDEPENDENTLY
# with DuckDB string/list ops, so the hash compare verifies the
# normalization semantics themselves, not just the plant.
# --------------------------------------------------------------------------

_CANON_HOST_SQL = "'www.site' || CAST((doc_id // 4) % 50 AS VARCHAR) || '.com'"
_CANON_PAGE_SQL = "'/page/' || CAST(doc_id // 4 AS VARCHAR)"

_CANON_URLS_SQL = f"""
curls AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'https://' || {_CANON_HOST_SQL} || {_CANON_PAGE_SQL}
        || CASE WHEN (doc_id // 4) % 2 = 0 THEN '?a=1&b=2' ELSE '' END
      WHEN 1 THEN 'HTTPS://' || upper({_CANON_HOST_SQL}) || ':443'
        || {_CANON_PAGE_SQL} || '/'
        || CASE WHEN (doc_id // 4) % 2 = 0 THEN '?b=2&a=1' ELSE '' END
      WHEN 2 THEN 'https://' || {_CANON_HOST_SQL} || {_CANON_PAGE_SQL}
        || CASE WHEN (doc_id // 4) % 2 = 0
                THEN '?b=2&utm_source=feed&a=1&fbclid=xyz'
                ELSE '?utm_source=feed' END
      ELSE 'https://' || {_CANON_HOST_SQL} || {_CANON_PAGE_SQL} || '//'
        || CASE WHEN (doc_id // 4) % 2 = 0 THEN '?a=1&b=2' ELSE '' END
        || '#frag'
    END AS url
  FROM documents)
"""

def _canon_chain(alias: str, where: str = "TRUE") -> str:
    """DuckDB CTE chain re-canonicalizing ``curls`` rows INDEPENDENTLY of
    the engine (string/list ops, no shared code with canonical_url) —
    parametrized (round 9) so the frontier oracle can canonicalize its
    batch and seen splits separately while url_canonical_collapse keeps
    the original whole-corpus chain."""
    return f"""
parts_{alias} AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS proto,
         lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
         regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS port,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM curls WHERE {where}),
norm_{alias} AS (
  SELECT doc_id, url, proto, host,
         CASE WHEN port <> ''
                   AND NOT (proto = 'http' AND port = '80')
                   AND NOT (proto = 'https' AND port = '443')
              THEN ':' || port ELSE '' END AS portpart,
         CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(path, '/+$', '') END AS path_norm,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
             p -> p <> ''
                  AND NOT starts_with(string_split(p, '=')[1], 'utm_')
                  AND NOT list_contains(
                        ['fbclid','gclid','msclkid','ref','mc_cid','mc_eid'],
                        string_split(p, '=')[1]))), '&') AS qs
  FROM parts_{alias}),
canon_{alias} AS (
  SELECT doc_id, url,
         proto || '://' || host || portpart || path_norm
           || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
  FROM norm_{alias})"""


_CANON_ORACLE = f"""
WITH {_CANON_URLS_SQL},
{_canon_chain("all")}
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT {hash64_sql('url')}) AS BIGINT) AS n_raw_distinct
FROM canon_all GROUP BY 1
"""


def _canon_url_plant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url) — the deterministic four-spellings-per-page plant
    both URL queries share (Spark twin of ``_CANON_URLS_SQL``)."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    g = F.floor(did / 4).cast("long")
    host = F.concat(
        F.lit("www.site"), (g % 50).cast("string"), F.lit(".com")
    )
    page = F.concat(F.lit("/page/"), g.cast("string"))
    realq = lambda s: F.when(g % 2 == 0, F.lit(s)).otherwise(F.lit(""))
    v = (did % 4).cast("int")
    raw = (
        F.when(v == 0, F.concat(F.lit("https://"), host, page, realq("?a=1&b=2")))
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(host), F.lit(":443"), page,
                F.lit("/"), realq("?b=2&a=1"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"), host, page,
                F.when(
                    g % 2 == 0, F.lit("?b=2&utm_source=feed&a=1&fbclid=xyz")
                ).otherwise(F.lit("?utm_source=feed")),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, page, F.lit("//"),
                realq("?a=1&b=2"), F.lit("#frag"),
            )
        )
    )
    return docs.select("doc_id", raw.alias("url"))


@register("url_canonical_collapse", oracle=_CANON_ORACLE)
def url_canonical_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-grain dedup census after canonicalization
    (ext.domains.canonical_url): each logical page's four raw spellings
    (case/default-port, trailing slash, tracking params + param order,
    fragment) must collapse to ONE canonical key — map-only
    normalization + one map-side-combined aggregate."""
    from ..ext import domains as DOM
    from ..functions.text_fns import md5_hash64

    u = _canon_url_plant(spark, sf_dir)
    # distinct RAW variants counted over the portable 60-bit md5 of the
    # url, not the url string itself, so the distinct-agg shuffle carries
    # 8-byte hashes in place of raw URLs. Measured at the 1000x smoke:
    # 186 -> 173 MB only, because the CANONICAL group key (similar
    # length, must ride every pair) dominates the compressed shuffle —
    # the hash still wins on real URL tables where raw URLs are much
    # longer than their canonical form (query-string-heavy corpora).
    # Exact up to md5_hash64 collisions — negligible per canonical group.
    return (
        u.select("url", DOM.canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct(md5_hash64(F.col("url")))
            .cast("long")
            .alias("n_raw_distinct"),
        )
    )


# --------------------------------------------------------------------------
# Crawl-frontier incremental URL dedup (round 9): "of this batch of
# discovered URLs, which resources have we never fetched?" — the
# incremental plane of r8's canonical_url. Split of the shared plant:
# spelling v=0 of pages g%3!=0 is the already-crawled SEEN set; the
# batch is spellings v∈{1,2} of EVERY page, so each page contributes a
# within-batch duplicate spelling pair and only pages g%3==0 are truly
# novel. Expected: one row per novel page, smallest discovering doc_id
# (= 4g+1, the v=1 spelling). The oracle re-canonicalizes both splits
# independently (the parametrized _canon_chain) and anti-joins exactly;
# the engine must get canonicalization, within-batch rep selection AND
# the bloom prescreen's no-false-negative contract right to match.
# --------------------------------------------------------------------------

_FRONTIER_ORACLE = f"""
WITH {_CANON_URLS_SQL},
{_canon_chain("b", "CAST(doc_id % 4 AS INT) IN (1, 2)")},
{_canon_chain("s",
              "CAST(doc_id % 4 AS INT) = 0 AND (doc_id // 4) % 3 <> 0")},
reps AS (
  SELECT canonical_url, min(doc_id) AS doc_id
  FROM canon_b GROUP BY 1)
SELECT r.doc_id, r.canonical_url
FROM reps r
WHERE NOT EXISTS (
  SELECT 1 FROM canon_s s WHERE s.canonical_url = r.canonical_url)
"""


@register("frontier_novel_urls", oracle=_FRONTIER_ORACLE)
def frontier_novel_urls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier incremental URL dedup
    (ext.domains.frontier_novel_urls): canonicalize a discovered-URL
    batch, collapse within-batch spellings to one rep, prescreen the
    SEEN-set scan with a map-only literal Bloom of the batch (the seen
    set is never shuffled or joined in full), and broadcast-anti-join
    the bloom survivors — exact novel set out."""
    from ..ext import domains as DOM

    batch, seen = _frontier_split(spark, sf_dir)
    return DOM.frontier_novel_urls(batch, seen, "url", "doc_id")


def _frontier_split(spark: SparkSession, sf_dir: str):
    """(batch, seen) halves of the shared URL plant — ONE definition for
    the flat query, the bucketed query and the bucketed-layout cache:
    the bucketed query shares `_FRONTIER_ORACLE` with the flat one on
    the premise that both compute over the IDENTICAL seen set, so the
    split must never be edited in one copy alone (r10 review)."""
    from ..ext import domains as DOM

    u = _canon_url_plant(spark, sf_dir)
    did = F.col("doc_id")
    batch = u.filter((did % 4 == 1) | (did % 4 == 2))
    seen = u.filter(
        (did % 4 == 0) & (F.floor(did / 4).cast("long") % 3 != 0)
    ).select(DOM.canonical_url("url").alias("canonical_url"))
    return batch, seen


_FRONTIER_BUCKETS = 64


def _bucketed_seen_for(spark: SparkSession, sf_dir: str) -> str:
    """Content-cached bucket-partitioned seen set for the frontier split
    (the ``frontier_seen_write`` layout, r10): built once per distinct
    documents parquet, reused across calls — the serve-side analogue of
    the persisted ANN index caches."""
    import hashlib
    import os
    import tempfile

    from ..ext import domains as DOM

    src = os.path.join(sf_dir, "documents.parquet")
    parts = [os.path.abspath(src), f"buckets={_FRONTIER_BUCKETS}"]
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
    digest = hashlib.sha1("|".join(parts).encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "bdo_frontier_seen")
    path = os.path.join(root, digest)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # stage → atomic rename, the _content_index_for pattern: a
        # check-then-overwrite into the shared path would let two
        # concurrent sessions interleave part files (r10 review); the
        # rename loser just cleans up its staging dir
        import shutil

        _, seen = _frontier_split(spark, sf_dir)
        os.makedirs(root, exist_ok=True)
        staging = tempfile.mkdtemp(prefix=f".{digest}-", dir=root)
        try:
            DOM.frontier_seen_write(
                seen, staging, n_buckets=_FRONTIER_BUCKETS
            )
            os.rename(staging, path)
        except OSError:
            pass  # lost the publish race; winner's copy is complete
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise RuntimeError(f"bucketed seen cache failed to publish {path}")
    return path


@register("frontier_novel_urls_bucketed", oracle=_FRONTIER_ORACLE)
def frontier_novel_urls_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same novel-URL contract as `frontier_novel_urls`, served from
    the round-10 bucket-partitioned seen layout
    (ext.domains.frontier_seen_write): the seen scan carries a literal
    IN partition filter over the CANDIDATES' md5 buckets, so pruning
    happens at file-listing time and a crawl micro-batch reads
    candidate-bucket bytes, not |seen| (measured 22.7 → 8.7 s/batch at
    50 M seen rows, PERF.md r10 item 3). Shares the exact oracle with
    the flat form — the layout must never change the answer."""
    from ..ext import domains as DOM

    u = _canon_url_plant(spark, sf_dir)
    did = F.col("doc_id")
    batch = u.filter((did % 4 == 1) | (did % 4 == 2))
    seen_b = DOM.frontier_seen_read(
        spark, _bucketed_seen_for(spark, sf_dir)
    )
    return DOM.frontier_novel_urls(
        batch, seen_b, "url", "doc_id",
        seen_bucket_col="bucket", n_buckets=_FRONTIER_BUCKETS,
    )
