"""Deduplication operators for web-scale corpora.

Five family members, each shuffle-architected for 100 TB:

- **exact**: md5-of-normalized-text fingerprint → groupBy fingerprint.
  One shuffle on a short hash key; representative = min(doc_id) so the
  result is deterministic (``dropDuplicates`` would keep an arbitrary row).
- **n-gram Jaccard**: one prefix-filtered join (``_prefix_jaccard``,
  Bayardo et al. AllPairs) under the self-join and the corpus×new form:
  explode each doc's shortest sufficient prefix of sorted shingle hashes
  → join on the hash with a size filter → exact ``array_intersect``
  verify. Only docs sharing a prefix hash ever meet — no O(n²) cross
  join. Hot shingles should be df-filtered at real scale (drop shingles
  appearing in >X docs — see ``max_shingle_df``).
- **MinHash + LSH**: k seeded portable hashes → per-band signature →
  self-join on (band, band-signature) → exact-Jaccard verification of
  candidates only. Candidate generation cost is bands × docs; verification
  touches only colliding pairs.
- **SimHash**: 32-bit bit-majority signature over token hashes; equal
  signatures → near-dup buckets (Hamming-0 grouping; banded Hamming-k is a
  straightforward extension).
- **embedding cosine**: see ``ext.similarity``.

All hashes are the portable md5-based 60-bit family (``functions.text_fns``)
so a DuckDB oracle can recompute identical signatures.
"""

from __future__ import annotations



from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..functions.text_fns import md5_hash64, seeded_hash64, tokens, word_ngrams
from ..operators.generate import explode_fused
from ..operators.partitioning import checkpoint_for_reuse, repartition_for_compute

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # rows per band r = num_hashes // bands = 3
SIMHASH_BITS = 32


def first_owner_encode(df: DataFrame, id_col: str, pos_col: str):
    """``id·2³² + pos`` as ONE long Column — the hash-aggregable stand-in
    for ``min(struct(id, pos))``.

    Struct-min has no mutable fixed-width aggregate buffer, so any
    ``groupBy(...).agg(min(struct(...)))`` silently falls to
    SortAggregate on BOTH partial and final sides — measured at
    291 s vs 174 s on the despan gram stream at 100× (round 9). The
    scalar encode restores HashAggregate and orders identically to
    lexicographic ``(id, pos)`` under two bounds:

    - ``0 ≤ id < 2³¹`` — gated at EXECUTION time inside the emitted
      expression (CaseWhen is lazy: conforming rows pay one branch;
      the first violating row raises instead of silently overflowing
      long and electing a wrong winner — round-9 ADVICE).
    - ``0 ≤ pos < 2³²`` — guaranteed by construction at both call
      sites (``pos`` derives from ``posexplode``, an IntegerType).

    The id column's dtype is gated at PLAN-BUILD time: a string id
    would implicit-cast to double and lose precision past 2⁵³,
    producing a wrong winner with no error (round-9 ADVICE).
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"first_owner_encode requires an integral id column; "
            f"{id_col!r} is {dt.simpleString()} — a non-integral id "
            f"implicit-cast to double loses precision past 2^53 and "
            f"silently elects a wrong first owner"
        )
    doc = F.col(id_col).cast("long")
    return F.when(
        (doc < 0) | (doc >= F.lit(1 << 31)),
        F.raise_error(
            f"first_owner_encode requires 0 <= {id_col} < 2^31: the "
            f"doc*2^32+pos long encode overflows past that bound"
        ).cast("long"),
    ).otherwise(doc * F.lit(1 << 32) + F.col(pos_col))


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct n-word shingles per document, in column ``shingles``."""
    return repartition_for_compute(df).withColumn(
        "shingles", F.array_distinct(word_ngrams(text_col, n))
    )


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, keep_id): one row per distinct content."""
    from .text import fingerprint_md5

    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc, *keep, hs, n_sh): each doc's sorted, distinct 60-bit shingle
    hashes and their count. The joins key on the 8-byte hash, not the ~20-byte
    shingle text; a false match needs two different shingles with equal
    md5-60bit prefixes in the same doc pair (~2^-60 per pair; the oracle
    compares the text)."""
    sh = with_shingles(df, text_col).select(
        F.col(id_col).alias("doc"),
        *keep,
        F.array_sort(
            F.array_distinct(F.transform("shingles", md5_hash64))
        ).alias("hs"),
    )
    return sh.withColumn("n_sh", F.size("hs"))


def _prefix_jaccard(
    left: DataFrame, right: DataFrame, threshold: float, pair: Column
) -> DataFrame:
    """(d1, d2, jaccard ≥ threshold) over two ``(doc, hs, n_sh)`` frames,
    d1 from ``left`` and d2 from ``right``, by PREFIX FILTERING (Bayardo
    et al., "Scaling Up All Pairs Similarity Search", WWW'07).
    ``pair`` restricts candidates over ``a.doc``/``b.doc`` (the left and
    right sides); ``hs`` may be a subset of the doc's shingles as long as
    ``n_sh`` is its full count, and the intersection counts ``hs`` only.

    Jaccard ≥ t implies |x∩y| ≥ t·max(|x|,|y|), so two matching docs
    share a hash inside each one's first ``|hs| − ⌈t·n_sh⌉ + 1`` sorted
    hashes, and t·|larger| ≤ |smaller| prunes before the verify. Only
    the prefixes are exploded, and docs meet only on a shared PREFIX
    hash. The verify is exact: candidates re-join their full sorted
    arrays and intersect JVM-side (``array_intersect``). The bounds use
    t − 10⁻⁶: a verify that keeps the 6-digit rounded ratio keeps ratios
    down to t − 5·10⁻⁷, and the double t·n can land just above an
    integer (0.55·100 = 55.00000000000001), which would drop a pair.
    """
    tc = F.lit(threshold - 1e-6)

    def index(sh: DataFrame) -> DataFrame:
        size = F.greatest(F.size("hs") - F.ceil(tc * F.col("n_sh")) + 1, F.lit(0))
        return sh.select(
            "doc", "n_sh", F.explode(F.slice("hs", F.lit(1), size)).alias("s")
        )

    a, b = index(left).alias("a"), index(right).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & pair
            & (F.least("a.n_sh", "b.n_sh") >= tc * F.greatest("a.n_sh", "b.n_sh")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .dropDuplicates()
    )
    sa = left.select(F.col("doc").alias("d1"), F.col("hs").alias("hs1"), F.col("n_sh").alias("n1"))
    sb = right.select(F.col("doc").alias("d2"), F.col("hs").alias("hs2"), F.col("n_sh").alias("n2"))
    inter = F.size(F.array_intersect("hs1", "hs2"))
    jac = inter.cast("double") / (F.col("n1") + F.col("n2") - inter)
    return (
        cands.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("jaccard", portable_round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs (d1 < d2, jaccard >= threshold), see
    :func:`_prefix_jaccard`.

    ``max_shingle_df`` drops ultra-common shingles before the self-join —
    at corpus scale a stop-shingle appearing in 10^6 docs would otherwise
    create 10^12 candidate pairs (classic skew bomb). The intersection
    then counts only the kept shingles while ``n_sh`` stays the full
    count, so the Jaccard is a lower bound and the prefix bound still
    holds.
    """
    sh = checkpoint_for_reuse(_hashed_shingles(df, text_col, id_col))
    if max_shingle_df is not None:
        inv = sh.select("doc", "n_sh", F.explode("hs").alias("s"))
        hot = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("s")
        )
        sh = (
            inv.join(F.broadcast(hot), "s", "left_anti")
            .groupBy("doc", "n_sh")
            .agg(F.array_sort(F.collect_list("s")).alias("hs"))
        )
    return _prefix_jaccard(sh, sh, threshold, F.col("a.doc") < F.col("b.doc"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(doc, shingles, sig: array<bigint>[num_hashes]) — sig_i = min seeded hash."""
    sh = with_shingles(df, text_col).select(F.col(id_col).alias("doc"), "shingles")

    def _hasher(seed: int):
        # closure helper: a seed=seed default arg would make PySpark treat the
        # lambda as the 2-arg (element, index) transform variant
        return lambda s: seeded_hash64(s, seed)

    sig = F.array(
        *[
            F.array_min(F.transform("shingles", _hasher(i)))
            for i in range(num_hashes)
        ]
    )
    return sh.withColumn("sig", sig)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + exact-Jaccard verification.

    With r = DEFAULT_NUM_HASHES/DEFAULT_BANDS rows per band, a pair with
    Jaccard j collides with probability 1-(1-j^r)^bands (r=3, bands=4:
    j=0.5 → 66%, j=0.9 → ~100%). Verification is exact Jaccard on the
    shingle arrays of candidates only.
    """
    r = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    signed = minhash_signatures(df, text_col, id_col)
    # one band-struct array + explode: the signature (12 md5s per shingle)
    # is computed ONCE per doc, not once per band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws("-", *[F.col("sig")[bi * r + j] for j in range(r)])
                ).alias("bkey"),
            )
            for bi in range(DEFAULT_BANDS)
        ]
    )
    banded = signed.select(
        "doc", F.explode(band_structs).alias("b")
    ).select("doc", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    a = banded.alias("a")
    b = banded.alias("b")
    # candidates are id-pairs only (no array payload through the shuffle);
    # shingle arrays re-attach after dedup, so each pair is verified once
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    # re-attach shingle arrays from a signature-free plan — reusing `signed`
    # here would recompute the 12-hash signatures two more times
    sh = with_shingles(df, text_col).select(F.col(id_col).alias("doc"), "shingles")
    cands = (
        cands.join(sh.select(F.col("doc").alias("d1"), F.col("shingles").alias("sh1")), "d1")
        .join(sh.select(F.col("doc").alias("d2"), F.col("shingles").alias("sh2")), "d2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    jac = inter.cast("double") / (F.size("sh1") + F.size("sh2") - inter)
    return (
        cands.withColumn("jaccard", portable_round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


# Star contraction needs about log2(d) rounds on a diameter-d component
# (15 on a 20 000-node path, PERF.md), so only a graph far beyond any
# corpus reaches this bound; past it the loop raises instead of returning
# partial labels.
CC_MAX_ROUNDS = 40


def _edge_rows(df: DataFrame, *ends) -> DataFrame:
    """(u, v) — one row per ``(u, v)`` Column pair in ``ends`` for every
    row of ``df``: an explode, so ``df`` is read once however many edges
    each of its rows yields."""
    rows = F.array(*[F.struct(a.alias("u"), b.alias("v")) for a, b in ends])
    return df.select(F.explode(rows).alias("e")).select("e.u", "e.v")


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc, cluster) — connected components of the undirected graph whose
    edges are the ``(d1, d2)`` rows of ``pairs``.

    Turns pairwise near-dup output into dedup CLUSTERS (the form a curation
    pipeline actually consumes: keep min doc per cluster, drop the rest).
    ``cluster`` is the minimum doc id in the component, so the labeling is
    deterministic. Only docs that appear in a pair of two distinct docs
    are returned.

    Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over an edge
    list in which every node points at a smaller one:

    - large-star: point every neighbor v > u of node u at
      m = min(N(u) ∪ {u});
    - small-star: point u and each of its (smaller) neighbors at
      m = min(N(u)).

    Each round re-points whole subtrees at their local minimum, so a
    diameter-d component converges in about log₂ d rounds, where min-label
    propagation needs d. Each round reads its input frame once: it
    symmetrizes by explode and takes the minima with windows, with no join
    back. So the plan grows linearly in rounds even when the per-round
    ``checkpoint_for_reuse`` pin is skipped (plan audit).

    The loop stops when the edges form a forest of min-rooted stars: every
    source has one out-edge and no target is also a source. Each star is
    then a whole component, and its center is its minimum. Past
    ``CC_MAX_ROUNDS`` rounds it raises: a silently wrong clustering
    poisons every downstream keep/drop decision.
    """
    by_u = Window.partitionBy("u")
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    edges = pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v"))
    for _ in range(CC_MAX_ROUNDS):
        large = (
            _edge_rows(edges, (u, v), (v, u))
            .withColumn("m", F.least(u, F.min(v).over(by_u)))
            .filter(v > u)
            .select(v.alias("u"), m.alias("v"))
        )
        small = large.withColumn("m", F.min(v).over(by_u))
        edges = checkpoint_for_reuse(
            _edge_rows(small, (v, m), (u, m)).filter(u != v).dropDuplicates()
        )
        # a node breaks the star shape iff it is a source (points at a
        # smaller node) and has any other edge
        ends = _edge_rows(edges, (u, F.lit(True)), (v, F.lit(False)))
        broken = (
            ends.groupBy("u")
            .agg(F.max(v).alias("src"), F.count(F.lit(1)).alias("deg"))
            .filter(F.col("src") & (F.col("deg") > 1))
        )
        if broken.limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    return (
        _edge_rows(edges, (u, v), (v, v))
        .dropDuplicates()
        .select(u.alias("doc"), v.alias("cluster"))
    )


def exact_tagged(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, __text, fp, rep, gsz) — every doc tagged with its exact-dedup
    fingerprint, group representative (min id) and group size in ONE
    shuffle: a min/count window over the fingerprint hash-partition, text
    carried so downstream rep-only stages need no second scan or join.
    Eagerly checkpointed — it feeds multiple downstream branches
    (keep-set, rep-only pair generation, group attach), and checkpointing
    makes Spark compute the scan+shuffle once instead of per-branch.
    """
    from .text import fingerprint_md5

    grp_w = Window.partitionBy("fp")
    return checkpoint_for_reuse(
        docs.select(
            F.col(id_col).alias("doc"),
            F.col(text_col).alias("__text"),
            fingerprint_md5(text_col).alias("fp"),
        )
        .withColumn("rep", F.min("doc").over(grp_w))
        .withColumn("gsz", F.count(F.lit(1)).over(grp_w))
    )


def near_dup_clusters_staged(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, cluster) — near-dup clusters with exact dedup staged FIRST:
    pair generation runs only over exact-dedup representatives, then every
    exact duplicate is attached through its representative.

    Identical output to ``connected_components(ngram_jaccard_pairs(docs))``
    (property-tested), because exact duplicates form cliques (Jaccard =
    1 ≥ t) whose minimum is the representative, and any cross-group pair
    is mirrored by the representatives' pair. But the pair graph shrinks from quadratic
    in duplicate-group size to quadratic in REPRESENTATIVE near-dup group
    size — the 58× curation win measured on a 10×-replicated corpus
    (PERF.md) applies identically here.

    Membership contract preserved: a doc appears iff it is in ≥1 pair of
    the full graph — i.e. its exact group has ≥2 docs, or its
    representative has a representative-level near-dup pair.
    """
    tagged = exact_tagged(docs, text_col=text_col, id_col=id_col)
    doc_rep = tagged.select("doc", "rep", "gsz")
    reps = tagged.filter(F.col("doc") == F.col("rep")).select(
        F.col("doc").alias(id_col), F.col("__text").alias(text_col)
    )
    rep_pairs = ngram_jaccard_pairs(
        reps, text_col=text_col, id_col=id_col, threshold=threshold
    )
    rep_clusters = connected_components(rep_pairs).withColumnRenamed("doc", "rep")
    return (
        doc_rep.join(rep_clusters, "rep", "left_outer")
        .filter(F.col("cluster").isNotNull() | (F.col("gsz") >= 2))
        .select(
            "doc", F.coalesce("cluster", F.col("rep")).alias("cluster")
        )
    )


def simhash32(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc, simhash): 32-bit bit-majority signature over token hashes.

    Bit j of the signature is set iff strictly more than half of the
    document's tokens have bit j set in their 60-bit portable hash.
    Pure expression over the token-hash array — no shuffle at all.
    """
    # Explode to one row per token hash, project 32 static-shift bit columns
    # (whole-stage codegen, no higher-order functions), then ONE hash
    # aggregation per doc with map-side partial sums — the shuffle carries
    # 33 ints per token row and combines to one row per doc.
    one = F.lit(1).cast("long")
    tok_bits = explode_fused(
        repartition_for_compute(df).select(F.col(id_col).alias("doc"), text_col),
        F.transform(tokens(text_col), md5_hash64),
        "h",
        keep=["doc"],
    ).select(
        "doc",
        *[
            F.shiftright("h", j).bitwiseAND(one).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    counted = tok_bits.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[F.sum(f"b{j}").alias(f"c{j}") for j in range(SIMHASH_BITS)],
    )
    simhash = sum(
        [
            F.when(F.col(f"c{j}") * 2 > F.col("n_tok"), F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for j in range(SIMHASH_BITS)
        ],
        start=F.lit(0).cast("long"),
    )
    return counted.select("doc", simhash.alias("simhash"))


def simhash_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Pairs of docs with identical SimHash (Hamming-0 near-dup buckets)."""
    sh = simhash32(df, text_col, id_col)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.col("a.simhash").alias("simhash"),
        )
    )


SIMHASH_BANDS = 4  # 8 bits per band; pairs agreeing on >=1 band are candidates


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming, via banded
    SimHash (the generalization of Hamming-0 equality buckets).

    Pigeonhole: a pair within Hamming-k of a 32-bit signature split into
    4 bands must agree exactly on >=1 band whenever k < 4 — so candidate
    generation is 4 equi-joins on (band, band-bits) unioned by explode,
    and only candidates pay the popcount verification. No O(n²) compare.
    """
    sh = simhash32(df, text_col, id_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright("simhash", bi * 8).bitwiseAND(F.lit(255).cast("long")).alias("bits"),
            )
            for bi in range(SIMHASH_BANDS)
        ]
    )
    banded = sh.select(
        "doc", "simhash", F.explode(band_structs).alias("b")
    ).select("doc", "simhash", F.col("b.band").alias("band"), F.col("b.bits").alias("bits"))
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            hamming.cast("int").alias("hamming"),
        )
        .dropDuplicates(["d1", "d2"])
        .filter(F.col("hamming") <= max_hamming)
    )


def expand_pairs_over_exact_groups(
    rep_pairs: DataFrame, tagged: DataFrame
) -> DataFrame:
    """Reconstruct the FULL near-dup pair set from representative-level
    pairs: every (rep1, rep2, jaccard) fans out to all member pairs of the
    two exact groups (Jaccard is a function of the shingle SET, so members
    inherit the score), plus every exact group of size ≥ 2 contributes its
    within-group pairs at jaccard 1.0.

    This turns pair generation on a duplicate-heavy corpus from
    verify-quadratic into output-linear: candidates are generated and
    verified only among representatives; the expansion is two equi-joins
    sized by the OUTPUT, which any correct algorithm must emit anyway.
    """
    members = tagged.select("rep", "doc")
    m1 = members.select(F.col("rep").alias("d1"), F.col("doc").alias("m1"))
    m2 = members.select(F.col("rep").alias("d2"), F.col("doc").alias("m2"))
    cross = (
        rep_pairs.join(m1, "d1")
        .join(m2, "d2")
        .select(
            F.least("m1", "m2").alias("d1"),
            F.greatest("m1", "m2").alias("d2"),
            "jaccard",
        )
    )
    g = tagged.filter(F.col("gsz") >= 2).select("rep", "doc")
    a, b = g.alias("a"), g.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.rep") == F.col("b.rep"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def minhash_lsh_pairs_staged(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact dedup staged first — identical
    output to :func:`minhash_lsh_pairs` (identical docs have identical
    signatures, so band collisions respect exact groups; shared oracle).
    Measured on a 10×-replicated corpus: 124 s direct vs output-linear
    staged (PERF.md) — banding + verification touch only representatives.
    """
    tagged = exact_tagged(df, text_col=text_col, id_col=id_col)
    reps = tagged.filter(F.col("doc") == F.col("rep")).select(
        F.col("doc").alias(id_col), F.col("__text").alias(text_col)
    )
    rep_pairs = minhash_lsh_pairs(
        reps, text_col=text_col, id_col=id_col, threshold=threshold
    )
    return expand_pairs_over_exact_groups(rep_pairs, tagged)


def ngram_jaccard_pairs_staged(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-dedup-first twin of :func:`ngram_jaccard_pairs` — the
    prefix-filtered join over representatives only, then output-linear
    expansion across exact groups (see :func:`expand_pairs_over_exact_groups`
    for the equivalence argument). Shared oracle with the direct form."""
    tagged = exact_tagged(df, text_col=text_col, id_col=id_col)
    reps = tagged.filter(F.col("doc") == F.col("rep")).select(
        F.col("doc").alias(id_col), F.col("__text").alias(text_col)
    )
    rep_pairs = ngram_jaccard_pairs(
        reps, text_col=text_col, id_col=id_col, threshold=threshold
    )
    return expand_pairs_over_exact_groups(rep_pairs, tagged)


def cross_corpus_near_dups(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, dup_of, keep) for every NEW doc: the incremental-ingest
    form of near-dedup — a new document is dropped iff its n-gram Jaccard
    with ANY existing corpus document reaches ``threshold`` (``dup_of`` =
    smallest such corpus id; survivors carry NULL/keep=true).

    The same prefix-filtered join as :func:`ngram_jaccard_pairs` but
    bipartite: candidates come from corpus×new prefix-hash matches only,
    so a daily delta costs |delta|-proportional work against a
    pre-sharded corpus index instead of re-deduplicating the whole
    corpus. At 100 TB the corpus side of the index is written once
    (bucketed by shingle hash) and each ingest batch joins against it.
    """
    # each side is read twice (prefix index, verify): hash both sides in
    # one pass and pin them once
    side = "__new"
    both = checkpoint_for_reuse(
        _hashed_shingles(
            corpus.select(id_col, text_col, F.lit(False).alias(side)).unionByName(
                new.select(id_col, text_col, F.lit(True).alias(side))
            ),
            text_col,
            id_col,
            keep=(side,),
        )
    )
    dups = (
        _prefix_jaccard(
            both.filter(~F.col(side)).drop(side),
            both.filter(F.col(side)).drop(side),
            threshold,
            F.lit(True),
        )
        .groupBy(F.col("d2").alias("ndoc"))
        .agg(F.min("d1").alias("dup_of"))
    )
    return (
        new.select(F.col(id_col).alias("doc_id"))
        .join(dups, F.col("doc_id") == F.col("ndoc"), "left_outer")
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


def fuzzy_pairs_edit1(
    df: DataFrame,
    col: str,
    id_col: str,
) -> DataFrame:
    """(a_id, b_id, dist) — all pairs within Levenshtein distance 1, via
    deletion-variant blocking (the SymSpell trick): two strings within
    edit distance 1 always share a member of V(s) = {s} ∪ {s minus one
    char} (substitution: delete the differing position from both;
    insert/delete: deleting the extra char from the longer yields the
    shorter itself), so the candidate join is an equi-join on the 60-bit
    hash of the variant — output-linear, no q-gram hot-key bombs (a
    shared-prefix corpus makes positional q-grams collide corpus-wide;
    deletion variants collide only for true near-matches plus ~2^-60
    hash noise, which the exact levenshtein verification removes).

    Scale shape: ×(len+1) map-side fan-out, one hash self-join on the
    variant key, dropDuplicates on the pair, exact verification. Variant
    count scales with string LENGTH, not corpus size — for keys/names
    (tens of chars) the index is ~20× the input rows.

    Contract: ``id_col`` must be a UNIQUE key of ``df`` (round-10
    advice): the pair dedup below widens (a_id, b_id) with the name
    columns, which is only equivalent to an id-pair dedup when names
    are functionally dependent on ids. A caller passing a non-key id
    with differing names would get duplicate (a_id, b_id) output rows.
    (A round-11 name-grain rework — block + verify over DISTINCT names,
    expand to id pairs by joining back — was measured 4× SLOWER at both
    sf0.1 and the 10× evidence scale: the two expansion joins cost more
    than the single variant hash-join + distinct they replaced. Kept
    row-grain deliberately.)
    """
    s = F.col("__name")
    variants = F.array_distinct(
        F.concat(
            F.array(s),
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.concat(
                    s.substr(F.lit(1), i - F.lit(1)),
                    s.substr(i + F.lit(1), F.length(s)),
                ),
            ),
        )
    )
    base = repartition_for_compute(
        df.select(F.col(id_col).alias("__id"), F.col(col).alias("__name"))
    )
    inv = explode_fused(
        base,
        F.transform(variants, md5_hash64),
        "__v",
        keep=["__id", "__name"],
    )
    a = inv.select(
        F.col("__v").alias("v"), F.col("__id").alias("a_id"), F.col("__name").alias("__an")
    )
    b = inv.select(
        F.col("__v").alias("v"), F.col("__id").alias("b_id"), F.col("__name").alias("__bn")
    )
    # pair dedup as a PURE distinct over (ids, names): the name columns
    # are functionally dependent on the ids (one variant row per input
    # row), so adding them changes nothing semantically — but a subset
    # dropDuplicates compiles to first(__an)/first(__bn) aggregates whose
    # string buffers have no fixed-width mutable form, running BOTH
    # aggregate sides as SortAggregate over the whole candidate stream
    # (round-10 plan audit); the all-column distinct keeps string columns
    # in the GROUPING KEY, where HashAggregate handles them. Same shape
    # as the oracle's SELECT DISTINCT a_id, b_id, an, bn.
    cand = (
        a.join(b, "v")
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id", "__an", "__bn"])
    )
    dist = F.levenshtein(F.col("__an"), F.col("__bn"))
    return (
        cand.withColumn("dist", dist.cast("long"))
        .filter(F.col("dist") <= 1)
        .select("a_id", "b_id", "dist")
    )


def repeated_substring_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 30,
    keep_first: bool = False,
) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): maximal character spans
    that occur (≥ ``min_len`` chars, normalized text, 1-based inclusive
    positions) more than once in the corpus — the exact-substring dedup
    primitive of Lee et al.'s "Deduplicating Training Data" (there via a
    corpus suffix array; here via its Spark-native equivalent: every
    ``min_len``-char window hashed with the portable md5 hash64, windows
    whose hash occurs >1 time globally kept, and per-doc overlapping/
    adjacent duplicated windows merged into maximal spans with the
    running-max interval-merge window).

    A span means "this text also exists elsewhere (or repeats within the
    doc)" — the unit cut out before LM training to stop memorization.
    ``keep_first`` picks between the paper's two removal policies:
    False (default) spans EVERY occurrence of duplicated content (the
    content disappears from the corpus entirely); True exempts the
    corpus-wide FIRST occurrence of each window — global min (doc, pos),
    the paragraph-dedup convention — so exactly one copy of every
    duplicated region survives (two identical docs ⇒ the earlier one
    passes through untouched, the later one is fully spanned). Caveat,
    shared with the oracle (window-grain semantics): SELF-OVERLAPPING
    content (period < ``min_len``, e.g. a run of one character) is its
    own "later occurrence" at every shift, so keep_first still spans
    most of the first region; ordinary prose never self-overlaps at 30
    chars.

    Scale shape: the explode emits one (8-byte hash, int pos) row per
    character — heavy but linear, the same budget a distributed suffix
    array pays; the global duplicate filter is one hash shuffle with
    map-side pre-aggregation; the merge is a per-doc window. keep_first
    adds only a min(struct) to that same aggregate — the winner ships
    back in the existing join, no extra shuffle. At the petabyte tier,
    shard by content-defined chunks and run per shard.
    """
    from ..functions.text_fns import norm_text

    base = repartition_for_compute(docs).select(
        F.col(id_col).alias("doc_id"), norm_text(text_col).alias("__t")
    ).filter(F.length("__t") >= min_len)
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1), F.length("__t") - F.lit(min_len - 1)
                ),
                lambda i: md5_hash64(F.col("__t").substr(i, F.lit(min_len))),
            )
        ).alias("__p0", "h"),
    ).select("doc_id", (F.col("__p0") + 1).alias("pos"), "h")
    # winner as a scalar encode (doc_id·2³² + pos), NOT min(struct):
    # struct-min is unsupported by HashAggregate, so the whole gram
    # stream — the heaviest frame here — fell to SortAggregate (measured
    # 291 s vs 174 s for the remove-all form at 100×). The encode keeps
    # the aggregate hash-based and orders identically to (doc_id, pos)
    # under first_owner_encode's gated bounds (dtype at plan build,
    # doc_id < 2³¹ at execution; pos < 2³² by posexplode's int type) —
    # the same bounds as the DuckDB oracle's identical encode.
    fenc = first_owner_encode(grams, "doc_id", "pos")
    aggs = [F.count(F.lit(1)).alias("__n")]
    if keep_first:
        aggs.append(F.min(fenc).alias("__fenc"))
    dup_h = (
        grams.groupBy("h")
        .agg(*aggs)
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    # dup_h scales with DISTINCT corpus content — never broadcastable.
    # Catalyst's static estimate for a post-aggregation filter guesses
    # tiny and planned a broadcast join, which at 100x replication
    # collected a ~1.5 GB build side to the driver (maxResultSize
    # abort). shuffle_hash keeps it an executor-side join; dup_h is
    # already hash-partitioned by h from its own groupBy, so the only
    # new exchange is the grams side — and h is a uniform hash, so the
    # per-partition build is balanced.
    dup = grams.join(dup_h.hint("shuffle_hash"), "h")
    if keep_first:
        dup = dup.filter(fenc != F.col("__fenc")).drop("__fenc")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(min_len - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    gid = F.sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        flagged.withColumn("__g", gid)
        .groupBy("doc_id", "__g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_len - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def remove_repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 30,
    keep_first: bool = False,
) -> DataFrame:
    """(doc_id, clean_text, n_spans, removed_chars): the normalized text
    with every corpus-duplicated maximal span (from
    :func:`repeated_substring_spans`; ``keep_first=True`` exempts each
    window's corpus-wide first occurrence so exactly one copy of every
    duplicated region survives) cut out — the APPLY half of the
    Lee-et-al exact-substring dedup loop: detect the memorization-risk
    spans, then emit the training-ready corpus with them removed.

    The surgery is pure JVM string work, no Python hop: per doc the
    disjoint spans are collected (bounded: spans are maximal and
    non-adjacent, so there are at most len/min_len per doc), sorted, and
    a single ``F.aggregate`` fold walks them left to right with a
    (kept-so-far, cursor) struct accumulator, concatenating the
    inter-span gap segments and finally the tail after the last span.
    Docs with no duplicated span (including sub-``min_len`` docs) pass
    through unchanged via the left join.

    Positions in ``clean_text``/``removed_chars`` refer to the
    NORMALIZED text (the same coordinate system the spans index).
    """
    from ..functions.text_fns import norm_text

    spans = repeated_substring_spans(
        docs, text_col, id_col, min_len, keep_first=keep_first
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), norm_text(text_col).alias("__t")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    # per_doc scales with the number of spanned docs (the whole corpus
    # in a crawl-flood) — same never-broadcast rule as dup_h above
    joined = base.join(per_doc.hint("shuffle_hash"), "doc_id", "left")
    zero = F.struct(F.lit("").alias("kept"), F.lit(1).alias("cur"))
    folded = F.aggregate(
        "__spans",
        zero,
        lambda acc, s: F.struct(
            F.concat(
                acc["kept"],
                F.col("__t").substr(
                    acc["cur"], s["span_start"] - acc["cur"]
                ),
            ).alias("kept"),
            (s["span_end"] + F.lit(1)).alias("cur"),
        ),
    )
    # materialize the fold ONCE per row: higher-order aggregate
    # expressions are not common-subexpression-eliminated, so the struct
    # is projected here and kept/cur are read back as struct FIELDS in
    # the next projection (CollapseProject refuses to inline a non-cheap
    # producer referenced twice, so the O(len) fold runs exactly once)
    folded_stage = joined.select(
        "doc_id", "__t", "__spans", folded.alias("__f")
    )
    clean = F.concat(
        F.col("__f.kept"),
        F.col("__t").substr(
            F.col("__f.cur"), F.length("__t") - F.col("__f.cur") + 1
        ),
    )
    staged = folded_stage.select(
        "doc_id",
        "__t",
        "__spans",
        F.coalesce(clean, F.col("__t")).alias("clean_text"),
    )
    return staged.select(
        "doc_id",
        "clean_text",
        F.coalesce(F.size("__spans"), F.lit(0)).cast("long").alias("n_spans"),
        (F.length("__t") - F.length("clean_text")).cast("long").alias(
            "removed_chars"
        ),
    )


def shingle_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, n_shingles, n_novel, novelty) — per-document fraction of its
    DISTINCT n-word shingles that occur in no other document: the
    cross-document memorization/overlap census (a doc with novelty ≈ 0 is
    entirely assembled from phrases that exist elsewhere in the corpus;
    novelty ≈ 1 is fresh content). Complements the within-document
    repetition metrics (ext.text.repetition_features) with the
    between-document axis.

    Plan: the tokenize→shingle→hash pass runs ONCE and is checkpointed
    at DOC grain (one int64 array per doc — the most compact form of
    the expensive pass); ``n_shingles`` is then a free ``size()`` and
    the exploded stream has a single consumer, the hash-keyed DF
    census. Because per-doc shingles are distinct, a df=1 shingle's
    owning doc is exactly its ``min(doc)``, so per-doc novel counts
    come from the TINY df=1 slice of the census — the 26M-row
    stream-vs-census join-back and second stream-wide regroup the
    naive form pays (measured 13.8 s of a 55 s run at 500k docs) never
    happen; the only doc-keyed join is between two doc-grain frames.
    Shuffles carry 8-byte hashes, never shingle strings. Hash
    collisions merge shingles identically in the oracle (same portable
    hash family); distinctness is taken on the shingle STRINGS before
    hashing on both engines, so a cross-doc collision undercounts
    novelty by the same rule either way.
    """
    sh = with_shingles(df, text_col).select(
        F.col(id_col).alias("doc"), "shingles"
    )
    hashed = checkpoint_for_reuse(
        sh.select("doc", F.transform("shingles", md5_hash64).alias("hs"))
    )
    sizes = hashed.select("doc", F.size("hs").cast("long").alias("n_shingles"))
    e = explode_fused(hashed, "hs", "h", keep=["doc"])
    census = e.groupBy("h").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc").alias("owner")
    )
    novel = (
        census.filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return sizes.join(novel, "doc", "left").select(
        "doc",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        portable_round(
            F.coalesce("n_novel", F.lit(0)).cast("double") / F.col("n_shingles"),
            6,
        ).alias("novelty"),
    )
