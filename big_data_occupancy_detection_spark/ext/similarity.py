"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k of a (small, broadcast) query set
  against the full corpus. The corpus side never shuffles: queries are
  broadcast, the dot products run scan-parallel, and the per-query ranking
  window partitions by query id. This is the correctness baseline.
- ``lsh_bucketed_topk``: random-hyperplane LSH scale path — vectors hash to
  a sign-bit bucket; search touches only the query's bucket. Planes are
  derived from the portable md5 hash family so bucketing is deterministic
  and reproducible across engines/runs.

All vector math is double-precision ``zip_with``/``aggregate`` Catalyst
expressions (JVM codegen, no Python in the hot path).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.generate import explode_fused
from ..functions.vector_fns import cosine_similarity, dot, l2_norm
from ..operators.partitioning import checkpoint_for_reuse, repartition_for_compute

LSH_PLANES = 4   # 2^4 = 16 buckets
LSH_PROBE_HAMMING = 1  # multiprobe: also search buckets within this Hamming distance



def _flips_of(bucket_col: str, planes: int):
    """Multiprobe expansion array: the bucket plus every 1-bit flip."""
    return F.array(
        F.col(bucket_col),
        *[F.col(bucket_col).bitwiseXOR(F.lit(1 << j)) for j in range(planes)],
    )

def _self_match(qid_type):
    """Self-exclusion predicate against the corpus's numeric ``vec_id``
    that stays safe for NON-numeric query ids. Spark's cross-type
    comparison casts both sides, and a failed cast yields NULL — a bare
    ``vec_id != qid`` with a string qid therefore evaluates NULL on every
    row and silently drops the entire result. Any NUMERIC qid (integral,
    float/double, decimal) compares natively via Spark's numeric widening
    — exactly the old ``vec_id != qid`` semantics; string qids compare
    against the id's decimal rendering (self-exclusion only applies when
    the query id lives in the corpus id domain); any other qid type has a
    disjoint id domain — exclude nothing."""
    from pyspark.sql.types import NumericType, StringType

    if isinstance(qid_type, NumericType):
        return F.col("vec_id") == F.col("qid")
    if isinstance(qid_type, StringType):
        return F.col("vec_id").cast("string") == F.col("qid")
    return F.lit(False)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-match excluded).

    Ranking is on the cosine rounded to 9 decimals with the corpus id as
    tiebreaker — fully deterministic and engine-portable.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = repartition_for_compute(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    )
    cos = F.round(cosine_similarity("qvec", "cvec"), 9)
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(~_self_match(queries.schema[id_col].dataType))
        .select("qid", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


NEAR_PAIRS_EXACT_MAX_ROWS = 50_000


def near_pairs_threshold(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = NEAR_PAIRS_EXACT_MAX_ROWS,
) -> DataFrame:
    """All vector pairs (a < b) with cosine >= threshold — embedding near-dup.

    O(n²) form for correctness checking; :func:`lsh_near_pairs` is the
    scale path (bucket first, pair only within buckets). Because the cross
    join is quadratic, this raises when the input exceeds ``max_rows``
    (one cheap count — parquet row-group metadata at best, one scan at
    worst — versus n²/2 cosine evaluations it may prevent). Pass
    ``max_rows=None`` to force the exact form on a big corpus.
    """
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"near_pairs_threshold is O(n²) and the input has {n:,} rows "
                f"(> {max_rows:,}); use lsh_near_pairs (same semantics, "
                f"LSH-bucketed) or pass max_rows=None to override"
            )
    # norm once per row; per-pair cost is then one fold (the dot) — values
    # bit-identical to cosine_similarity (same op order in the division)
    a = repartition_for_compute(
        emb.select(
            F.col(id_col).alias("a_id"),
            F.col(vec_col).alias("a_vec"),
            l2_norm(vec_col).alias("a_nrm"),
        )
    )
    b = emb.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        l2_norm(vec_col).alias("b_nrm"),
    )
    cos = F.when(
        F.col("a_nrm") * F.col("b_nrm") > 0,
        dot("a_vec", "b_vec") / (F.col("a_nrm") * F.col("b_nrm")),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def _plane_component(plane: int, dim_index) -> F.Column:
    """Deterministic pseudo-random plane component in [-1, 1): derived from
    the portable hash of (plane, dim) so any engine can rebuild the planes."""
    from ..functions.text_fns import md5_hash64

    h = md5_hash64(F.concat_ws("|", F.lit(f"plane{plane}"), dim_index.cast("string")))
    return (h % F.lit(2000001)).cast("double") / F.lit(1000000.0) - F.lit(1.0)


def _plane_values(plane: int, dim: int) -> list[float]:
    """The identical plane components computed driver-side: same md5, same
    modulus, same double arithmetic as :func:`_plane_component`, so the
    literal-array fast path below is bit-for-bit the expression path."""
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"plane{plane}|{i}".encode()).hexdigest()[:15], 16)
        out.append((h % 2000001) / 1000000.0 - 1.0)
    return out


def with_lsh_bucket(
    emb: DataFrame,
    planes: int = LSH_PLANES,
    vec_col: str = "embedding",
    plane_dim: int | None = None,
) -> DataFrame:
    """Add an integer ``bucket`` column: sign bits of <v, plane_p> dot products.

    ``plane_dim``: when the embedding dimension is known statically, pass it
    — the plane components then travel as small literal arrays (dim·planes
    doubles) instead of per-row md5 expressions. Bucketing a corpus
    otherwise evaluates planes·dim md5 hashes PER ROW for values that are
    row-independent constants (measured: bucketing cost drops ~4×;
    end-to-end lsh_near_pairs 5.4→4.4 s at sf0.1 — candidate verification
    dominates there). Values are bit-identical (same md5 → same modulus →
    same double ops), so oracles need no change. With ``None`` the general
    expression path handles any dimension. Caller must pass the TRUE
    dimension: ``zip_with`` null-pads on mismatch and the bucket would
    silently degrade (equivalence is test-asserted at dim=64)."""
    def _projector(p: int):
        # closure helper (a p=p default arg would break PySpark's lambda
        # arity inference for higher-order functions)
        return lambda v, i: v.cast("double") * _plane_component(p, i)

    bits = []
    for p in range(planes):
        if plane_dim is not None:
            arr = F.array(*[F.lit(v) for v in _plane_values(p, plane_dim)])
            prods = F.zip_with(
                F.col(vec_col), arr, lambda x, w: x.cast("double") * w
            )
        else:
            prods = F.transform(F.col(vec_col), _projector(p))
        dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return emb.withColumn("bucket", reduce(lambda x, y: x + y, bits))


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k with multiprobe: each query searches its own LSH
    bucket plus every bucket within ``LSH_PROBE_HAMMING`` sign flips.

    At scale the corpus is hash-partitioned by bucket, so each query is a
    (1 + LSH_PLANES·LSH_PROBE_HAMMING)-partition probe instead of a full scan.
    Recall is tuned by ``LSH_PLANES`` (fewer → bigger buckets) and
    ``LSH_PROBE_HAMMING`` (more → more buckets searched) — multiprobe buys
    recall without shrinking the bucket count, the standard trade for
    moderate-similarity neighbors (a cos≈0.4 neighbor agrees with a random
    hyperplane with p≈0.63, so exact-bucket match decays as 0.63^planes).
    """
    c = with_lsh_bucket(
        repartition_for_compute(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
        ),
        LSH_PLANES,
        "cvec",
        plane_dim,
    )
    q = with_lsh_bucket(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")),
        LSH_PLANES,
        "qvec",
        plane_dim,
    )
    if LSH_PROBE_HAMMING >= 1:
        # explode each query to its bucket + all single-bit-flip buckets
        # (a Hamming bound > 1 would extend the same expansion recursively)
        q = explode_fused(q.withColumnRenamed("bucket", "__b0"),
                          _flips_of("__b0", LSH_PLANES), "bucket").drop("__b0")
    cos = F.round(cosine_similarity("qvec", "cvec"), 9)
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .filter(~_self_match(queries.schema[id_col].dataType))
        .select("qid", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


# ------------------------------------------------------------------ IVF ANN

IVF_CENTROIDS = 16
IVF_ITERS = 1
IVF_PROBES = 4


def _normalized(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, nvec): L2-normalized double vectors."""
    from ..functions.vector_fns import l2_norm

    return emb.select(
        F.col(id_col).alias("vid"),
        F.zip_with(
            F.col(vec_col),
            F.array_repeat(l2_norm(vec_col), F.size(vec_col)),
            lambda x, n: x.cast("double") / n,
        ).alias("nvec"),
    )


def _seed_centroids(normed: DataFrame, n_centroids: int) -> DataFrame:
    """(cid, __cent) seed frame: the ``n_centroids`` vectors with the
    smallest portable md5-hash of their id — a reproducible pseudo-random
    sample with no RNG state, identical on any engine. The cid numbering
    window runs on the already-limited ``n_centroids`` rows (single tiny
    task, not a global-window hazard)."""
    from ..functions.text_fns import md5_hash64

    seeds = (
        normed.withColumn("__h", md5_hash64(F.col("vid").cast("string")))
        .orderBy("__h", "vid")
        .limit(n_centroids)
    )
    w = Window.orderBy("__h", "vid")
    return seeds.select(
        (F.row_number().over(w) - 1).alias("cid"), F.col("nvec").alias("__cent")
    )


def _cent_array(cent: DataFrame, out_col: str = "__cents") -> DataFrame:
    """The (cid, __cent) centroid frame folded into ONE row holding an
    array of (cid, __cent) structs — the broadcast unit of the map-only
    argmax. Centroids travel as a tiny broadcast DataFrame, NOT as
    literal expressions: k·dim literals compiled into the plan make
    analysis/codegen time scale with index size, dwarfing execution."""
    return cent.agg(
        F.collect_list(F.struct("cid", "__cent")).alias(out_col)
    )


def _argmax_cid(objective, cents_col: str):
    """In-row argmax over a broadcast centroid array: ``objective(c)`` is
    a Column-valued function of one (cid, __cent) struct; the winner is
    the max objective with ties to the SMALLEST cid — encoded as
    ``array_max`` over (objective, -cid) structs, whose field-by-field
    struct ordering is exactly the ordering ``max_by(cid,
    struct(obj, -cid))`` used (including NULL-first and NaN-greatest
    double semantics), so the fan-out form and this map-only form pick
    bit-identical winners."""
    pair = F.transform(
        F.col(cents_col),
        lambda c: F.struct(
            objective(c).alias("d"), (-c["cid"]).alias("m")
        ),
    )
    return -F.array_max(pair)["m"]


def _assign_nearest(df: DataFrame, cent: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Attach ``cluster`` = id of the max-dot-product centroid.

    Map-only (round-10 optimization): the centroids ride in as ONE
    broadcast row holding the (cid, __cent) array, and the argmax runs
    in-row over that array — no ×k row fan-out, no hash exchange, no
    corpus-grain [Sort]Aggregate, and the vector payload is never
    duplicated k ways (the prior crossJoin + ``max_by(cid, struct(dot,
    -cid))`` form paid all three; ``max_by`` over a struct ordering has
    no fixed-width buffer, so both aggregate sides ran as SortAggregate
    — the r9-measured 291s-vs-174s cost class). Per-element dots use
    the SAME ``dot`` fold, and the (dot, -cid) struct ordering of
    ``array_max`` is the ordering ``max_by`` used, so winners are
    bit-identical; ties still break to the smallest centroid id.
    """
    from ..functions.vector_fns import dot

    joined = df.crossJoin(F.broadcast(_cent_array(cent)))
    cluster = _argmax_cid(lambda c: dot(vec_col, c["__cent"]), "__cents")
    return joined.select(
        id_col, cluster.alias("cluster"), vec_col
    )


def _mean_centroids(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cid, __cent) per-cluster element-wise mean, shuffle-parallel.

    posexplode → per-(cluster, dim) average → rebuild ordered arrays.
    Never materializes a cluster's member list in one task, so cluster
    size is unbounded (``collect_list`` of member vectors would not be).
    """
    exploded = assigned.select(
        "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    dim_means = exploded.groupBy("cluster", "dim").agg(
        F.avg(F.col("val").cast("double")).alias("mean_val")
    )
    return dim_means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean_val"))),
            lambda s: s.getField("mean_val"),
        ).alias("__cent")
    ).select(F.col("cluster").alias("cid"), "__cent")


def _fit_centroids(
    normed: DataFrame, n_centroids: int, n_iters: int
) -> DataFrame:
    """Spherical-k-means: seed frame refined by ``n_iters`` Lloyd rounds.

    With the default single round the whole fit is one unbroken DataFrame
    lineage — the caller's single action executes seeding + refinement +
    its own query in one job. Extra rounds are separated by tiny eager
    ``checkpoint_for_reuse`` pins (k rows each) so plan size stays
    constant per round."""
    cent = _seed_centroids(normed, n_centroids)
    for i in range(n_iters):
        assigned = _assign_nearest(normed, cent, "vid", "nvec")
        cent = _mean_centroids(assigned, "nvec")
        if i < n_iters - 1:
            # truncate lineage between rounds: without this, every further
            # round re-embeds (and Catalyst re-optimizes) the whole prior
            # fit, and plan cost grows superlinearly with n_iters. The
            # checkpoint materializes only k rows of k·dim doubles.
            cent = checkpoint_for_reuse(cent)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into ``IVF_CENTROIDS``
    inverted lists; each query probes its ``IVF_PROBES`` closest lists and
    ranks only those candidates.

    Fully lazy — centroid fitting, corpus assignment, probing and ranking
    are one Catalyst plan, executed by the caller's single action. Scale
    shape: assignment is a broadcast ×k fan-out plus one hash shuffle on
    the vector id; the probe is an equi-join on cluster id — in production
    the assigned corpus is persisted bucketed by cluster so repeated query
    batches skip both. Search cost drops ~``IVF_CENTROIDS / IVF_PROBES``
    vs brute force; recall is tuned by ``IVF_PROBES``.
    """
    from ..functions.vector_fns import dot

    normed = _normalized(corpus, id_col, vec_col)
    cent = _fit_centroids(normed, IVF_CENTROIDS, IVF_ITERS).persist()

    c = _assign_nearest(
        repartition_for_compute(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
        ),
        cent,
        "vec_id",
        "cvec",
    )

    # each query probes its IVF_PROBES closest inverted lists
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    probe_w = Window.partitionBy("qid").orderBy(F.desc("__dot"), F.asc("cid"))
    q = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__dot", dot("qvec", "__cent"))
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= IVF_PROBES)
        .select("qid", "qvec", F.col("cid").alias("cluster"))
    )

    cos = F.round(cosine_similarity("qvec", "cvec"), 9)
    pairs = (
        c.join(F.broadcast(q), "cluster")
        .filter(~_self_match(queries.schema[id_col].dataType))
        .select("qid", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


def cluster_balanced_sample(
    emb: DataFrame,
    n_per_cluster: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, vec_id, rn): topic-balanced corpus sample — every vector
    assigned to its deterministic k-means cluster, then the
    ``n_per_cluster`` smallest-md5-hash ids kept per cluster (a
    reproducible pseudo-random stratified pick with no RNG state, the
    same portable-hash convention as ``_seed_centroids``).

    The training-mixture counter to topic skew: frequency-proportional
    sampling of a web-scale corpus over-represents the dominant content
    cluster; per-cluster quotas equalize topic mass before mixture
    weighting. Scale shape: the fit is the broadcast ×k fan-out +
    one hash shuffle of IVF assignment; the quota pick is a rank-k
    window per cluster, pruned map-side by WindowGroupLimit — nothing
    is ever collected.
    """
    from ..functions.text_fns import md5_hash64

    normed = _normalized(emb, id_col, vec_col)
    cent = _fit_centroids(normed, IVF_CENTROIDS, IVF_ITERS)
    assigned = _assign_nearest(
        repartition_for_compute(
            emb.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
            )
        ),
        cent,
        "vec_id",
        "cvec",
    )
    w = Window.partitionBy("cluster").orderBy("__h", "vec_id")
    return (
        assigned.withColumn(
            "__h", md5_hash64(F.col("vec_id").cast("string"))
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= n_per_cluster)
        .select("cluster", "vec_id", "rn")
    )


def lsh_near_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the scale path for
    ``near_pairs_threshold``'s O(n²) cross join.

    Candidates are pairs whose sign-buckets differ in at most
    ``LSH_PROBE_HAMMING`` bits (one side pre-exploded to its flip set, so the
    pair generation is an equi-join on bucket); cosine is verified exactly
    on candidates only. Recall follows the multiprobe collision bound; at
    4 planes and Hamming ≤ 1 a cos-θ pair collides with
    probability Σ_{i≤1} C(4,i) p^(4-i)(1-p)^i for p = 1 − θ/π.
    """
    a = with_lsh_bucket(
        repartition_for_compute(
            emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
        ),
        LSH_PLANES,
        "a_vec",
        plane_dim,
    )
    if LSH_PROBE_HAMMING >= 1:
        a = explode_fused(a.withColumnRenamed("bucket", "__b0"),
                          _flips_of("__b0", LSH_PLANES), "bucket").drop("__b0")
    b = with_lsh_bucket(
        emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec")),
        LSH_PLANES,
        "b_vec",
        plane_dim,
    )
    a = a.withColumn("a_nrm", l2_norm("a_vec"))
    b = b.withColumn("b_nrm", l2_norm("b_vec"))
    cos = F.when(
        F.col("a_nrm") * F.col("b_nrm") > 0,
        dot("a_vec", "b_vec") / (F.col("a_nrm") * F.col("b_nrm")),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        # multiprobe explode can surface one pair via several buckets
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def _split_bits(size_col, cap: int, max_bits: int):
    """Smallest b in [0, max_bits] with size <= cap·2^b, as a when-chain of
    INTEGER comparisons — deliberately not ``ceil(log2(size/cap))``: at an
    exact power-of-two ratio the float log2 can land a half-ulp above the
    integer on one engine and below on the other (Spark computes
    log(x)/log(2); DuckDB uses std::log2), flipping ceil. Integer
    comparisons have no boundary."""
    expr = F.lit(max_bits)
    for b in range(max_bits - 1, -1, -1):
        expr = F.when(size_col <= F.lit(cap << b), F.lit(b)).otherwise(expr)
    return expr


SEMDEDUP_SPLIT_PLANES = 4


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    plane_dim: int | None = None,
) -> DataFrame:
    """(vid, cluster, dup_of, keep) — SemDeDup-style semantic deduplication
    (Abbas et al. 2023): partition the corpus with deterministic spherical
    k-means, then inside each cluster drop every vector whose cosine
    similarity to a LOWER-ID cluster member exceeds ``threshold``
    (``dup_of`` = the smallest such earlier id; kept rows carry NULL).

    The k-means partition is what makes this survive 100 TB: pairwise
    similarity runs per-cluster (Σ m_c² work instead of n²), with the
    cluster id as the join key — one fit (md5-seeded, Lloyd-refined,
    shared with ``ivf_topk``), one hash shuffle for assignment, one
    per-cluster self-join. The keep rule is position-free and engine-
    portable (drop iff ∃ earlier similar member), so the whole output is
    oracle-replayable, unlike the sequential greedy scan in the paper.

    ``max_cluster_size`` is the skew guard for the Σ m_c² pair stage: a
    cluster of m rows costs m² cosines, so one hot cluster (near-duplicate
    floods are exactly the corpora this operator targets) can dominate the
    whole job. When set, every cluster larger than the cap is split by the
    sign bits of b deterministic md5-derived hyperplanes (the
    ``with_lsh_bucket`` family), with b = the smallest integer such that
    size ≤ cap·2^b (capped at ``SEMDEDUP_SPLIT_PLANES``) — so pair work per refined
    cell is ~cap² and total extra cost is one vector scan + one hash
    shuffle. Near-duplicates at threshold t land in the same sub-bucket
    with probability ≥ (1 − arccos(t)/π)^b per pair (t=0.95 → 0.9^b):
    bounded, documented recall loss in exchange for a bounded worst case —
    the same trade SemDeDup itself makes by pruning with k-means. Output
    schema/semantics are unchanged (``cluster`` stays the k-means id);
    ``keep`` becomes a superset of the unguarded keeps (pairs crossing a
    sub-bucket boundary are not examined). Guarded and unguarded forms are
    identical whenever no cluster exceeds the cap (test-asserted)."""
    normed = _normalized(emb, id_col, vec_col)
    cent = _fit_centroids(normed, n_centroids, IVF_ITERS)
    # The assignment feeds both self-join sides AND the final keep join.
    # Checkpoint only the slim (vid, cluster) map — ids + ints, tiny even
    # at corpus scale — so the k-means fit and argmax assignment execute
    # exactly once; the vector payloads are re-read from the (column-
    # pruned) source scan rather than materialized three times.
    assigned = checkpoint_for_reuse(
        _assign_nearest(
            emb.select(F.col(id_col).alias("vid"), vec_col), cent, "vid", vec_col
        ).select("vid", "cluster")
    )
    if max_cluster_size is not None:
        # Skew guard: split oversized clusters on LSH sign-bit sub-buckets.
        # Sizes come from the already-checkpointed slim map (one tiny agg);
        # the per-cluster bit depth is broadcast back; the sub-bucket bits
        # cost one more (column-pruned) vector scan + one vid hash shuffle.
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("__csz"))
        depths = sizes.select(
            "cluster",
            _split_bits(
                F.col("__csz"), max_cluster_size, SEMDEDUP_SPLIT_PLANES
            ).alias("__b"),
        )
        sub = with_lsh_bucket(
            emb.select(F.col(id_col).alias("vid"), vec_col),
            SEMDEDUP_SPLIT_PLANES,
            vec_col,
            plane_dim,
        ).select("vid", F.col("bucket").alias("__sub"))
        assigned = checkpoint_for_reuse(
            assigned.join(F.broadcast(depths), "cluster")
            .join(sub, "vid")
            .select(
                "vid",
                "cluster",
                (
                    F.col("cluster") * F.lit(1 << SEMDEDUP_SPLIT_PLANES)
                    # F.shiftleft takes only a literal bit count; the SQL
                    # form accepts the per-cluster depth column
                    + F.col("__sub").bitwiseAND(
                        F.expr("shiftleft(1, __b)") - F.lit(1)
                    )
                ).alias("__jkey"),
            )
        )
    else:
        assigned = assigned.withColumn("__jkey", F.col("cluster"))
    # norms are computed ONCE per row here; the per-pair expression below
    # is then a single array fold (the dot) instead of cosine_similarity's
    # three (dot + both norms) — bitwise-identical values, since
    # dot/(a_nrm*b_nrm) is the same op sequence the fused form evaluates,
    # but Σm² pair work drops ~3× (higher-order lambdas are interpreted,
    # not codegen'd, so per-element fold count IS the pair cost)
    ev = emb.select(
        F.col(id_col).alias("vid"), vec_col, l2_norm(vec_col).alias("__nrm")
    )
    a = ev.join(assigned, "vid").select(
        F.col("__jkey"),
        F.col("vid").alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        F.col("__nrm").alias("a_nrm"),
    )
    b = ev.join(assigned, "vid").select(
        F.col("__jkey"),
        F.col("vid").alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        F.col("__nrm").alias("b_nrm"),
    )
    pair_cos = F.when(
        F.col("a_nrm") * F.col("b_nrm") > 0,
        dot("a_vec", "b_vec") / (F.col("a_nrm") * F.col("b_nrm")),
    )
    dup_edges = (
        a.join(b, "__jkey")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(pair_cos, 9) > threshold)
        .groupBy(F.col("b_id").alias("vid"))
        .agg(F.min("a_id").alias("dup_of"))
    )
    return assigned.join(dup_edges, "vid", "left_outer").select(
        "vid", "cluster", "dup_of", F.col("dup_of").isNull().alias("keep")
    )


# --------------------------------------------------------------------------
# Product quantization (spherical PQ): the memory-side ANN companion to
# IVF. The unit vector splits into PQ_SUBSPACES contiguous subvectors;
# each subspace gets its own deterministic spherical-k-means codebook
# (same md5 seeding + Lloyd round as IVF), and every corpus vector is
# stored as PQ_SUBSPACES small codes. Serving is asymmetric-distance
# computation (ADC): per query, a (subspaces × codebook) lookup table of
# exact subvector dots is built against the codebooks, and scoring a
# corpus vector is PQ_SUBSPACES table lookups + adds — the corpus's raw
# vectors are never touched at serve time. At 100 TB this is the
# compressed-index answer: codes are ~4 bytes/vector instead of
# dim × 4, and the scan is a broadcast-LUT map over the code table.
# --------------------------------------------------------------------------
PQ_SUBSPACES = 8
PQ_CODEBOOK = 16
PQ_SHORTLIST = 100


def _pq_l2_objective(vec):
    """argmin L2 = argmax(dot - ||c||²/2) (subvectors of a unit vector
    are NOT unit themselves, so the spherical max-dot rule would bias
    toward large-norm codewords) — as an objective over one (cid,
    __cent) struct for the map-only argmax. ``vec`` is a column name or
    Column (e.g. an in-row slice)."""
    return lambda c: dot(vec, c["__cent"]) - 0.5 * dot(
        c["__cent"], c["__cent"]
    )


def _pq_assign_l2(df: DataFrame, cent: DataFrame) -> DataFrame:
    """True PQ codeword assignment (argmin L2), map-only: same broadcast
    centroid-array + in-row ``array_max`` shape as ``_assign_nearest``
    (see there for the equivalence argument vs the prior ×k fan-out +
    SortAggregate ``max_by`` form)."""
    joined = df.crossJoin(F.broadcast(_cent_array(cent)))
    cluster = _argmax_cid(_pq_l2_objective("nvec"), "__cents")
    return joined.select("vid", cluster.alias("cluster"), "nvec")


def _assign_codes(
    normed: DataFrame, cents: list[DataFrame], n_sub: int, d_sub: int
) -> DataFrame:
    """Per-subspace code assignment against FIXED codebooks, ONE
    projection: every subspace's codebook rides in as its own broadcast
    one-row centroid array, and all ``n_sub`` argmin-L2 codes are
    computed in-row over the sliced vector in a single map pass — no
    per-subspace shuffle and no (n_sub−1)-way join of corpus-grain code
    frames (the prior shape paid both: 8 groupBy exchanges + 7 vec_id
    joins at corpus grain for the default 8 subspaces). Per-subspace
    math is ``_pq_assign_l2``'s objective verbatim, so codes are
    bit-identical."""
    j = normed
    for s in range(n_sub):
        j = j.crossJoin(F.broadcast(_cent_array(cents[s], f"__cents{s}")))

    def code(s: int):
        sub = F.slice("nvec", s * d_sub + 1, d_sub)
        return _argmax_cid(_pq_l2_objective(sub), f"__cents{s}").alias(
            f"c{s}"
        )

    return j.select(
        F.col("vid").alias("vec_id"), *[code(s) for s in range(n_sub)]
    )


def _pq_fit_subspaces(
    normed: DataFrame, n_sub: int, codebook: int, d_sub: int
) -> tuple[list[DataFrame], DataFrame]:
    """Per-subspace codebook fit (md5 seed + one Lloyd round, the same
    deterministic recipe as IVF) and corpus code assignment. Shared by
    the one-shot ``pq_topk`` and the persisted ``ext.pq_index`` build so
    both produce bit-identical codebooks/codes. Returns
    (per-subspace centroid DataFrames (cid, __cent) — persisted —
    and the wide code table (vec_id, c0..c{n_sub-1}))."""
    cents: list[DataFrame] = []
    for s in range(n_sub):
        sub = normed.select(
            "vid", F.slice("nvec", s * d_sub + 1, d_sub).alias("nvec")
        )
        seed = _seed_centroids(sub, codebook)
        cents.append(_mean_centroids(_pq_assign_l2(sub, seed), "nvec").persist())
    return cents, _assign_codes(normed, cents, n_sub, d_sub)


def _pq_shortlist(
    qn: DataFrame,
    cents: list[DataFrame],
    codes: DataFrame,
    n_sub: int,
    d_sub: int,
    shortlist: int,
) -> DataFrame:
    """ADC scoring over the CODE table → per-query shortlist.

    Per query a (codebook × n_sub) LUT of exact subvector dots is built
    against the broadcast codebooks; scoring a corpus row is n_sub
    broadcast-hash LUT lookups + adds — the corpus's raw vectors are
    never touched. The subspace sum uses FIXED left association
    ((d0+d1)+d2)+… so the DuckDB oracle can replay the identical IEEE
    sequence. Returns (qid, vec_id) of the ``shortlist`` best per query
    (round(score,9) desc, vec_id asc house tie-break)."""
    luts = []
    for s in range(n_sub):
        lut_s = (
            qn.select("qid", F.slice("qnv", s * d_sub + 1, d_sub).alias("qs"))
            .crossJoin(F.broadcast(cents[s]))
            .select(
                "qid",
                F.col("cid").alias(f"c{s}"),
                dot("qs", "__cent").alias(f"d{s}"),
            )
        )
        luts.append(lut_s)
    fan = codes.crossJoin(F.broadcast(qn.select("qid")))
    for s, lut_s in enumerate(luts):
        fan = fan.join(F.broadcast(lut_s), ["qid", f"c{s}"])
    total = F.col("d0")
    for s in range(1, n_sub):
        total = total + F.col(f"d{s}")
    pairs = fan.filter(~_self_match(qn.schema["qid"].dataType)).select(
        "qid", "vec_id", F.round(total, 9).alias("score9")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score9"), F.asc("vec_id"))
    return (
        pairs.withColumn("srnk", F.row_number().over(w))
        .filter(F.col("srnk") <= shortlist)
        .select("qid", "vec_id")
    )


def _pq_rerank(
    short: DataFrame, qn: DataFrame, cvec: DataFrame, k: int
) -> DataFrame:
    """EXACT re-rank of the ADC shortlist — the production PQ serving
    shape: quantization error only has to keep the true neighbors
    inside the shortlist (≫ k), not rank them; the exact cosine then
    re-ranks those few candidates from the raw unit vectors
    (``cvec``: (vec_id, cn))."""
    exact = (
        short.join(F.broadcast(qn), "qid")
        .join(cvec, "vec_id")
        .select("qid", "vec_id", F.round(dot("qnv", "cn"), 9).alias("cos9"))
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos9"), F.asc("vec_id"))
    return (
        exact.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos9", 6).alias("score"), "rnk")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = PQ_SUBSPACES,
    codebook: int = PQ_CODEBOOK,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC approximate top-k (qid, vec_id, score, rnk).

    ``score`` approximates the cosine (dot of unit vectors) as the sum
    of per-subspace dots against the assigned codewords; ranking is on
    round(score, 9) with the (score desc, vec_id asc) house tie-break.
    The subspace sum uses FIXED left association ((d0+d1)+d2)+d3 so the
    DuckDB oracle can replay the identical IEEE sequence.

    Fit-per-call: right for one-shot analytics only. The build-once /
    serve-many split (codebooks + int8 codes persisted, LUT-only serve
    scan) lives in :mod:`ext.pq_index` and produces bit-identical
    results — both paths compose the same ``_pq_fit_subspaces`` /
    ``_pq_shortlist`` / ``_pq_rerank`` helpers.
    """
    dim = len(corpus.select(vec_col).first()[0])
    d_sub = dim // n_sub
    normed = _normalized(corpus, id_col, vec_col)
    qn = _normalized(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("nvec").alias("qnv")
    )
    cents, codes = _pq_fit_subspaces(normed, n_sub, codebook, d_sub)
    short = _pq_shortlist(qn, cents, codes, n_sub, d_sub, PQ_SHORTLIST)
    cvec = normed.select(
        F.col("vid").alias("vec_id"), F.col("nvec").alias("cn")
    )
    return _pq_rerank(short, qn, cvec, k)


def cluster_outliers(
    emb: DataFrame,
    flag_per_cluster: int = 2,
    n_centroids: int = None,
    n_iters: int = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, cluster, centroid_cos, rnk, is_outlier) — per-cluster
    embedding outlier census: cosine of every vector to its own k-means
    centroid, ranked ascending inside the cluster (rank 1 = farthest),
    with the ``flag_per_cluster`` farthest flagged. The standard
    embedding-space noise/mislabel triage before semantic dedup or
    ANN-index build (outliers poison centroid quality and recall).

    Same fit/assignment machinery as ``ivf_topk``/``semantic_dedup``
    (md5-seeded Lloyd rounds, argmax assignment, slim checkpointed
    (vid, cluster) map); the per-vector cosine is one broadcast join of
    the k·dim centroid frame against a column-pruned vector scan, and
    the ranking window partitions by cluster — no global window, no
    pair stage at all, so cost is one scan + one hash shuffle however
    large the corpus.
    """
    if n_centroids is None:
        n_centroids = IVF_CENTROIDS
    if n_iters is None:
        n_iters = IVF_ITERS
    from ..functions.vector_fns import dot, l2_norm

    normed = _normalized(emb, id_col, vec_col)
    cent = _fit_centroids(normed, n_centroids, n_iters)
    assigned = checkpoint_for_reuse(
        _assign_nearest(
            emb.select(F.col(id_col).alias("vid"), vec_col), cent, "vid", vec_col
        ).select("vid", "cluster")
    )
    vecs = emb.select(F.col(id_col).alias("vid"), vec_col)
    cos9 = F.round(
        dot(vec_col, "__cent") / (l2_norm(vec_col) * l2_norm("__cent")), 9
    )
    scored = (
        assigned.join(vecs, "vid")
        .join(
            F.broadcast(cent.withColumnRenamed("cid", "cluster")), "cluster"
        )
        .select("vid", "cluster", cos9.alias("cos9"))
    )
    w = Window.partitionBy("cluster").orderBy(F.asc("cos9"), F.asc("vid"))
    return scored.select(
        "vid",
        "cluster",
        F.round("cos9", 6).alias("centroid_cos"),
        F.row_number().over(w).cast("long").alias("rnk"),
    ).withColumn("is_outlier", F.col("rnk") <= flag_per_cluster)


# ---------------------------------------------------------------------------
# SQ8 — per-dimension scalar quantization (the FAISS "SQ8" member of the
# quantization family, alongside PQ/IVF-PQ in ext/pq_index.py): each
# normalized vector compresses to one int8 code per dimension against
# per-dimension [lo, hi] corpus bounds — 8x memory/IO at near-exact
# recall, and, unlike PQ (whose k-means fit is not an IEEE sequence SQL
# can replay), the WHOLE pipeline is oracle-expressible: lo/hi are exact
# MIN/MAX, the code is one deterministic double expression on identical
# operands, and scores rank under the round-to-9 key like every ANN
# oracle here.
# ---------------------------------------------------------------------------
SQ8_LEVELS = 255


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-shape top-k cosine serve over SQ8-compressed vectors.

    Scale shape: normalize (map-only) → per-dimension lo/hi (one
    map-side-combined agg over dim keys; collected rows are O(dim), a
    bounded driver edge) → encode (map-only against two literal arrays)
    → score each (query, code) pair by decoding THROUGH the codes only
    (the compression contract: the raw vector never reaches the scorer)
    → per-query top-k window. One broadcast of the capped query batch;
    the corpus is scanned once.
    """
    qid_type = queries.schema[id_col].dataType
    normed = checkpoint_for_reuse(_normalized(corpus, id_col, vec_col))
    bounds = sorted(
        (r["i"], r["lo"], r["hi"])
        for r in normed.select(F.posexplode("nvec").alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    lo_lit = F.array(*[F.lit(float(lo)) for _, lo, _ in bounds])
    hi_lit = F.array(*[F.lit(float(hi)) for _, _, hi in bounds])

    def _span(i):
        return F.element_at(hi_lit, i + 1) - F.element_at(lo_lit, i + 1)

    codes = normed.select(
        F.col("vid").alias("vec_id"),
        F.transform(
            "nvec",
            lambda x, i: F.when(_span(i) > 0,
                F.round(
                    (x - F.element_at(lo_lit, i + 1))
                    * F.lit(float(SQ8_LEVELS))
                    / _span(i)
                ).cast("int"),
            ).otherwise(F.lit(0)).alias("c"),
        ).alias("codes"),
    )
    # decode once per corpus row, map-only — scores see ONLY the codes
    dvec = F.transform(
        "codes",
        lambda c, i: F.element_at(lo_lit, i + 1)
        + c.cast("double") * _span(i) / F.lit(float(SQ8_LEVELS)),
    )
    q = _normalized(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("nvec").alias("qn")
    )
    pairs = (
        repartition_for_compute(codes.withColumn("dvec", dvec))
        .crossJoin(F.broadcast(q))
        .filter(~_self_match(qid_type))
        .select("qid", "vec_id", F.round(dot("qn", "dvec"), 9).alias("score9"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score9"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("score9", 6).alias("score"), "rnk")
    )
