"""Mergeable sketches as plain DataFrames: count-min, Bloom and KMV.

A count-min sketch is a depth×width counter grid; every key increments
one bucket per hash row, and a key's estimate is the MIN of its buckets
(always ≥ the true count — collisions only inflate). Expressed as a
DataFrame aggregation the grid is a (seed, bucket, cnt) table of d·w
rows: the build is ONE map-side-combined groupBy over a depth-way
map-side fan-out (no shuffle grows with key cardinality — the shuffle
carries at most d·w·partitions partial rows), and the result is tiny,
mergeable (union + re-sum) and broadcastable. That is the 100 TB point:
frequency estimation over an unbounded key domain in O(d·w) memory,
where an exact groupBy(key) would shuffle every distinct key. The Bloom
filter (membership pre-screen) and the per-group KMV sketch (distinct
counts under set algebra) are built the same way: one bounded,
map-side-combined aggregation whose result merges by union.

Hashing is the portable md5-60bit family so a DuckDB oracle rebuilds the
identical grid (Spark's xxhash64 would never hash-match an oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_fns import md5_hash64
from ..operators.partitioning import checkpoint_for_reuse
from ..operators.generate import explode_fused

CMS_DEPTH = 4
CMS_WIDTH = 256


def _bucket(key_col, seed_col, width: int):
    return F.pmod(
        md5_hash64(F.concat_ws("|", seed_col.cast("string"), key_col)),
        F.lit(width),
    )


def cms_build(df: DataFrame, key_col: str, width: int = CMS_WIDTH) -> DataFrame:
    """(seed, bucket, cnt) — the count-min grid for ``df[key_col]``.

    Map-side ×depth fan-out, then one combined aggregation into d·w rows.
    Grids over disjoint data merge by union + groupBy-sum.
    """
    keyed = df.select(F.col(key_col).cast("string").alias("__key"))
    fanned = explode_fused(
        keyed,
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
        "seed",
        keep=["__key"],
    )
    return (
        fanned.select(
            "seed", _bucket(F.col("__key"), F.col("seed"), width).alias("bucket")
        )
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(key, est) — min-over-rows estimate for each candidate key.

    The grid is broadcast (d·w rows); candidates fan out ×depth map-side
    and never shuffle except the final per-key min. At corpus scale the
    candidate set comes from a sample or a prior round — the sketch's
    value is precisely that the FULL key domain never needs to be
    materialized.
    """
    fanned = explode_fused(
        keys.select(F.col(key_col).cast("string").alias("key")),
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
        "seed",
        keep=["key"],
    ).select("key", "seed", _bucket(F.col("key"), F.col("seed"), width).alias("bucket"))
    return (
        fanned.join(F.broadcast(cms), ["seed", "bucket"], "left_outer")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int = 20,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(key, est, exact) — top-``k`` keys by count-min estimate, with the
    exact count alongside (est ≥ exact always; equality when the key's
    buckets are collision-free). Top-k is orderBy+limit (TakeOrdered), so
    no global sort. The exact column exists to make the overestimate
    bound oracle-checkable; production callers at unbounded cardinality
    drop it and feed candidates from a sample instead of ``distinct()``.
    """
    cms = cms_build(df, key_col, width)
    cands = df.select(F.col(key_col).cast("string").alias("key")).distinct()
    est = cms_estimate(cms, cands, "key", width)
    exact = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, "key")
        .orderBy(F.desc("est"), "key")
        .limit(k)
        .select("key", F.col("est").cast("long").alias("est"),
                F.col("exact").cast("long").alias("exact"))
    )


# ------------------------------------------------------------------ bloom

BLOOM_WORDS = 1 << 10  # 1024 words × 32 bits = 32768-bit default filter
BLOOM_HASHES = 5


def _bloom_probes(df: DataFrame, key_col: str, n_words: int, k: int) -> DataFrame:
    """Fan each row out to its ``k`` probe positions: ``word_idx`` (which
    32-bit word of the bitmap holds the bit) and ``__mask`` (the bit
    inside it, always a non-negative long since bits run 0..31). The
    position family is the portable md5-60bit hash of ``"i|key"`` — the
    same seeding convention as the CMS ``_bucket`` — so a DuckDB oracle
    rebuilds the identical filter bit-for-bit. The depth fan-out is the
    same ``explode_fused`` shape ``cms_build`` uses."""
    m = n_words * 32
    probed = explode_fused(
        df, F.sequence(F.lit(0), F.lit(k - 1)), "__i", keep=None
    ).withColumn(
        "__p",
        F.pmod(
            md5_hash64(
                F.concat_ws("|", F.col("__i").cast("string"), F.col(key_col))
            ),
            F.lit(m),
        ),
    )
    return probed.select(
        "*",
        F.expr("__p div 32").cast("int").alias("word_idx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(__p % 32 AS INT))"
        ).alias("__mask"),
    ).drop("__i", "__p")


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_words: int = BLOOM_WORDS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Distributed Bloom filter build: (word_idx int, word long) — the
    sparse non-zero words of an ``n_words × 32``-bit membership bitmap
    with ``k`` set bits per key.

    The classic ingest pre-screen at 100 TB: a corpus of fingerprints
    folds into a fixed-size bitmap (one map-side-combined ``bit_or``
    groupBy — the shuffle carries at most ``n_words × partitions``
    partial words, NOT the key stream), the bitmap broadcasts, and a
    delta batch discards its definite-new rows without ever joining the
    corpus. No false negatives ever; false-positive rate
    ≈ ``(1 - e^(-k·n/m))^k`` with ``m = 32·n_words`` bits — size
    ``n_words`` ≈ keys/3 for ~1% at k=5 (the bitmap is 4·n_words bytes;
    past broadcast size, shard the key space and build per-shard
    filters). Duplicate keys are free (OR is idempotent), so no
    distinct pass is spent. Mergeable: union two filters' word tables
    and re-``bit_or`` by word_idx.
    """
    # NULL keys never enter the filter: concat_ws silently DROPS a null
    # arg, so a null key would hash as the bare seed string — every null
    # sharing one fingerprint and (worse) aliasing any key whose rendering
    # equals "" (r5 advice). The probe side answers null keys definitively
    # below instead.
    return (
        _bloom_probes(
            df.select(F.col(key_col)).filter(F.col(key_col).isNotNull()),
            key_col,
            n_words,
            k,
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").cast("long").alias("word"))
    )


def bloom_contains(
    bloom: DataFrame,
    df: DataFrame,
    key_col: str,
    n_words: int = BLOOM_WORDS,
    k: int = BLOOM_HASHES,
    out_col: str = "might_contain",
) -> DataFrame:
    """Membership probe: ``df`` plus a boolean ``out_col`` — true iff all
    ``k`` of the key's bits are set in the filter (so false means the
    key is DEFINITELY absent from the built corpus).

    Row-preserving: every input row comes back exactly once (an internal
    monotonic row tag keys the per-row reassembly, so duplicate rows —
    the normal shape of a raw ingest batch — are NOT collapsed). Pass a
    SLIM ``df`` (ids + key): the probe fan-out carries every column
    through a ``k``-way explode and the reassembly groups over all of
    them. The filter side joins broadcast up to 2²¹ words (≤ ~32 MB of
    (int, long) rows); a bigger filter — 10 B keys at 1% FP is ~12 GB —
    falls back to a plain join so Spark shuffles probes to the filter
    on ``word_idx`` instead of collecting it to the driver. Words
    absent from the sparse table are zero either way."""
    tagged = df.withColumn("__row", F.monotonically_increasing_id())
    probed = _bloom_probes(tagged, key_col, n_words, k)
    bloom_side = F.broadcast(bloom) if n_words <= (1 << 21) else bloom
    hit = (
        F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("__mask"))
        != F.lit(0)
    )
    # Null contract (r5 advice): bloom_build never admits null keys, so a
    # null-keyed probe is DEFINITELY absent — answer false instead of
    # letting concat_ws hash it as the bare seed (which would collide all
    # nulls onto one fingerprint and return true once anything aliasing
    # the empty rendering was built in).
    return (
        probed.join(bloom_side, "word_idx", "left")
        .groupBy("__row", *df.columns)
        .agg(F.bool_and(hit).alias("__hit"))
        .select(
            *df.columns,
            (F.col("__hit") & F.col(key_col).isNotNull()).alias(out_col),
        )
    )


def bloom_filter_expr(
    words: dict[int, int],
    key_col,
    n_words: int = BLOOM_WORDS,
    k: int = BLOOM_HASHES,
):
    """MAP-ONLY membership test against a DRIVER-KNOWN bloom word table:
    a boolean Column, true iff all ``k`` of the key's bits are set —
    same probe family (md5-60bit of ``"i|key"``) and therefore the same
    no-false-negative contract as :func:`bloom_contains`, but evaluated
    as a pure Catalyst expression (literal word array + ``element_at`` +
    bit tests), so the probed frame is NEVER exploded, joined, or
    re-grouped. This is the shape for prescreening a scan that must not
    shuffle — e.g. the crawl-frontier seen-set scan, where the filter is
    built from the (small) incoming batch and ridden down the (huge)
    corpus scan (round 9). ``bloom_contains`` stays the right call when
    the FILTER side is big and the probed side is small.

    ``words`` is the sparse {word_idx: word} table from a collected
    ``bloom_build`` (≤ ``n_words`` entries — 1024 longs by default, a
    literal a plan can carry comfortably; size caps apply as in
    ``bloom_build``'s docstring). NULL keys answer false (never built
    in, same contract as ``bloom_contains``).
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    dense = [0] * n_words
    for i, w in words.items():
        dense[int(i)] = int(w)
    # ONE array Literal, not F.array(*1024 F.lits): CreateArray with
    # n_words children is a plan node per word and a codegen blow-up;
    # a list passed to F.lit is a single constant reference
    arr = F.lit(dense).cast("array<long>")
    # 1<<(p%32) via a 32-entry literal power table: F.shiftleft needs a
    # literal shift amount, and the SQL-string form can't bind an
    # anonymous expression
    pow2 = F.lit([1 << j for j in range(32)]).cast("array<long>")
    m = n_words * 32
    hit = None
    for i in range(k):
        p = F.pmod(
            md5_hash64(F.concat_ws("|", F.lit(str(i)), key)), F.lit(m)
        )
        word = F.element_at(arr, (p / 32).cast("int") + 1)
        mask = F.element_at(pow2, F.pmod(p, F.lit(32)).cast("int") + 1)
        c = word.bitwiseAND(mask) != 0
        hit = c if hit is None else (hit & c)
    return hit & key.isNotNull()


# ------------------------------------------------------------------ KMV

KMV_K = 256
KMV_SPACE = 1 << 60  # md5_hash64's range: [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = KMV_K,
) -> tuple[DataFrame, DataFrame]:
    """Per-group KMV (k-minimum-values / bottom-k theta) sketch: the ``k``
    smallest distinct 60-bit key hashes per group, the sketch family whose
    estimates COMPOSE under set algebra — union/intersection/Jaccard of
    group cardinalities from k-row summaries, the set operations HLL
    sketches cannot answer (:func:`hll` only merges by union).

    Returns ``(sketch, counts)``: ``sketch`` = (g, h, r) with r = 1..k in
    hash order; ``counts`` = (g, n_distinct) — the EXACT per-group distinct
    count, free from the prune's bucket table.

    100 TB shape: one map-side-combined distinct on (group, hash) — the
    only fact-sized exchange — then a DETERMINISTIC two-level prune before
    the rank window: bucket = h div 2^50 (1024 buckets), per-group
    cumulative bucket counts find the first bucket where the running count
    reaches k, and only rows at-or-below that cutoff bucket (≈ k + one
    bucket's worth, NOT the group's millions of distincts) enter the sort.
    The prune is exact — the k smallest values all live at-or-below the
    cutoff bucket by construction — so the oracle can skip it and rank
    everything. Hashing is the portable md5-60bit family: estimates are
    engine-reproducible bit-for-bit (uniformity within [0, 2^60) is what
    the estimator needs; do NOT swap in xxhash64 here — its signed full
    int64 range breaks the (k-1)·M/h_k estimator's M).
    """
    d = (
        df.filter(F.col(key_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            md5_hash64(F.col(key_col).cast("string")).alias("h"),
        )
        .distinct()
    )
    # the distinct pass feeds BOTH the bucket-count table and the survivor
    # filter — materialize it once (the standing two-consumer rule)
    b = checkpoint_for_reuse(
        d.withColumn("b", F.expr(f"h div {1 << 50}"))
    )
    bc = b.groupBy("g", "b").agg(F.count(F.lit(1)).alias("n"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cut = (
        bc.withColumn("c", F.sum("n").over(wcum))
        .groupBy("g")
        .agg(
            F.min(F.when(F.col("c") >= k, F.col("b"))).alias("cut"),
            F.sum("n").cast("long").alias("n_distinct"),
        )
    )
    # feeds both the survivor filter and the caller's estimates
    cut = checkpoint_for_reuse(cut)
    surv = b.join(F.broadcast(cut.select("g", "cut")), "g").filter(
        F.col("cut").isNull() | (F.col("b") <= F.col("cut"))
    )
    wr = Window.partitionBy("g").orderBy("h")
    sketch = (
        surv.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= k)
        .select("g", "h", "r")
    )
    return sketch, cut.select("g", "n_distinct")


def kmv_distinct_estimate(
    sketch: DataFrame, counts: DataFrame, k: int = KMV_K
) -> DataFrame:
    """(g, n_distinct, est): the KMV cardinality estimator — exact when the
    group has ≤ k distincts (the sketch is exhaustive), else
    ``(k-1)·M / h_k`` with h_k the k-th smallest hash (Beyer et al.'s
    unbiased form). All-double arithmetic on identical operands in any
    engine; the constant (k-1)·M is formed once, exactly."""
    hk = sketch.filter(F.col("r") == k).select("g", F.col("h").alias("hk"))
    c = float((k - 1) * KMV_SPACE)
    return counts.join(hk, "g", "left").select(
        "g",
        "n_distinct",
        F.when(
            F.col("n_distinct") <= k, F.col("n_distinct").cast("double")
        )
        .otherwise(F.lit(c) / F.col("hk").cast("double"))
        .alias("est"),
    )
