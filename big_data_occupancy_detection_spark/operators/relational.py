"""Relational operator library (SURVEY.md §2.2/2.4/2.5/2.7).

Each operator is a pure DataFrame→DataFrame function built from Catalyst
expressions — single-pass where the reference made multiple passes, and
distributed where the reference collected to the driver:

- ``null_census``         — per-column null counts in ONE scan
                            (reference: ``eda/eda_analysis.py:35-39``).
- ``describe_stats``      — count/mean/stddev/min/max per numeric column,
                            one scan + unpivot (reference: ``.describe()``,
                            ``eda/eda_analysis.py:48``).
- ``grouped_percentiles`` — exact percentiles per group (reference used
                            driver-side ``approxQuantile``,
                            ``eda/eda_analysis.py:52``; exact form is
                            oracle-comparable and still distributed).
- ``class_weights``       — w_k = total/(K·n_k) computed fully distributed
                            (reference collects counts to the driver,
                            ``ml/train_model.py:150-175`` — a pattern that
                            dies at scale; here it is a tiny agg + window +
                            broadcast join back).
- ``global_row_number``   — deterministic global dense ids WITHOUT the
                            single-task ``Window.orderBy`` hazard
                            (reference: ``eda/merge_datasets.py:65-69``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import checkpoint_for_reuse


def null_census(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row; one column per input column holding its null count.

    Single scan, map-side partial aggregation — at 100 TB this is a pure
    scan+combine with no shuffle beyond the final 1-row reduce.
    """
    cols = cols or df.columns
    return df.select(
        [F.sum(F.col(c).isNull().cast("int")).cast("long").alias(c) for c in cols]
    )


def describe_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format describe: (col_name, n, mean, std, min, max) per numeric col.

    One aggregation pass over all columns, then a driver-free unpivot via
    ``stack`` — unlike ``DataFrame.describe`` this has a stable typed schema
    (doubles, not strings) so it can be hash-compared to an oracle.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("double").alias(f"__n_{c}"),
            F.avg(F.col(c)).alias(f"__mean_{c}"),
            F.stddev_samp(F.col(c)).alias(f"__std_{c}"),
            F.min(F.col(c)).cast("double").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__n_{c}`, `__mean_{c}`, `__std_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n, mean, std, min, max)"
    )


def grouped_percentiles(
    df: DataFrame, group_col: str, value_col: str, probs: list[float]
) -> DataFrame:
    """Exact linear-interpolated percentiles per group (= SQL quantile_cont).

    Uses the built-in ``percentile`` aggregate (JVM-side). Exact percentile
    holds per-group values in memory on the reducer: fine for bounded-
    cardinality value domains / groups; for unbounded 100 TB columns switch
    to ``percentile_approx`` (Greenwald-Khanna, mergeable sketches).
    """
    pcts = F.percentile(F.col(value_col), F.array(*[F.lit(p) for p in probs]))
    out = df.groupBy(group_col).agg(pcts.alias("__p"))
    sel = [F.col(group_col)] + [
        F.col("__p")[i].alias(f"p{int(p * 100):02d}") for i, p in enumerate(probs)
    ]
    return out.select(*sel)


# Routing-bounds sampling modulus: the percentile-bounds sketch below
# runs only over rows whose deterministic hash lands on residue 0,
# cutting the Greenwald-Khanna insert cost (the dominant CPU of the
# bounds pass — acc-1000 sketching the full 14.5M-row Theil-Sen slope
# stream cost ~an order of magnitude more than a plain count agg over
# the same rows) by ~the modulus. Bounds affect ROUTING ONLY — the
# selection/prefix math downstream is exact against real ranks — so a
# sampled sketch changes balance at most, never values. Groups too small
# (or too duplicate-heavy) to land a sampled row fall back to ONE bucket
# via the left join + `_bounds_bucket`-on-NULL-bounds path — the same
# single-bucket routing a constant-valued group gets from duplicate
# percentile bounds.
BOUNDS_SAMPLE_MOD = 16


def _bounds_sample(df: DataFrame, cols: list[str]) -> DataFrame:
    """The deterministic 1/``BOUNDS_SAMPLE_MOD`` routing-bounds sample:
    ``xxhash64`` over the routing-relevant columns, so retries and both
    engines draw the identical sample (never ``rand()`` — SPARK-38388)."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    return df.filter(F.pmod(h, F.lit(BOUNDS_SAMPLE_MOD)) == 0)


def _bounds_bucket(key: Column, n_buckets: int) -> Column:
    """Bucket index 0..n_buckets-1 by BINARY SEARCH over a sorted
    ``__bnds`` percentile-bounds array column (log2 comparisons per row
    instead of a linear n_buckets-1 fold — at 14.5M rows x 31 bounds the
    linear fold alone cost ~5 s). With duplicate bounds the search may
    land in a different (empty-ranged) bucket than a linear count would —
    harmless because the SAME pinned bounds route every consumer (see
    :func:`_route_by_bounds`). ``n_buckets`` must be a power of two."""
    idx, step = F.lit(0), n_buckets // 2
    while step:
        probe = F.element_at("__bnds", (idx + F.lit(step)).cast("int"))
        idx = idx + F.when(key > probe, F.lit(step)).otherwise(F.lit(0))
        step //= 2
    return idx


def _route_by_bounds(
    df: DataFrame,
    groups: list[str],
    key: str,
    n_buckets: int,
    bounds_src: DataFrame | None = None,
) -> DataFrame:
    """``df`` plus an int ``__bkt``: the row's rank range of ``key``
    within its ``groups`` (``[]`` = one global range). Buckets follow key
    order, so an exact rank or prefix is per-bucket work plus a per-bucket
    offset (:func:`_exclusive_offsets`).

    Per-group ``percentile_approx`` bounds split the key into
    ``n_buckets`` ranges (a power of two, for the binary search). They
    are sketched over ``bounds_src`` as-is when given, else over the
    1/``BOUNDS_SAMPLE_MOD`` hash sample of ``df``; a group absent from
    the sketch gets NULL bounds via the LEFT join and routes whole into
    bucket 0 (exact, single-window).

    The |groups|-row bounds frame is pinned once with
    ``checkpoint_for_reuse``. ``percentile_approx``'s sketch merge depends
    on arrival order, so two consumers that each re-derived the bounds
    could route one row into different buckets whenever Spark does not
    dedup their broadcasts (``spark.sql.exchange.reuse=false``, or a
    canonicalization change) — silently wrong ranks. With the pin every
    consumer reads the identical bounds.

    A NULL or NaN key fails the query (``raise_error``): NULL has no rank
    position and engines disagree on its sort order, and NaN routes to
    bucket 0 (``NaN > probe`` is false) while ``orderBy`` sorts it LAST,
    which would silently shift every later rank.
    """
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(
            f"n_buckets must be a power of two >= 2 (binary-search bucket "
            f"assignment), got {n_buckets}"
        )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # routed as a double: the cast is monotone, so bucket order still
    # follows key order for any numeric key type
    kd = F.col(key).cast("double")
    src = bounds_src if bounds_src is not None else _bounds_sample(df, [*groups, key])
    bounds = checkpoint_for_reuse(
        src.groupBy(*groups).agg(
            F.sort_array(F.percentile_approx(kd, probs, 1_000)).alias("__bnds")
        )
    )
    routed = (
        df.join(F.broadcast(bounds), groups, "left")
        if groups
        else df.crossJoin(F.broadcast(bounds))
    )
    bkt = F.when(
        kd.isNull() | F.isnan(kd),
        F.raise_error(F.lit(f"rank key `{key}` must be non-null and non-NaN")),
    ).otherwise(_bounds_bucket(kd, n_buckets))
    return routed.withColumn("__bkt", bkt).drop("__bnds")


def _exclusive_offsets(
    sizes: DataFrame, groups: list[str], bucket: str, size: str
) -> DataFrame:
    """Add ``__off`` (the sum of ``size`` over the EARLIER buckets of the
    same group, 0 for the first) and ``__n`` (the group's total) to a
    |groups·buckets|-row ``sizes`` frame — tiny, so callers broadcast it
    back onto the rows."""
    w = Window.partitionBy(*groups)
    before = w.orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)
    return sizes.withColumn(
        "__off", F.coalesce(F.sum(size).over(before), F.lit(0))
    ).withColumn("__n", F.sum(size).over(w))


def _range_partitions(df: DataFrame, order_by: list) -> DataFrame:
    """``df`` range-repartitioned on ``order_by`` (the partition index
    then follows the global order), sorted within partitions, with each
    row stamped ``__pid`` (its partition) and ``__pos`` (its 0-based
    position inside it), pinned eagerly.

    ``__pos`` is the low 33 bits of ``monotonically_increasing_id`` =
    (partition_id << 33) | record_number, so no ``Window.partitionBy``
    over the partition id is needed — that window would force a SECOND
    full-data exchange right after the range exchange, reshuffling data
    the range partitioner already co-located. Caps partitions at 2^33
    rows (the same practical bound as row_number's int).

    The eager ``checkpoint_for_reuse`` pin fixes the ranged layout BEFORE
    callers branch: their sizes aggregate re-reads the same materialized
    RDD, so ``__pid`` means the same partition in both branches. Without
    it AQE may coalesce the tiny aggregate branch's read of the range
    shuffle differently from the main branch — the branches then disagree
    on partition ids and the join on ``__pid`` silently drops rows. The
    tradeoff: a full job at DataFrame-construction time (laziness is
    lost), and data pinned UNREPLICATED on executors (an executor loss
    mid-pipeline fails the query unrecoverably — acceptable for the short
    window between checkpoint and consumption; rerun on failure). Plan
    audits skip the pin to measure the whole lineage (see
    ``checkpoint_for_reuse``), so a plan built for one is for inspection,
    not for results.
    Value-bounds buckets (:func:`_route_by_bounds`) would stay lazy and
    AQE-stable; adopt them if executor loss during numbering ever becomes
    a real operational concern.
    """
    parted = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    return checkpoint_for_reuse(
        parted.withColumn(
            "__pos", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        ).withColumn("__pid", F.spark_partition_id())
    )


def _prefix_sums(
    local: DataFrame,
    groups: list[str],
    bucket: str,
    order_by: list,
    weight: Column | None,
) -> DataFrame:
    """Add ``__pre``, the INCLUSIVE running sum of ``weight`` in
    ``order_by`` order within ``groups``, and ``__n``, the group total,
    to ``local`` whose ``bucket`` column holds ordered key ranges. Each
    (group, bucket) prefix-sums in parallel; each bucket's exclusive
    offset comes from a |groups·buckets|-row window broadcast back.

    ``weight=None`` numbers rows (a running count) from the
    within-partition ``__pos`` of :func:`_range_partitions`, with no
    window and so no exchange. The sizes aggregate reads the windowed
    frame; column pruning drops the window there, so the aggregate
    shares whatever exchange ``local`` brings (or, without one, runs as
    a map-side partial aggregate)."""
    if weight is None:
        loc, size = F.col("__pos") + 1, F.count(F.lit(1))
    else:
        w = (
            Window.partitionBy(*groups, bucket)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        loc, size = F.sum(weight).over(w), F.sum(weight)
    summed = local.withColumn("__loc", loc)
    sizes = summed.groupBy(*groups, bucket).agg(size.alias("__s"))
    offsets = _exclusive_offsets(sizes, groups, bucket, "__s").drop("__s")
    return (
        summed.join(F.broadcast(offsets), [*groups, bucket])
        .withColumn("__pre", F.col("__loc") + F.col("__off"))
        .drop(bucket, "__loc", "__off", "__pos")
    )


def grouped_exact_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_buckets: int = 32,
    bounds_src: DataFrame | None = None,
) -> DataFrame:
    """Exact per-group median of a numeric column WITHOUT a per-group
    single-task sort — the scale path for low-cardinality groups over
    many values (e.g. Theil-Sen's ~3M pairwise slopes per priority,
    where ``row_number().over(partitionBy(group).orderBy(value))``
    funnels each group through one task).

    Single-shuffle bucketed order-statistic selection:

    1. ``percentile_approx`` bounds per group split values into
       ``n_buckets`` rank ranges (:func:`_route_by_bounds`; the
       approximation affects ROUTING only, never the result).
    2. The bucketed rows are hash-exchanged ONCE on (group, bucket).
       The count-per-(group, bucket) aggregate and the candidate-bucket
       sort BOTH require exactly that distribution, so they ride the
       same materialized exchange (AQE stage reuse) — the input lineage
       executes once, the counts come for free off the shuffle files,
       and only the bucket(s) holding the two middle order statistics
       (located by the tiny |groups·buckets|-row offsets window) are
       sorted, bucket-locally, with exact global ranks picked via
       bucket-offset + local row_number.

    The even-n median is the explicit mean of the two middle values —
    engine-portable, unlike interpolated ``quantile_cont`` whose
    ``lo + p·(hi−lo)`` can differ from ``(lo+hi)/2`` in the last ulp.

    Contract: ``value_col`` must be non-null AND non-NaN — either fails
    the query (see :func:`_route_by_bounds`); drop both upstream. The
    input is used as given: callers with a few-partition input spread it
    first (every pass over it runs at its partition count), and callers
    with an expensive lineage pin it (it is read twice: bounds sample
    and bucketed exchange). Returns ``group_col, n (BIGINT), median
    (double)``.

    ``bounds_src``: optional cheap routing-only proxy frame carrying the
    same ``(group_col, value_col)`` columns. When given, the percentile
    bounds are sketched over it AS-IS (no further sampling) instead of
    over a 1/``BOUNDS_SAMPLE_MOD`` hash sample of ``df`` — the caller's
    escape hatch when ``df`` is an expensive fan-out whose inputs can be
    subsampled BEFORE the fan-out (Theil-Sen samples days, making the
    bounds join ~mod² cheaper than filtering fanned-out pairs). Bounds
    affect routing only, so any distribution-shaped proxy is correct; a
    group absent from the proxy routes whole into bucket 0.
    """
    bucketed = _route_by_bounds(
        df.select(group_col, value_col), [group_col], value_col, n_buckets, bounds_src
    )
    # ONE full-data exchange, shared: both the counts aggregate and the
    # candidate window need hash(group, bucket) distribution, so they
    # consume this exchange's shuffle files directly (no second shuffle,
    # no lineage re-execution — AQE materializes the stage once).
    shuffled = bucketed.repartition(group_col, "__bkt")
    # count(value), NOT count(1): identical under the non-null contract,
    # but it keeps value_col in the counts subtree's projection — column
    # pruning would otherwise narrow this side below the exchange to
    # (group, bucket), the two exchange subtrees would no longer
    # canonicalize equal, and AQE's stage cache would run the full-data
    # shuffle TWICE instead of reusing it (measured: no ReusedExchange,
    # duplicated REPARTITION_BY_COL subtrees).
    counts = shuffled.groupBy(group_col, "__bkt").agg(
        F.count(F.col(value_col)).cast("long").alias("__c")
    )
    info = _exclusive_offsets(counts, [group_col], "__bkt", "__c")
    k1 = F.expr("(__n + 1) DIV 2")
    k2 = F.expr("(__n + 2) DIV 2")
    in_bucket = lambda k: (k > F.col("__off")) & (k <= F.col("__off") + F.col("__c"))
    sel = info.filter(in_bucket(k1) | in_bucket(k2)).select(
        group_col, "__bkt", "__off", "__n"
    )
    wl = Window.partitionBy(group_col, "__bkt").orderBy(value_col)
    ranked = shuffled.join(F.broadcast(sel), [group_col, "__bkt"]).withColumn(
        "__rank", F.row_number().over(wl).cast("long") + F.col("__off")
    )
    mid = ranked.filter((F.col("__rank") == k1) | (F.col("__rank") == k2))
    return mid.groupBy(group_col).agg(
        F.max("__n").alias("n"),
        F.avg(value_col).alias("median"),
    )


def class_weights(df: DataFrame, label_col: str, num_classes: int = 2) -> DataFrame:
    """Balanced class weights w_k = total / (K * n_k), fully distributed.

    Returns the input with an extra ``class_weight`` column. The per-class
    count table is tiny (K rows): total is computed with an unpartitioned
    window over it (K rows through one task — trivially safe) and the map
    back onto the data is a broadcast join, so nothing ever collects to the
    driver regardless of data size.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n_k"))
    w = Window.partitionBy()
    weights = counts.withColumn(
        "class_weight",
        F.sum("__n_k").over(w).cast("double") / (F.lit(num_classes) * F.col("__n_k")),
    ).drop("__n_k")
    return df.join(F.broadcast(weights), on=label_col, how="left")


def global_row_number(
    df: DataFrame, order_cols: list[str], id_col: str = "id"
) -> DataFrame:
    """Dense 1..N ids in a deterministic total order, scalably.

    The naive ``row_number().over(Window.orderBy(...))`` funnels every row
    through ONE task. Here: range-repartition on the order keys (so the
    partition index itself follows the global order), number rows within
    each partition in parallel, then add per-partition offsets computed
    from a tiny (num_partitions-row) aggregate via broadcast join
    (:func:`_range_partitions`, whose docstring carries the eager-pin
    tradeoff).

    Requires ``order_cols`` to be a unique key for a fully deterministic
    assignment (same contract as the reference's 7-column sort,
    ``eda/merge_datasets.py:65-69``).
    """
    numbered = _prefix_sums(_range_partitions(df, order_cols), [], "__pid", [], None)
    return numbered.withColumn(id_col, F.col("__pre").cast("long")).drop(
        "__pre", "__n"
    )


def global_ntile(
    df: DataFrame,
    order_by: list[Column],
    n_tiles: int,
    out_col: str = "tile",
) -> DataFrame:
    """``ntile(n)`` over a global deterministic order WITHOUT the
    single-task ``Window.orderBy`` hazard.

    The naive ``ntile(n).over(Window.orderBy(...))`` plans an
    ``Exchange SinglePartition`` and sorts every row in one task — at
    entity grain on a real warehouse that is billions of rows through
    one core. Here: the 1-based global position from the same scalable
    range-partition numbering as :func:`global_row_number`, mapped to its
    tile with ntile's exact quota arithmetic: with N rows the first
    ``N % n`` tiles hold ``N div n + 1`` rows, the rest ``N div n`` —
    bit-identical to the window form for any N.

    ``order_by`` may carry ``.desc()`` / ``.asc()`` sort orders and must
    form a unique key (same determinism contract as
    :func:`global_row_number`).
    """
    numbered = _prefix_sums(_range_partitions(df, order_by), [], "__pid", [], None)
    k = int(n_tiles)
    # __pre ∈ [1, N]; quota split: big = __n DIV k + 1 rows for the first
    # __n % k tiles, small = __n DIV k for the rest. All-integer — no
    # doubles anywhere, so the assignment is exact at any N.
    tile_expr = F.expr(
        f"CAST(IF(__pre <= (__n % {k}) * (__n DIV {k} + 1), "
        f"(__pre - 1) DIV (__n DIV {k} + 1) + 1, "
        f"(__n % {k}) + (__pre - (__n % {k}) * (__n DIV {k} + 1) - 1) "
        f"DIV (__n DIV {k}) + 1) AS INT)"
    )
    return numbered.withColumn(out_col, tile_expr).drop("__pre", "__n")


def grouped_cumsum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """INCLUSIVE running per-group sum of ``value_col`` in ``order_col``
    order WITHOUT the per-group single-task window — the grouped sibling
    of :func:`global_cumsum`'s numeric branch, for LOW-cardinality groups
    over HIGH-cardinality numeric order keys (e.g. Spearman's per-flag
    price-rank prefix: ``Window.partitionBy(flag)`` funnels ~20M
    value-grain rows through 3 tasks).

    Mechanics: per-group ``percentile_approx`` bounds split the order
    key into 32 ordered ranges (:func:`_route_by_bounds` —
    the bounds affect ROUTING only); the prefix window partitions by
    (group, bucket), so its own hashpartitioning exchange is the ONLY
    full-data shuffle and every bucket prefix-sums in parallel; each
    bucket's exclusive offset comes from a |groups·buckets|-row window
    broadcast back. repartitionByRange + partition-id offsets was 2x
    SLOWER than the naive window at the 100x smoke: the range sampler
    re-executes the (unmaterialized) input for sampling, and the
    window's hash exchange re-shuffles what the range exchange had just
    placed.

    The sizes pass is a map-side partial aggregate over the un-shuffled
    lineage, not a second reader of the window's exchange: the window
    side carries every caller payload column (the operator returns all
    input columns) while the sizes side prunes to (group, order, value),
    so the two exchange subtrees could never canonicalize equal and a
    "shared" repartition would really run the full-data shuffle twice.

    Contract: ``(group_col, order_col)`` must be jointly unique
    (value-grain frames satisfy this by construction) — with ties the
    ROWS-frame prefix inside a bucket would be order-dependent — and
    ``order_col`` must be numeric (percentile bounds), non-null and
    non-NaN (either fails the query, see :func:`_route_by_bounds`). The
    input is read twice (bounds sample, bucketed window): callers with
    an expensive lineage pin it first.
    """
    bucketed = _route_by_bounds(df, [group_col], order_col, 32)
    out = _prefix_sums(bucketed, [group_col], "__bkt", [order_col], F.col(value_col))
    return out.withColumnRenamed("__pre", out_col).drop("__n")


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """INCLUSIVE running sum of ``value_col`` in a deterministic total
    order, scalably: bucket the order key into ordered ranges, prefix-sum
    inside each bucket in parallel, then add each bucket's exclusive
    offset (the sum of all earlier buckets' totals) via a tiny broadcast
    join. Feeds sequence packing / byte-offset layout jobs where a
    one-task ``Window.orderBy`` running sum would serialize the corpus.

    With a single numeric order key (the common case) the buckets come
    from value bounds (:func:`_route_by_bounds`), and ONE
    hashpartitioning(__bkt) exchange is the only full-data shuffle —
    shared by the prefix window AND the sizes aggregate (AQE stage
    reuse). repartitionByRange + Window.partitionBy(pid) would shuffle
    everything twice: the window's required distribution can't see that
    the range partitioner already co-located the rows. Otherwise falls
    back to range-partition buckets (:func:`_range_partitions`).

    Order keys must be non-null (a null fails the query) and jointly
    unique; a single numeric key must also be non-NaN. Callers with
    extra payload columns should project before calling: the window
    side must carry every input column, so a wider frame breaks the
    canonical match with the sizes side and duplicates the shuffle."""
    from functools import reduce

    from pyspark.sql import types as T

    # The null guard lives INSIDE the summed weight so it references
    # every order column on both the window and the sizes side: for the
    # narrow (order, value) frames every current caller passes, the sizes
    # subtree below the shared exchange then canonicalizes EQUAL to the
    # window subtree and AQE reuses the one materialized shuffle instead
    # of running a second (pruned) full-data exchange.
    weight = F.when(
        reduce(lambda a, b: a | b, [F.col(c).isNull() for c in order_cols]),
        F.raise_error(
            F.lit(f"global_cumsum: order keys {order_cols} must be non-null")
        ),
    ).otherwise(F.col(value_col))
    if len(order_cols) == 1 and isinstance(
        df.schema[order_cols[0]].dataType, T.NumericType
    ):
        # shuffle partitions rounded UP to a power of two for the
        # binary-search bucket assignment, capped at 4096 so the probs
        # array stays sketch-sized: past ~4k probs an accuracy-1000 GK
        # sketch emits mostly duplicate bounds anyway
        n_bkt = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        n_bkt = 1 << max(1, min(12, (n_bkt - 1).bit_length()))
        local = _route_by_bounds(df, [], order_cols[0], n_bkt).repartition("__bkt")
        bucket = "__bkt"
    else:
        local, bucket = _range_partitions(df, order_cols), "__pid"
    out = _prefix_sums(local, [], bucket, order_cols, weight)
    return out.withColumn(out_col, F.col("__pre").cast("long")).drop("__pre", "__n")


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    pct_points: list[int],
) -> DataFrame:
    """Weighted lower quantiles: for each integer percent ``k`` in
    ``pct_points``, the smallest value whose cumulative weight reaches
    ``k``% of the total weight — e.g. "the price below which 50% of
    shipped QUANTITY falls", the weighted median every BI layer wants
    and Spark has no operator for.

    Contract: ``weight_col`` must be non-negative INTEGERS (pre-scale
    fixed decimals to cents/hundredths) — thresholds then compare in
    exact arithmetic (``cumw * 100 >= k * total`` in decimal(38,0), so
    the ×100 can't overflow a long at 100 TB weight totals), and two
    engines can never disagree on a boundary the way a float
    ``p * total`` could. ``pct_points`` must be integers in 1..100
    (validated). Null values/weights are dropped (SQL aggregate
    semantics); a NaN numeric value fails the query (see
    :func:`global_cumsum`). Bound: the running weight itself accumulates
    in BIGINT, so sum(weight) must stay below 2^63 (~9.2e18 — a
    quintillion cents).

    Scale: the input reduces to distinct-value grain first (one
    map-side-combined agg); the running weight comes from
    :func:`global_cumsum` (range-bucketed prefix sums — never a
    single-task ``Window.orderBy``); the per-percentile pick is a
    broadcast of |pct_points| literals + one min-agg. One full-data
    shuffle total.
    """
    try:
        bad = [
            k
            for k in pct_points
            # bool first: True == int(True) == 1 would pass the range check
            # and silently compute the 1st percentile
            if isinstance(k, bool) or k != int(k) or not (1 <= int(k) <= 100)
        ]
    except (TypeError, ValueError):
        raise ValueError(f"pct_points must be integers in 1..100, got {pct_points!r}")
    if bad:
        # pct=0 would silently yield the min value, pct>100 no row at all,
        # and a fractional pct would silently truncate to a DIFFERENT
        # percentile — none is what the caller asked for; fail loudly
        raise ValueError(f"pct_points must be integers in 1..100, got {bad}")
    # eager checkpoint: the reduced frame feeds global_cumsum (data +
    # its bucket-boundary probe) AND the total — without it the source
    # aggregation executes three times. O(|distinct values|) rows.
    g = checkpoint_for_reuse(
        df.filter(F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())
        .groupBy(value_col)
        .agg(F.sum(weight_col).cast("long").alias("__w"))
    )
    c = global_cumsum(g, [value_col], "__w", out_col="__cumw")
    tot = g.agg(F.sum("__w").alias("__tot"))
    ks = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(int(k)) for k in pct_points])).alias("pct")
    )
    # threshold compare in decimal(38,0): long arithmetic would overflow
    # silently past sum(weight) ~9.2e16 cents and flip the comparison at
    # exactly the 100 TB scale this operator is for. DECIMAL keeps the
    # compare exact to 1e38 and DuckDB's HUGEINT oracle agrees.
    dec = "decimal(38,0)"
    return (
        c.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ks))
        .filter(
            F.col("__cumw").cast(dec) * 100
            >= F.col("pct").cast(dec) * F.col("__tot").cast(dec)
        )
        .groupBy("pct")
        .agg(F.min(value_col).alias("value"))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-safe inner equi-join: manual salting for when one join key is hot.

    The big side gets a uniform random salt in [0, salt_buckets); the small
    side is replicated once per salt value; the join runs on
    ``on + [salt]`` so a hot key's rows spread across ``salt_buckets``
    reducers instead of one straggler task. Results are identical to the
    plain join — salting only changes physical placement.

    AQE's skew-join split handles most skew automatically; reach for this
    when skew is known ahead of time (a null-heavy foreign key, a
    power-law entity) or when AQE is unavailable (streaming joins).
    """
    salted_big = big.withColumn(
        "__salt", F.floor(F.rand(seed=42) * salt_buckets).cast("int")
    )
    salted_small = small.withColumn(
        "__salt_arr", F.sequence(F.lit(0), F.lit(salt_buckets - 1))
    ).withColumn("__salt", F.explode("__salt_arr")).drop("__salt_arr")
    return salted_big.join(salted_small, on=[*on, "__salt"]).drop("__salt")


def quality_checks(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """(check, n_rows, n_violations, violation_rate) — one-pass data-quality
    expectation census: every check is a boolean Column that should hold
    per row; violations are conditional sums inside a SINGLE aggregation
    (one scan however many rules), then stack()-unpivoted to long form.
    The 100 TB version of an expectations suite: no per-rule passes, no
    driver-side row iteration.
    """
    from ..functions.rounding import portable_round

    aggs = [
        F.sum((~c).cast("long")).alias(f"__v{i}")
        for i, (name, c) in enumerate(checks.items())
    ]
    row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    # SQL-escape rule names ('' doubling) — a quote in a caller-supplied
    # name must not break (or inject into) the stack() expression
    pairs = ", ".join(
        "'{}', __v{}".format(name.replace("'", "''"), i)
        for i, name in enumerate(checks)
    )
    return row.select(
        F.col("__n").alias("n_rows"),
        F.expr(f"stack({len(checks)}, {pairs}) AS (rule, n_violations)"),
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        portable_round(F.col("n_violations") / F.col("n_rows"), 6).alias(
            "violation_rate"
        ),
    )


def conformance_report(
    df: DataFrame,
    checks: dict[str, Column] | None = None,
    unique: dict[str, list[str]] | None = None,
    fks: dict[str, tuple[list[str], DataFrame, list[str]]] | None = None,
) -> DataFrame:
    """:func:`quality_checks` plus the two Deequ-style rule classes a
    single-pass predicate census cannot express:

    - **key uniqueness** (``unique``: rule → key columns): violations =
      non-NULL-keyed rows minus distinct keys — one hash shuffle on the
      key with map-side partial aggregation, the same exchange a later
      dedup would pay anyway. NULL-keyed rows are a completeness
      concern, not a uniqueness one (pair with an ``isNotNull`` check).
    - **referential integrity** (``fks``: rule → (child key cols,
      parent frame, parent key cols)): violations = non-NULL-keyed
      child rows with no parent — a LEFT ANTI join that Catalyst
      broadcasts when the parent key set is small and shuffles
      otherwise; NULL child keys are not violations (SQL FK
      semantics).

    Same (rule, n_rows, n_violations, violation_rate) contract as
    :func:`quality_checks`; ``n_rows`` is always the FULL table count,
    so rates are comparable across rule classes. Each unique/fk rule is
    its own scan of the key columns only (column-pruned); the predicate
    rules still share one scan.
    """
    from ..functions.rounding import portable_round

    parts: list[DataFrame] = []
    if checks:
        parts.append(quality_checks(df, checks))
    total = df.agg(F.count(F.lit(1)).alias("n_rows"))
    for name, cols in (unique or {}).items():
        nn = df
        for c in cols:
            nn = nn.filter(F.col(c).isNotNull())
        viol = nn.agg(
            (F.count(F.lit(1)) - F.count_distinct(*cols)).alias(
                "n_violations"
            )
        )
        parts.append(
            viol.crossJoin(F.broadcast(total)).select(
                F.lit(name).alias("rule"),
                "n_rows",
                "n_violations",
                portable_round(
                    F.col("n_violations") / F.col("n_rows"), 6
                ).alias("violation_rate"),
            )
        )
    for name, (ccols, parent, pcols) in (fks or {}).items():
        child = df.select(*ccols)
        for c in ccols:
            child = child.filter(F.col(c).isNotNull())
        pkeys = parent.select(
            *[F.col(p).alias(c) for c, p in zip(ccols, pcols)]
        )
        viol = child.join(pkeys, on=list(ccols), how="left_anti").agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        parts.append(
            viol.crossJoin(F.broadcast(total)).select(
                F.lit(name).alias("rule"),
                "n_rows",
                "n_violations",
                portable_round(
                    F.col("n_violations") / F.col("n_rows"), 6
                ).alias("violation_rate"),
            )
        )
    if not parts:
        raise ValueError(
            "conformance_report needs at least one rule: pass checks=, "
            "unique=, or fks="
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
