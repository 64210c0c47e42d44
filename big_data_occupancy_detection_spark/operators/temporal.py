"""Temporal join operators — as-of join and band (range) self-join.

The reference implements no joins at all (SURVEY.md §2.3); these are the
two time-series join shapes a large-scale event pipeline needs that Spark
has no built-in operator for. Both are expressed as compositions of
existing DataFrame ops chosen for their 100 TB behavior:

- ``asof_join``: the union+sort+last-value pattern — ONE shuffle on the
  partition key (same cost as an equi-join), no range cross-product, no
  per-key driver loops. This is how point-in-time joins are done at scale
  (feature stores, tick data): tag both sides, sort each key's timeline
  once, and carry the most recent right-side values forward with
  ``last(ignorenulls=True)`` over a running window.
- ``band_self_join_pairs``: the bucketed band-join pattern — quantize time
  into buckets of the band width, replicate ONE side into its bucket and
  the successor bucket, then equi-join on (key, bucket) so Catalyst gets a
  hash join instead of the O(n·m) broadcast-nested-loop a raw inequality
  join degenerates to. The final exact band predicate filters the small
  candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tag_and_union(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    op_name: str,
    keep_rt: bool = False,
) -> DataFrame:
    """Shared as-of preamble: validate the no-collision contract, tag
    both sides (``__t`` timestamp, ``__is_left`` flag), null-seed the
    value columns on the left, drop null right timestamps (they can
    never satisfy any as-of predicate — left in, they would sort into a
    probe's frame), pad the right side to the left schema, and union.
    ``keep_rt`` additionally carries the right timestamp as ``__rt``
    (null on the left) for distance computations.

    Contract: ``left_ts``/``right_ts`` must be timestamp or date
    columns — both are cast to ``timestamp`` so the two sides union to
    one comparable axis. A numeric "timestamp" (epoch seconds, sequence
    number) would be reinterpreted by the cast (or nulled, for an
    unparseable string) — pre-convert such columns to real timestamps
    before calling."""
    clash = {c for c in value_cols} & (
        set(left.columns) | set(on) | {left_ts, right_ts}
    )
    if clash:
        raise ValueError(
            f"{op_name} value_cols collide with left/key/timestamp columns: "
            f"{sorted(clash)}; alias them on the right before joining"
        )
    l_tagged = left.withColumn("__t", F.col(left_ts).cast("timestamp")).withColumn(
        "__is_left", F.lit(1)
    )
    for c in value_cols:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    r_tagged = (
        right.select(
            *on, F.col(right_ts).cast("timestamp").alias("__t"), *value_cols
        )
        .filter(F.col("__t").isNotNull())
        .withColumn("__is_left", F.lit(0))
    )
    if keep_rt:
        l_tagged = l_tagged.withColumn("__rt", F.lit(None).cast("timestamp"))
        r_tagged = r_tagged.withColumn("__rt", F.col("__t"))
    for f in left.schema.fields:
        if f.name not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(f.name, F.lit(None).cast(f.dataType))
    return l_tagged.unionByName(r_tagged)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Point-in-time (backward) as-of left join.

    For each left row, attach ``value_cols`` from the right row with the
    greatest ``right_ts`` <= ``left_ts`` within the same ``on`` key group
    (ties at equal timestamps: the right row IS visible, matching SQL
    ``ASOF JOIN ... ON l.ts >= r.ts``). Left rows with no prior right row
    get nulls.

    Requires ``right`` to be unique per (``on``, ``right_ts``) — pre-
    aggregate it otherwise; with duplicates the surviving row would be
    tie-order dependent. ``value_cols`` must be non-null in ``right``
    (a null value would be skipped over by ``last(ignorenulls)`` and an
    older row's value carried instead).

    Scale: one hash shuffle on ``on`` + a per-key sort — the same cost
    profile as a plain equi-join, independent of how far back matches are.

    ``value_cols`` must be disjoint from the left side's columns (and from
    the key/timestamp names): the implementation seeds those columns as
    null on the left before the union, so a collision would silently null
    out left data instead of erroring. Rename on the left first.
    """
    unioned = _tag_and_union(
        left, right, on, left_ts, right_ts, value_cols, "asof_join"
    )

    # Right rows (0) sort before left rows (1) at equal __t, so a right row
    # at exactly left_ts is already visible to the running last(). A
    # NULL-timestamp left row sorts NULLS FIRST with an empty backward
    # frame, so it gets nulls without needing a mask.
    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *[c for c in unioned.columns if c not in ("__t", "__is_left", *value_cols)],
        F.col("__is_left"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    return filled.filter(F.col("__is_left") == 1).drop("__is_left")


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Forward as-of left join: attach ``value_cols`` from the right row
    with the SMALLEST ``right_ts`` >= ``left_ts`` per ``on`` group (the
    "next event at or after" lookup — matching SQL ``ASOF JOIN ... ON
    l.ts <= r.ts``). Left rows with no later right row get nulls.

    Mirror of :func:`asof_join` with the window frame reversed: same
    union + one hash shuffle + per-key sort, cost independent of match
    distance. Same contracts — ``right`` unique per (``on``,
    ``right_ts``), non-null ``value_cols``, no column collisions.
    """
    unioned = _tag_and_union(
        left, right, on, left_ts, right_ts, value_cols, "asof_join_forward"
    )

    # Forward fill as an INCREMENTAL frame over the REVERSED sort:
    # (unboundedPreceding → currentRow) on (__t DESC, __is_left ASC) sees
    # exactly the rows with __t >= left_ts, and last(ignorenulls) picks
    # the smallest such right timestamp. A (currentRow →
    # unboundedFollowing) frame on the ascending sort computes the same
    # value but via Spark's UnboundedFollowingWindowFunctionFrame, which
    # re-evaluates the aggregate from scratch per row — O(n²) in per-key
    # density (measured: 59× wall for 10× rows on the 100× events
    # smoke). At equal __t, right rows (0) sort before left rows (1), so
    # an exact-timestamp match is inside the frame. A NULL-timestamp
    # left row sorts NULLS LAST under DESC — its frame covers every
    # right row — so its fill is masked back to null (l.ts <= r.ts is
    # never true for a null probe, matching the SQL ASOF semantics and
    # the backward twin).
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").desc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    null_probe = F.col("__t").isNull()
    filled = unioned.select(
        *[c for c in unioned.columns if c not in ("__t", "__is_left", *value_cols)],
        F.col("__is_left"),
        *[
            F.when(
                null_probe, F.lit(None).cast(right.schema[c].dataType)
            )
            .otherwise(F.last(c, ignorenulls=True).over(w))
            .alias(c)
            for c in value_cols
        ],
    )
    return filled.filter(F.col("__is_left") == 1).drop("__is_left")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Nearest as-of left join: attach ``value_cols`` from the right row
    whose ``right_ts`` is CLOSEST to ``left_ts`` (by absolute distance)
    within the same ``on`` group — the pandas ``merge_asof
    direction='nearest'`` shape. Equidistant backward/forward candidates
    resolve to the BACKWARD (earlier) match. With ``tolerance_seconds``,
    matches farther than the tolerance (inclusive bound: ``dist <= tol``)
    are discarded and the left row gets nulls.

    Same union plan as :func:`asof_join`: ONE hash shuffle on ``on``,
    then two in-partition sorts (ascending for the backward fill,
    descending for the forward fill) — both fills are INCREMENTAL
    running-last frames, never the per-row-re-evaluated
    UnboundedFollowing frame (O(n²) in per-key density). An
    equal-timestamp right row matches at distance 0 from both sides and
    the backward side wins the tie with the identical row.

    Distances compare in INTEGER microseconds (``unix_micros``), never
    double epoch-seconds — a double gap near the tolerance boundary could
    classify differently from exact integer semantics (see
    sessionize_intervals' boundary note). Same contracts as the backward
    twin: ``right`` unique per (``on``, ``right_ts``), non-null
    ``value_cols``, no column collisions.
    """
    unioned = _tag_and_union(
        left, right, on, left_ts, right_ts, value_cols, "asof_join_nearest",
        keep_rt=True,
    )

    w_back = (
        Window.partitionBy(*on)
        .orderBy("__t", "__is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward fill via the REVERSED sort, same incremental frame — a
    # (currentRow → unboundedFollowing) frame re-evaluates per row
    # (O(n²) in per-key density; see asof_join_forward). Costs a second
    # in-partition sort, never a second shuffle. At equal __t the right
    # row is inside this frame (dist 0 — the backward side wins the tie
    # with the identical row, right being unique per (on, ts)).
    w_fwd = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").desc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Project the fills ONCE (higher-order/window producers referenced
    # twice are re-evaluated, not CSE'd), choose in the NEXT select.
    passthrough = [
        c for c in unioned.columns if c not in ("__t", "__is_left", "__rt", *value_cols)
    ]
    filled = unioned.select(
        *passthrough,
        F.col("__t"),
        F.col("__is_left"),
        F.last("__rt", ignorenulls=True).over(w_back).alias("__bt"),
        F.last("__rt", ignorenulls=True).over(w_fwd).alias("__ft"),
        *[F.last(c, ignorenulls=True).over(w_back).alias(f"__b_{c}") for c in value_cols],
        *[F.last(c, ignorenulls=True).over(w_fwd).alias(f"__f_{c}") for c in value_cols],
    ).filter(F.col("__is_left") == 1)

    probe_us = F.unix_micros(F.col("__t"))
    dist_b = probe_us - F.unix_micros(F.col("__bt"))
    dist_f = F.unix_micros(F.col("__ft")) - probe_us
    b_ok = F.col("__t").isNotNull() & F.col("__bt").isNotNull()
    # a NULL-timestamp probe sorts NULLS LAST under the DESC forward
    # order, putting it at the partition END where its incremental frame
    # covers every right row — so mask it (a null probe matches nothing)
    f_ok = F.col("__t").isNotNull() & F.col("__ft").isNotNull()
    if tolerance_seconds is not None:
        tol_us = F.lit(int(tolerance_seconds) * 1_000_000)
        b_ok = b_ok & (dist_b <= tol_us)
        f_ok = f_ok & (dist_f <= tol_us)
    use_b = b_ok & (~f_ok | (dist_b <= dist_f))
    picked = filled.select(
        *passthrough,
        *[
            F.when(use_b, F.col(f"__b_{c}"))
            .when(f_ok, F.col(f"__f_{c}"))
            .otherwise(F.lit(None).cast(right.schema[c].dataType))
            .alias(c)
            for c in value_cols
        ],
    )
    return picked


def band_self_join_pairs(
    df: DataFrame,
    on: list[str],
    ts_col: str,
    id_col: str,
    band_seconds: int,
) -> DataFrame:
    """All ordered pairs (a, b) within the same ``on`` group with
    ``0 <= b.ts - a.ts <= band_seconds`` (ties ordered by ``id_col`` so each
    unordered pair appears exactly once).

    Implementation: quantize to ``band_seconds`` buckets; the b-side is
    replicated into its own bucket and the previous one, so every in-band
    pair co-locates in exactly one (key, bucket) hash-join partition —
    (a in bucket k, b in k or k+1) ⇒ a.bucket equals exactly one of b's two
    replicas. Catalyst executes a shuffled hash/sort-merge join on
    (key, bucket); the exact band predicate then prunes candidates.
    Cost scales with rows × density-per-band, never O(n²) per key.
    """
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    bucket = F.floor(epoch / band_seconds)
    a = df.select(
        *on,
        F.col(id_col).alias("a_id"),
        F.col(ts_col).alias("a_ts"),
        bucket.alias("__bucket"),
    )
    b = df.select(
        *on,
        F.col(id_col).alias("b_id"),
        F.col(ts_col).alias("b_ts"),
        F.explode(F.array(bucket, bucket - 1)).alias("__bucket"),
    )
    dt = F.col("b_ts").cast("timestamp").cast("double") - F.col("a_ts").cast(
        "timestamp"
    ).cast("double")
    in_band = (dt >= 0) & (dt <= band_seconds)
    ordered = (F.col("a_ts") < F.col("b_ts")) | (
        (F.col("a_ts") == F.col("b_ts")) & (F.col("a_id") < F.col("b_id"))
    )
    return a.join(b, on=[*on, "__bucket"]).filter(in_band & ordered).drop("__bucket")


def grouped_ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """(key, n_events, ewma_value) — exponentially weighted moving average
    per key, final value of the recursion y_i = (1-α)·y_{i-1} + α·x_i with
    y_0 = x_0 over the group ordered by ``order_cols``.

    The recursion is non-linear in window terms (every prefix feeds the
    next), so it is NOT expressible as a SQL window frame — this is the
    canonical case for ``applyInPandas``: Spark shuffles once on the key,
    hands each group to Python as ONE Arrow batch, and the loop runs
    vectorized-adjacent per group. At 100 TB the constraint to respect is
    that a whole group must fit one task — keys here are users/sensors
    (bounded series), not timestamps.

    The accumulation is an explicit loop (not ``pandas.ewm``) so the
    floating-point operation order is bit-identical to the DuckDB oracle's
    ``list_reduce`` — engine-portable determinism over convenience.
    """
    import pandas as pd

    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, n_events long, ewma_value double"
    )

    def _ewma(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_cols)
        acc = None
        for x in pdf[value_col].tolist():
            acc = x if acc is None else acc * (1.0 - alpha) + alpha * x
        return pd.DataFrame(
            {
                key_col: [pdf[key_col].iloc[0]],
                "n_events": [len(pdf)],
                "ewma_value": [acc],
            }
        )

    return df.groupBy(key_col).applyInPandas(_ewma, schema=out_schema)


def grouped_ewma_jvm(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """JVM-side twin of :func:`grouped_ewma`: the same left fold expressed
    as ``array_sort(collect_list(struct(...)))`` + ``F.aggregate`` — one
    shuffle, whole-stage-codegen lambda, NO Python/Arrow crossing.
    Identical op order ⇒ bit-identical results to the applyInPandas form
    and the DuckDB list_reduce oracle. Prefer this in production; the
    grouped-map form exists for logic that genuinely can't be a Catalyst
    lambda (model calls, C libraries). Measured at 1M rows / 10.5k groups:
    6.1 s (Arrow) → JVM fold, see PERF.md.

    Groups must still fit a task (collect_list materializes the series per
    key) — the same constraint the grouped-map form has.
    """
    seq = F.array_sort(
        F.collect_list(F.struct(*order_cols, F.col(value_col).alias("__v")))
    )
    grouped = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"), seq.alias("seq")
    )
    rest = F.slice(
        "seq", F.lit(2), F.greatest(F.size("seq") - 1, F.lit(0))
    )
    fold = F.aggregate(
        rest,
        F.element_at("seq", 1)["__v"].cast("double"),
        lambda acc, x: acc * F.lit(1.0 - alpha) + F.lit(alpha) * x["__v"],
    )
    return grouped.select(
        key_col, "n_events", fold.alias("ewma_value")
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: collapse an event log to
    one row per (key, consecutive run of ``attr_col``), with
    ``valid_from`` / ``valid_to`` / ``version`` / ``is_current``.

    Change rows are detected with ``lag`` (value differs from the previous
    event, null-safe), the interval close with ``lead`` over the change
    rows only — two windows over ONE shuffle on the key (the second window
    reuses the first's partitioning, no new exchange). This is the
    standard warehouse dimension-build; at 100 TB the only cost is the
    hash shuffle on the dimension key.
    """
    order = [ts_col] + list(tiebreak_cols or [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # "no previous row" is detected via lag(ts) (ts is non-null by
    # contract), NOT lag(attr) — a mid-stream NULL attr following a NULL
    # attr is a non-change, while the first row always opens a version.
    changed = df.withColumn(
        "__changed",
        F.lag(F.col(ts_col)).over(w).isNull()
        | ~F.col(attr_col).eqNullSafe(F.lag(F.col(attr_col)).over(w)),
    ).filter("__changed")
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return changed.select(
        *key_cols,
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Inner join of point rows to every interval row with
    ``lo <= point <= hi`` — the generic point-in-range join (IP-range
    lookup, promo/maintenance windows, sensor validity periods) that
    Spark would otherwise plan as a BroadcastNestedLoopJoin (fine for a
    tiny interval side, catastrophic otherwise).

    Implementation: quantize the axis into ``bucket_width`` cells; each
    interval is replicated into every cell it overlaps
    (``sequence(floor(lo/w), floor(hi/w))`` — fan-out = interval length/w
    + 1), each point lands in exactly ONE cell, and the join becomes an
    equi-join on the cell id plus the exact residual predicate. Every
    qualifying (point, interval) pair meets in exactly one cell (the
    point's), so no post-join dedup is needed. Pick ``bucket_width`` near
    the typical interval length: smaller → more interval replicas,
    larger → more non-matching candidates per cell.

    Both inputs keep all their columns (callers project beforehand on
    name collisions). Cost scales with points + interval-replicas +
    per-cell candidate density — never |points| × |intervals|.
    """
    cell = lambda c: F.floor(F.col(c) / F.lit(float(bucket_width))).cast("long")
    p = points.withColumn("__cell", cell(point_col))
    from ..operators.generate import explode_fused

    iv = explode_fused(
        intervals,
        F.sequence(cell(lo_col), cell(hi_col)),
        "__cell",
        keep=[c for c in intervals.columns],
    )
    residual = (F.col(point_col) >= F.col(lo_col)) & (
        F.col(point_col) <= F.col(hi_col)
    )
    return p.join(iv, "__cell").filter(residual).drop("__cell")


def sessionize_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Gap-merged session intervals via lag + running-sum — the
    scale-safe twin of ``groupBy(session_window(...))``.

    Produces EXACTLY the native operator's output contract per
    (key, session): ``session_start`` = min ts, ``session_end`` =
    max ts + gap, with native boundary semantics (an event at EXACTLY
    the previous session end EXTENDS the session — a new session starts
    only when the gap is STRICTLY greater than ``gap_seconds``;
    probed empirically against Spark 4's SessionWindow merge in
    tests/test_operators.py). Physical shape: one hash shuffle on
    the key, two per-key window passes (lag flag, running sum) and a
    grouped aggregate — per-row cost is FLAT in per-key event density,
    where the native SessionWindow merging aggregate was measured
    superlinear (PERF.md "100× window/sessionization scale smoke":
    66 s native vs 8.6 s for this form at 100x replicated events).

    Returns (key, __sid, session_start, session_end) plus the input
    columns, one row per EVENT (callers aggregate per session on
    (key, __sid) — see ``session_windows_auto`` for the aggregated
    form). ``__sid`` is 1-based per key.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    # gap computed in INTEGER microseconds — the native session_window
    # compares exact long micros, and a double epoch-seconds difference
    # (ulp ~0.24 us at 2024 epochs) can flip the classification of a
    # gap within ~0.5 us of exactly gap_seconds, breaking the
    # bit-identical equivalence of session_windows_auto's two branches
    # at the one boundary the contract calls out. STRICT > : the native
    # merge is end-inclusive (an event at exactly prev_end joins the
    # session — empirically probed, see test_sessionize_gap_exact_
    # boundary_sub_second).
    # (cast to LTZ timestamp first: unix_micros on a raw NTZ parquet
    # column errors; no-op for LTZ, wall-clock-in-UTC-session for NTZ —
    # same normalization as functions.datetime_fns.epoch_seconds)
    as_micros = lambda c: F.unix_micros(c.cast("timestamp"))
    gap_us = as_micros(F.col(ts_col)) - as_micros(prev_ts)
    new_s = F.when(
        prev_ts.isNull() | (gap_us > F.lit(int(gap_seconds) * 1_000_000)), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("__new_s", new_s).withColumn(
        "__sid", F.sum("__new_s").over(run)
    ).drop("__new_s")


def session_windows_auto(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    agg_exprs: list,
    density_threshold: int = 10_000,
) -> DataFrame:
    """Sessionized aggregate with a density-guarded physical dispatch.

    The native ``session_window`` merging aggregate has a measured
    per-key DENSITY cliff (superlinear in events-per-key: 29x slower
    than the lag-gap form at 100x replicated events, PERF.md "100×
    window/sessionization scale smoke") — but is marginally cheaper at low
    density (single window pass, no lag stage). This operator probes
    the max per-key event count with one map-side-combined aggregate
    (two-level: count per key, then one max — never a collect of the
    key space) and picks the physical form: below the threshold the
    native operator, above it :func:`sessionize_intervals`. Both forms
    produce identical (key, session_start, session_end, aggs) rows —
    property-tested in tests/test_operators.py.
    """
    gap_str = f"{int(gap_seconds)} seconds"
    max_per_key = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__m"))
        .first()["__m"]
    ) or 0
    if max_per_key < density_threshold:
        agged = df.groupBy(key_col, F.session_window(ts_col, gap_str)).agg(
            *agg_exprs
        )
        out_cols = [c for c in agged.columns if c not in (key_col, "session_window")]
        return agged.select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *out_cols,
        )
    sess = sessionize_intervals(df, key_col, ts_col, gap_seconds)
    return (
        sess.groupBy(key_col, "__sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            (
                F.max(ts_col).cast("timestamp")
                + F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
            ).alias("session_end"),
            *agg_exprs,
        )
        .drop("__sid")
    )


def grouped_holt_jvm(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Per-group Holt double-exponential smoothing (level + linear trend),
    the order-dependent fold EWMA can't express (it tracks a trend state
    alongside the level):

        f_t     = l_{t-1} + b_{t-1}                (one-step forecast)
        l_t     = α·y_t + (1-α)·(l_{t-1} + b_{t-1})
        b_t     = β·(l_t − l_{t-1}) + (1-β)·b_{t-1}

    seeded l_0 = y_0, b_0 = 0. Same JVM-fold shape as
    :func:`grouped_ewma_jvm`: one shuffle on the key,
    ``array_sort(collect_list)`` + ``F.aggregate``, no Python crossing.
    Engine portability: the DuckDB oracle twin is a RECURSIVE CTE
    replaying the identical IEEE sequence row by row — NOT list_reduce,
    whose struct-literal lambdas evaluate cross-field references with
    inconsistent visibility in DuckDB 1.0 (old values on the first
    application, in-place-updated ones later; probed and pinned by
    ``test_duckdb_list_reduce_struct_quirk``). The level' expression is
    inlined twice inside the lambda (higher-order lambdas have no lets
    and are not CSE'd) — duplicate it identically in any twin.

    Returns (key, n_points, level, trend, sae): sae = Σ|y_t − f_t| over
    the n_points−1 folded steps (one-step in-sample absolute error —
    mae = sae/(n_points−1)); forecasts are level + h·trend. Contract:
    a single-point group returns (level=y_0, trend=0, sae=0) and has NO
    defined mae — callers deriving mae MUST null-guard with
    ``F.when(n_points > 1, ...)`` (0.0/0.0 is NaN in Spark but NULL or
    an error in SQL twins — a silent parity hazard otherwise).

    Groups must fit a task (collect_list materializes the series per
    key) — bounded for calendar-grain series (≤ a few k points/key).
    """
    a, b1 = float(alpha), float(beta)
    seq = F.array_sort(
        F.collect_list(F.struct(*order_cols, F.col(value_col).alias("__v")))
    )
    grouped = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_points"), seq.alias("seq")
    )
    rest = F.slice("seq", F.lit(2), F.greatest(F.size("seq") - 1, F.lit(0)))

    def _step(acc, x):
        y = x["__v"].cast("double")
        lvl = F.lit(a) * y + F.lit(1.0 - a) * (acc["l"] + acc["t"])
        lvl2 = F.lit(a) * y + F.lit(1.0 - a) * (acc["l"] + acc["t"])
        return F.struct(
            lvl.alias("l"),
            (F.lit(b1) * (lvl2 - acc["l"]) + F.lit(1.0 - b1) * acc["t"]).alias(
                "t"
            ),
            (acc["s"] + F.abs(y - (acc["l"] + acc["t"]))).alias("s"),
        )

    seed = F.struct(
        F.element_at("seq", 1)["__v"].cast("double").alias("l"),
        F.lit(0.0).alias("t"),
        F.lit(0.0).alias("s"),
    )
    # project the fold ONCE, read fields in the next select — higher-order
    # aggregates are not CSE'd (see PERF.md round-5 despan note)
    folded = grouped.select(
        key_col, "n_points", F.aggregate(rest, seed, _step).alias("__h")
    )
    return folded.select(
        key_col,
        "n_points",
        F.col("__h")["l"].alias("level"),
        F.col("__h")["t"].alias("trend"),
        F.col("__h")["s"].alias("sae"),
    )


def grouped_cusum_jvm(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group two-sided CUSUM over the ordered series (round 7) — the
    sequential change-detection statistic beside :func:`grouped_holt_jvm`
    (forecast) and the Mann-Kendall trend test:

        S⁺_t = max(0, S⁺_{t-1} + (y_t − μ))
        S⁻_t = max(0, S⁻_{t-1} + (μ − y_t))

    with μ the group's own mean (sum/count — one double division on
    exact operands). Tracks the running maxima of both statistics and
    the FIRST order key at which each peak was reached (strict-greater
    update, so ties keep the earliest peak).

    Same JVM-fold shape as the Holt/EWMA operators: one shuffle on the
    key, ``array_sort(collect_list)`` + ``F.aggregate``, no Python
    crossing; groups must fit a task (bounded for calendar-grain
    series). Oracle twin: a RECURSIVE CTE replaying the identical IEEE
    sequence (never list_reduce — the DuckDB struct-lambda quirk;
    ``test_duckdb_list_reduce_struct_quirk``). All state expressions are
    deterministic on identical operands, so inline duplication inside
    the lambda (no lets in higher-order functions) cannot diverge from a
    compute-once oracle.

    Returns (key, n_points, mu, max_pos, max_neg, peak_pos_at,
    peak_neg_at) with peak columns carrying the first order_cols[0]
    value at each running-max peak (NULL when the statistic never rose
    above 0).
    """
    ord0 = order_cols[0]
    seq = F.array_sort(
        F.collect_list(F.struct(*order_cols, F.col(value_col).alias("__v")))
    )
    grouped = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        (
            F.sum(F.col(value_col).cast("double"))
            / F.count(F.lit(1)).cast("double")
        ).alias("__mu"),
        seq.alias("seq"),
    )

    def _step(acc, x):
        y = x["__v"].cast("double")
        mu = acc["mu"]
        sp = F.greatest(F.lit(0.0), acc["sp"] + (y - mu))
        sn = F.greatest(F.lit(0.0), acc["sn"] + (mu - y))
        return F.struct(
            mu.alias("mu"),
            sp.alias("sp"),
            sn.alias("sn"),
            F.greatest(acc["mp"], sp).alias("mp"),
            F.greatest(acc["mn"], sn).alias("mn"),
            F.when(sp > acc["mp"], x[ord0]).otherwise(acc["dp"]).alias("dp"),
            F.when(sn > acc["mn"], x[ord0]).otherwise(acc["dn"]).alias("dn"),
        )

    ord0_type = df.schema[ord0].dataType.simpleString()
    seed = F.struct(
        F.col("__mu").alias("mu"),
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.lit(0.0).alias("mp"),
        F.lit(0.0).alias("mn"),
        F.lit(None).cast(ord0_type).alias("dp"),
        F.lit(None).cast(ord0_type).alias("dn"),
    )
    # project the fold ONCE (higher-order aggregates are not CSE'd)
    folded = grouped.select(
        key_col,
        "n_points",
        "__mu",
        F.aggregate("seq", seed, _step).alias("__h"),
    )
    return folded.select(
        key_col,
        "n_points",
        F.col("__mu").alias("mu"),
        F.col("__h")["mp"].alias("max_pos"),
        F.col("__h")["mn"].alias("max_neg"),
        F.col("__h")["dp"].alias("peak_pos_at"),
        F.col("__h")["dn"].alias("peak_neg_at"),
    )
