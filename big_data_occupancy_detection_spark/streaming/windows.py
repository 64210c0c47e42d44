"""Stateful streaming aggregations: watermarked tumbling/sliding windows and
session windows.

The reference's stream is stateless (SURVEY.md §2.9 T2); these are the
standard scale patterns for event streams the engine adds on top:
watermarks bound state (late data older than the watermark is dropped, so
state size is O(active windows), not O(stream history)) and
``session_window`` gives gap-based sessionization identical in semantics to
the batch lag/cumsum form in ``plans.events.user_sessions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-hour, per-group counts + value sums with state bounded by a
    2-hour watermark."""
    return (
        events.withWatermark(ts_col, "2 hours")
        .groupBy(F.window(ts_col, "1 hour").alias("win"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session aggregation (streaming twin of the batch
    lag/cumsum sessionization).

    ``watermark=None`` skips the withWatermark call — required when
    composing BELOW another stateful stage (e.g. after
    ``dropDuplicatesWithinWatermark``): the watermark must be defined
    once, upstream, and redefining it mid-chain is rejected by the
    engine."""
    wm = events if watermark is None else events.withWatermark(ts_col, watermark)
    return (
        wm
        .groupBy(F.session_window(ts_col, gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-once dedup on ``key_cols`` with bounded state.

    ``dropDuplicates`` on a stream keeps every seen key in the state store
    forever; ``dropDuplicatesWithinWatermark`` expires keys once the
    watermark passes them, so state is O(keys per watermark window) — the
    only formulation that survives an unbounded stream (e.g. request_id
    dedup in the inference plane).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right rows whose ``r_ts`` lies within
    [l_ts, l_ts + 1 hour] of a same-key left row's ``l_ts``.

    Both sides carry 2-hour watermarks and the join condition bounds the time
    skew, so Spark can expire buffered state for either side once the
    watermark passes — the only stream-stream join formulation whose state
    does not grow without bound.

    ``how="left_outer"`` additionally emits each unmatched left row
    (right columns NULL) — but only once the global watermark (the MIN
    across both sources) passes ``l_ts + 1 hour``, because until
    then a matching right row could still arrive. Tests must advance
    BOTH sources' event time to see outer results.
    """
    lw = left.withWatermark("l_ts", "2 hours")
    rw = right.withWatermark("r_ts", "2 hours")
    cond = (
        (lw[key] == rw[key])
        & (rw["r_ts"] >= lw["l_ts"])
        & (rw["r_ts"] <= F.expr("l_ts + INTERVAL 1 hour"))
    )
    return lw.join(rw, cond, how)


def enrich_stream_static(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
) -> DataFrame:
    """Stream-static left enrichment join: each micro-batch joins against the
    (batch) dimension — stateless, no watermark needed, and with a small
    dim the planner broadcasts it so the stream side never shuffles.

    This is the standard feature/metadata lookup on an event stream
    (user → segment, sensor → site). The static side is re-evaluated per
    micro-batch, so a dim backed by a refreshable source (parquet dir)
    picks up slowly-changing updates without restarting the query.
    """
    return stream.join(F.broadcast(dim), on=on, how="left")


def sliding_distinct_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Distinct ``key_col`` per 2-hour window sliding by 1 hour on a
    stream, bounded state — the streaming twin of ``plans/events.py:
    sliding_distinct_users``.

    COUNT(DISTINCT) is not a mergeable streaming aggregate, so the plan
    dedupes (window, key) FIRST with a watermarked ``dropDuplicates``
    (state = one row per distinct pair, expired once the watermark
    passes the window) and then counts plain rows per window in append
    mode. Null timestamps/keys are dropped, matching the batch twin's
    pinned contract.
    """
    w = (
        events.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .select(
            F.window(ts_col, "2 hours", "1 hour").alias("win"), F.col(key_col)
        )
        .dropDuplicates(["win", key_col])
    )
    return (
        w.groupBy("win")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_users",
        )
    )
