"""Event-stream-shaped plans (SURVEY.md §2.8-2.9) in batch-verifiable form.

Covers the reference's temporal analytics (hour / Monday-based day-of-week
buckets, ``eda/eda_analysis.py:102-129``), conditional labeling
(``ml/train_model.py:170-173``), class-weight computation
(``ml/train_model.py:150-175`` — rebuilt distributed), JSON envelope
parse→validate→score→sentinel routing (``infrastructure/stream_inference.py``
T3 semantics as a pure batch transform shared with the streaming plane),
plus the scale patterns the reference lacks: analytic windows (lag/running
sums) and sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.datetime_fns import dow_monday, epoch_seconds
from ..functions.rounding import portable_round, portable_round_sql
from ..operators.generate import explode_fused
from ..operators.relational import class_weights
from ..sources.readers import table
from .registry import register

# Shorthand for oracle f-strings: PR4("expr") / PR6("expr").
def PR4(e: str) -> str:
    return portable_round_sql(e, 4)


def PR6(e: str) -> str:
    return portable_round_sql(e, 6)


# --------------------------------------------------------------------------
# q16 — hourly activity (SURVEY A10: groupBy(hour) count+avg).
# --------------------------------------------------------------------------
@register(
    "hourly_activity",
    oracle=f"""
    SELECT CAST(extract(hour FROM ts) AS INTEGER) AS hour,
           count(*) AS n_events,
           {PR4('avg(value)')} AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            portable_round(F.avg("value"), 4).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# q17 — day-of-week activity with the reference's Monday=1 remap
# (eda_analysis.py:104-107 ⇔ SQL isodow).
# --------------------------------------------------------------------------
@register(
    "dow_activity",
    oracle=f"""
    SELECT CAST(isodow(ts) AS INTEGER) AS dow,
           count(*) AS n_events,
           {PR4('avg(value)')} AS avg_value,
           {PR6("avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)")} AS purchase_rate
    FROM events
    GROUP BY 1
    """,
)
def dow_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(dow_monday("ts").cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            portable_round(F.avg("value"), 4).alias("avg_value"),
            portable_round(
                F.avg(F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)), 6
            ).alias("purchase_rate"),
        )
    )


# --------------------------------------------------------------------------
# q18 — conditional bucketing with when/otherwise (SURVEY P10).
# --------------------------------------------------------------------------
@register(
    "value_buckets",
    oracle="""
    SELECT CASE WHEN value < 10 THEN 'low'
                WHEN value < 100 THEN 'mid'
                ELSE 'high' END AS bucket,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
    )
    return (
        ev.groupBy(bucket.alias("bucket"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# q19 — analytic windows: lag + delta + running total per user
# (beyond the reference's single ranking window, SURVEY §2.5).
# Deterministic order: (ts, event_id) — event_id is the unique tiebreaker.
# --------------------------------------------------------------------------
@register(
    "user_running_totals",
    oracle="""
    SELECT user_id, event_id,
           round(value, 4) AS value,
           round(lag(value) OVER w, 4) AS prev_value,
           round(value - coalesce(lag(value) OVER w, 0.0), 4) AS delta,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_total
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts contract (r7 null fuzz): a timestampless event can't be
    # sequenced — and the engines ORDER it differently (Spark NULLS
    # FIRST, DuckDB NULLS LAST), skewing every later running value.
    # Excluded identically on both sides.
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4).alias(
            "delta"
        ),
        F.round(F.sum("value").over(run), 4).alias("running_total"),
    )


# --------------------------------------------------------------------------
# q20 — sessionization: 30-min-gap sessions per user via lag window
# (the scale pattern for event streams; also exists in streaming form as
# session_window — see streaming module).
# --------------------------------------------------------------------------
@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL)
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts events can't be sessionized; excluded on both sides (r7)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # cast-to-double keeps fractional seconds (unix_timestamp truncates,
    # which would disagree with the oracle's exact interval comparison)
    gap_s = epoch_seconds("ts") - epoch_seconds(prev_ts)
    new_session = F.when(prev_ts.isNull() | (gap_s > 1800.0), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# q21 — class weights, fully distributed (SURVEY M4 rebuilt without the
# driver collect of ml/train_model.py:150-175).
# --------------------------------------------------------------------------
@register(
    "event_class_weights",
    oracle=f"""
    SELECT event_type,
           {PR6('CAST((SELECT count(*) FROM events) AS DOUBLE) / (5 * count(*))')} AS class_weight
    FROM events
    GROUP BY event_type
    """,
)
def event_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    weighted = class_weights(ev, "event_type", num_classes=5)
    return (
        weighted.select("event_type", "class_weight")
        .dropDuplicates(["event_type"])
        .select("event_type", portable_round("class_weight", 6).alias("class_weight"))
    )


# --------------------------------------------------------------------------
# q22 — JSON envelope parse → validity routing → score → sentinel:
# the T3 semantics of infrastructure/stream_inference.py:62-129 as a pure
# batch transform (the streaming plane routes the same way — see
# streaming/inference.py). "Model" is a deterministic logistic
# stand-in so the oracle can reproduce it.
# --------------------------------------------------------------------------
PROPS_SCHEMA = T.StructType(
    [T.StructField("k", T.IntegerType(), True)]
)


def parse_route_score(ev: DataFrame) -> DataFrame:
    """Shared batch/stream transform: from_json → score → sentinel (-1 /
    -1.0) for invalid rows, in one projection over one scan (the routing of
    ``streaming.inference.build_inference_pipeline``)."""
    parsed = ev.select(
        "event_id",
        F.from_json(F.col("props"), PROPS_SCHEMA).alias("req"),
    ).select("event_id", F.col("req.k").alias("k"))
    valid = F.col("k").isNotNull() & (F.col("k") <= 50)
    probability = (2 * F.col("k") + 1) / F.lit(200.0)
    return parsed.select(
        "event_id",
        "k",
        F.when(valid, F.when(probability > 0.3, 1).otherwise(0))
        .otherwise(-1)
        .alias("prediction"),
        F.when(valid, F.round(probability, 6)).otherwise(-1.0).alias("probability"),
    )


@register(
    "parse_route_score_events",
    oracle="""
    WITH parsed AS (
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events)
    SELECT event_id, k,
           CASE WHEN (2 * k + 1) / 200.0 > 0.3 THEN 1 ELSE 0 END AS prediction,
           round((2 * k + 1) / 200.0, 6) AS probability
    FROM parsed WHERE k IS NOT NULL AND k <= 50
    UNION ALL
    SELECT event_id, k, -1 AS prediction, -1.0 AS probability
    FROM parsed WHERE k IS NULL OR k > 50
    """,
)
def parse_route_score_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_route_score(table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# q44 — map-typed JSON: props parsed as map<string,int>, exploded to
# key/value rows, aggregated per key (MapType + explode coverage; the
# schema-free twin of the struct-typed parse in parse_route_score).
# --------------------------------------------------------------------------
@register(
    "event_props_kv_stats",
    oracle=f"""
    SELECT k AS key, count(*) AS n,
           {PR4("avg(CAST(json_extract(props, '$.' || k) AS INT))")} AS avg_val
    FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
    GROUP BY 1
    """,
)
def event_props_kv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    kv = explode_fused(
        ev, F.from_json("props", "map<string,int>"), ("key", "val"), keep=[]
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        portable_round(F.avg("val"), 4).alias("avg_val"),
    )


# --------------------------------------------------------------------------
# q54 — session feature matrix: the composed feature-engineering pipeline
# (lag-window sessionization → cumulative session ids → per-session
# aggregates → broadcast-joined user order context) as ONE declarative
# plan — the batch twin of a streaming feature store's offline backfill.
# Scale: two window passes over the same (user_id, ts) sort order (one
# shuffle, Catalyst reuses the partitioning), a hash agg, and a broadcast
# join of a 1500-row dimension.
# --------------------------------------------------------------------------
@register(
    "session_features",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessioned AS (
      SELECT user_id, event_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_idx
      FROM flagged),
    sessions AS (
      SELECT user_id, session_idx,
             count(*) AS n_events,
             {PR4('epoch(max(ts)) - epoch(min(ts))')} AS duration_s,
             round(sum(value), 4) AS sum_value
      FROM sessioned GROUP BY 1, 2),
    user_orders AS (
      SELECT o_custkey AS user_id,
             count(*) AS n_orders,
             round(sum(o_totalprice), 4) AS total_spend
      FROM orders GROUP BY 1)
    SELECT s.user_id, s.session_idx, s.n_events, s.duration_s, s.sum_value,
           coalesce(u.n_orders, 0) AS n_orders,
           round(coalesce(u.total_spend, 0.0), 4) AS total_spend
    FROM sessions s LEFT JOIN user_orders u USING (user_id)
    """,
)
def session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts events can't be sessionized; excluded on both sides (r7)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_s = epoch_seconds("ts") - epoch_seconds(prev_ts)
    new_session = F.when(prev_ts.isNull() | (gap_s > 1800.0), 1).otherwise(0)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessioned = ev.withColumn("new_session", new_session).withColumn(
        "session_idx", F.sum("new_session").over(w_cum)
    )
    sessions = sessioned.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        portable_round(
            F.max(epoch_seconds("ts")) - F.min(epoch_seconds("ts")), 4
        ).alias("duration_s"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    user_orders = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
    )
    return sessions.join(F.broadcast(user_orders), "user_id", "left").select(
        "user_id",
        "session_idx",
        "n_events",
        "duration_s",
        "sum_value",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.round(F.coalesce("total_spend", F.lit(0.0)), 4).alias("total_spend"),
    )


# --------------------------------------------------------------------------
# LOCF gap-fill: user × day spine, last observation carried forward — the
# hypertable `locf(time_bucket(...))` shape. Spine bounds are a broadcast
# 1-row aggregate; the daily representative is a max_by aggregation (one
# shuffle, map-side partials); the forward fill is a running `last(...,
# ignorenulls)` frame per user — partition-parallel, no self-join chain.
# Days before a user's first event stay NULL by design (both engines).
# --------------------------------------------------------------------------
@register(
    "events_locf_daily",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events),
    days AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             arg_max(value, event_id) AS day_value
      FROM events GROUP BY 1, 2),
    spine AS (SELECT u.user_id, d.day FROM users u CROSS JOIN days d)
    SELECT s.user_id, s.day,
           last_value(dl.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN daily dl USING (user_id, day)
    """,
)
def events_locf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    users = ev.select("user_id").distinct()
    # ordering key nulled for NULL-value rows: DuckDB's arg_max ignores
    # rows whose ARG is NULL, so the daily representative is the last
    # NON-NULL value of the day on both engines (tools/fuzz_regen.py)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max_by(
            "value", F.when(F.col("value").isNotNull(), F.col("event_id"))
        ).alias("day_value")
    )
    spine = users.crossJoin(F.broadcast(days))
    fill = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(fill).alias("filled_value"),
    )


# --------------------------------------------------------------------------
# Per-user EWMA — the canonical applyInPandas (grouped-map) case: the
# recursion y_i = (1-α)y_{i-1} + αx_i is not a SQL window frame. One
# shuffle on user_id; each group crosses to Python as one Arrow batch.
# Oracle: DuckDB list_reduce over the identically-ordered value list —
# same float op order, bit-identical accumulation.
# --------------------------------------------------------------------------
_EWMA_ALPHA = 0.3


@register(
    "user_value_ewma",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           {PR6(f'''list_reduce(list(value ORDER BY ts, event_id),
                             (acc, x) -> acc * {1.0 - _EWMA_ALPHA} + {_EWMA_ALPHA} * x)''')} AS ewma_value
    FROM events WHERE ts IS NOT NULL GROUP BY user_id
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import grouped_ewma

    # null-ts rows have no position in the recursion's order — and the
    # engines place them differently (r7 null fuzz); excluded both sides
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    out = grouped_ewma(
        ev, "user_id", ["ts", "event_id"], "value", alpha=_EWMA_ALPHA
    )
    return out.select(
        "user_id", "n_events", portable_round("ewma_value", 6).alias("ewma_value")
    )


# --------------------------------------------------------------------------
# JVM-side EWMA twin: array_sort(collect_list) + F.aggregate fold — same
# recursion, zero Python crossing. Shares the list_reduce oracle.
# --------------------------------------------------------------------------
@register(
    "user_value_ewma_sql",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           {PR6(f'''list_reduce(list(value ORDER BY ts, event_id),
                             (acc, x) -> acc * {1.0 - _EWMA_ALPHA} + {_EWMA_ALPHA} * x)''')} AS ewma_value
    FROM events WHERE ts IS NOT NULL GROUP BY user_id
    """,
)
def user_value_ewma_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import grouped_ewma_jvm

    # same null-ts exclusion as user_value_ewma (twins stay equal)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    out = grouped_ewma_jvm(
        ev, "user_id", ["ts", "event_id"], "value", alpha=_EWMA_ALPHA
    )
    return out.select(
        "user_id", "n_events", portable_round("ewma_value", 6).alias("ewma_value")
    )


# --------------------------------------------------------------------------
# SCD type-2 dimension build: collapse each user's event_type stream into
# versioned validity intervals — the standard warehouse history table.
# --------------------------------------------------------------------------
@register(
    "user_type_scd2",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             lag(ts) OVER w IS NULL
               OR event_type IS DISTINCT FROM lag(event_type) OVER w AS chg
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (SELECT * FROM marked WHERE chg)
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           CAST(row_number() OVER w2 AS BIGINT) AS version,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM runs
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type: one row per consecutive
    run with valid_from/valid_to/version/is_current — lag change marking +
    lead interval close, both windows sharing one shuffle on user_id."""
    from ..operators.temporal import scd2_history

    # a version interval needs a timestamp; null-ts rows excluded (r7)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    return scd2_history(
        ev, ["user_id"], "event_type", "ts", tiebreak_cols=["event_id"]
    )


# --------------------------------------------------------------------------
# q — hierarchical multi-grain time rollup (hypertable-style continuous
# aggregate): hour/day/week activity in ONE pass over the raw data. Only
# the hourly aggregation touches the events table; day and week re-aggregate
# the (tiny) hourly partials — all the aggregates chosen (count/sum/min/max)
# are decomposable, which is exactly what makes rollup trees work at 100 TB
# (one big shuffle + two ~1000-row shuffles, vs 3 full scans for the naive
# per-grain GROUP BYs the oracle runs).
# --------------------------------------------------------------------------
@register(
    "events_time_rollup",
    oracle="""
    WITH g AS (
      SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_ts,
             count(*) AS n_events, sum(value) AS s, min(value) AS mn, max(value) AS mx
      FROM events GROUP BY 2
      UNION ALL
      SELECT 'day', date_trunc('day', ts), count(*), sum(value), min(value), max(value)
      FROM events GROUP BY 2
      UNION ALL
      SELECT 'week', date_trunc('week', ts), count(*), sum(value), min(value), max(value)
      FROM events GROUP BY 2)
    SELECT grain, bucket_ts, n_events,
           round(s, 4) AS sum_value,
           round(mn, 4) AS min_value,
           round(mx, 4) AS max_value
    FROM g
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour→day→week rollup where coarser grains reuse the finer grain's
    partial aggregates instead of rescanning the fact table."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    def _up(src: DataFrame, grain: str) -> DataFrame:
        return src.groupBy(F.date_trunc(grain, "bucket_ts").alias("bucket_ts")).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    daily = _up(hourly, "day")
    weekly = _up(daily, "week")
    tagged = (
        hourly.withColumn("grain", F.lit("hour"))
        .unionByName(daily.withColumn("grain", F.lit("day")))
        .unionByName(weekly.withColumn("grain", F.lit("week")))
    )
    return tagged.select(
        "grain",
        "bucket_ts",
        "n_events",
        F.round("s", 4).alias("sum_value"),
        F.round("mn", 4).alias("min_value"),
        F.round("mx", 4).alias("max_value"),
    )


# --------------------------------------------------------------------------
# q — key-skew profile: the pre-flight check for any join/agg keyed on
# user_id at scale. Two-level aggregation (per-key counts, then per-type
# distribution stats) — both map-side combined — ending in the salt-bucket
# count the skew-safe join (operators.relational.salted_join) would need:
# ceil(max/avg) splits the hottest key into ~avg-sized slices.
#
# Float-free by construction: avg_cnt, skew_ratio, salt_buckets are all
# ratios of the three BIGINT aggregates (total_rows, n_keys, max_cnt), so
# the 4-decimal values are computed in exact scaled-integer arithmetic
# (half-up via ``(num*10000 + den DIV 2) DIV den``) on BOTH engines and the
# final ``/10000.0`` is one IEEE division of identical integers — there is
# no floating-point aggregate anywhere for the engines to diverge on,
# regardless of partitioning / summation order / regenerated data.
# (``max_cnt*n_keys*10000`` stays comfortably inside int64 for any
# realistic profile — it overflows only past ~9e14 key-rows per type.)
# --------------------------------------------------------------------------
@register(
    "event_key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT)  AS n_keys,
             CAST(sum(cnt) AS BIGINT)  AS total_rows,
             CAST(max(cnt) AS BIGINT)  AS max_cnt
      FROM per_key GROUP BY 1)
    SELECT event_type, n_keys, total_rows, max_cnt,
           CAST((total_rows * 10000 + n_keys // 2) // n_keys AS DOUBLE) / 10000
             AS avg_cnt,
           CAST((max_cnt * n_keys * 10000 + total_rows // 2) // total_rows
                AS DOUBLE) / 10000 AS skew_ratio,
           CAST((max_cnt * n_keys + total_rows - 1) // total_rows AS BIGINT)
             AS salt_buckets
    FROM agg
    """,
)
def event_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    agg = per_key.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return agg.select(
        "event_type",
        "n_keys",
        "total_rows",
        "max_cnt",
        (
            F.expr("(total_rows * 10000 + n_keys DIV 2) DIV n_keys").cast("double")
            / 10000
        ).alias("avg_cnt"),
        (
            F.expr(
                "(max_cnt * n_keys * 10000 + total_rows DIV 2) DIV total_rows"
            ).cast("double")
            / 10000
        ).alias("skew_ratio"),
        F.expr("(max_cnt * n_keys + total_rows - 1) DIV total_rows")
        .cast("long")
        .alias("salt_buckets"),
    )


# --------------------------------------------------------------------------
# q — Z-order layout key: Morton interleave of (user_id, value) low bits,
# a clustering key that keeps parquet min/max stats tight on BOTH
# dimensions when files are written in its order. Pure Catalyst bit
# arithmetic; the oracle runs the byte-identical interleave built by
# zvalue16_sql, so the layout key itself is hash-verified, not just the
# plumbing.
# --------------------------------------------------------------------------
from ..operators.layout import zvalue16, zvalue16_sql  # noqa: E402

_ZX = "user_id % 65536"
_ZY = "((CAST(floor(value) AS BIGINT) % 65536) + 65536) % 65536"


@register(
    "zorder_events_key",
    oracle=f"""
    SELECT event_id,
           CAST({_ZX} AS BIGINT) AS zx,
           CAST({_ZY} AS BIGINT) AS zy,
           {zvalue16_sql(_ZX, _ZY)} AS zval
    FROM events
    """,
)
def zorder_events_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    zx = (F.col("user_id") % 65536).cast("long")
    zy = F.pmod(F.floor("value").cast("long") % 65536, F.lit(65536)).cast("long")
    return ev.select(
        "event_id",
        zx.alias("zx"),
        zy.alias("zy"),
        zvalue16(zx, zy).alias("zval"),
    )


# --------------------------------------------------------------------------
# q — native session windows (batch form of the streaming session_window
# operator): gap-merged [start, last+gap) intervals per user, a different
# physical operator (SessionWindow expand + merging agg) than the
# lag/running-sum sessionization of user_sessions. Boundary semantics
# (probed empirically against Spark 4's SessionWindow merge): an event at
# EXACTLY prev_end still joins the session — a new session starts only
# when the gap is STRICTLY greater than the timeout, hence the oracle's
# strict > comparison.
#
# The oracle's window ORDER BYs carry an `event_id` tie-break: the lag
# flags (flagged) and the running sum (runs) are separate sorts across a
# CTE boundary, and with duplicate (user, ts) rows DuckDB's parallel sort
# may order the tied peers DIFFERENTLY in each — misassigning a new_s=1
# flag to the wrong peer and splitting a tied pair into two sessions
# (reproduced 3/40 runs under thread contention; Spark's stacked windows
# share one sort, so any tie order there yields the same sessions).
# Session membership is tie-order-invariant once both sorts agree, so the
# tie-break changes no correct result — it only pins a total order.
# --------------------------------------------------------------------------
@register(
    "user_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM runs
    GROUP BY user_id, sid
    """,
)
def user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Density-guarded dispatch (operators.temporal.session_windows_auto):
    # the native session_window MERGING aggregate has a measured per-key
    # DENSITY cliff (PERF.md "100× window/sessionization scale smoke":
    # 66 s at 100× replicated events vs 8.6 s for the lag-gap twin —
    # the in-memory window-merge cost grows superlinearly as sessions
    # chain). The dispatcher probes max events-per-key with one
    # map-side-combined aggregate and picks: native below the threshold
    # (cheaper single pass), lag/running-sum sessionization above it.
    # Both forms produce identical rows (property-tested), so the oracle
    # is unchanged.
    from ..operators.temporal import session_windows_auto

    # null-ts exclusion pinned EXPLICITLY on both sides (r7 null fuzz):
    # the native session_window drops null-ts rows silently but the
    # lag-gap twin would sequence them NULLS FIRST — the filter makes
    # both dispatch arms and the oracle agree by construction
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return session_windows_auto(
        ev,
        "user_id",
        "ts",
        30 * 60,
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
    )


# --------------------------------------------------------------------------
# q — sliding time windows: 2-hour windows advancing hourly, so every
# event lands in exactly two windows (Spark's TimeWindow expand). The
# oracle replays the expansion as a 2-way shifted union.
# --------------------------------------------------------------------------
@register(
    "sliding_hour_activity",
    oracle="""
    WITH x AS (SELECT date_trunc('hour', ts) AS h, value FROM events
               WHERE ts IS NOT NULL),
    ex AS (
      SELECT h AS win_start, value FROM x
      UNION ALL
      SELECT h - INTERVAL 1 HOUR, value FROM x)
    SELECT win_start,
           win_start + INTERVAL 2 HOUR AS win_end,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM ex
    GROUP BY 1
    """,
)
def sliding_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's F.window DROPS null-ts rows while SQL date_trunc buckets
    # them into a NULL row — the null contract is pinned explicitly on
    # both sides (r7 null fuzz)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # sum, not avg: the synthetic values carry fixed decimals, so
            # sums round exactly on both engines while an avg (sum/24) can
            # land exactly on a half-boundary where float summation order
            # decides the rounded digit
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q — linear-interpolation gap fill on the daily spine (the two-sided twin
# of events_locf_daily): each missing day gets the straight line between
# its surrounding observations; edges degrade to nearest-observation.
# Both directional fills are frames over ONE (user_id, day) sort — a
# single shuffle feeds the backward last() and forward first() passes.
# --------------------------------------------------------------------------
@register(
    "events_interp_daily",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events),
    days AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             arg_max(value, event_id) AS day_value
      FROM events GROUP BY 1, 2),
    spine AS (SELECT u.user_id, d.day FROM users u CROSS JOIN days d),
    marked AS (
      SELECT s.user_id, s.day,
             last_value(dl.day_value IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN dl.day_value IS NOT NULL THEN s.day END
                        IGNORE NULLS) OVER wb AS pd,
             first_value(dl.day_value IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN dl.day_value IS NOT NULL THEN s.day END
                         IGNORE NULLS) OVER wf AS nd
      FROM spine s LEFT JOIN daily dl USING (user_id, day)
      WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY s.user_id ORDER BY s.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, day,
           {PR6('''CASE WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      WHEN nd = pd THEN pv
                      ELSE pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                                             / CAST(nd - pd AS DOUBLE))
                 END''')} AS interp_value
    FROM marked
    """,
)
def events_interp_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    users = ev.select("user_id").distinct()
    # ordering key nulled for NULL-value rows: DuckDB's arg_max ignores
    # rows whose ARG is NULL, so the daily representative is the last
    # NON-NULL value of the day on both engines (tools/fuzz_regen.py)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max_by(
            "value", F.when(F.col("value").isNotNull(), F.col("event_id"))
        ).alias("day_value")
    )
    spine = users.crossJoin(F.broadcast(days))
    base = spine.join(daily, ["user_id", "day"], "left")
    wb = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    # materialize each window expression ONCE: reusing the Column objects
    # inside the CASE tree would otherwise plan 13 running aggregates in
    # the WindowExec (Catalyst does not CSE window expressions)
    marked = base.select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("day_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    pv, nv, pd_, nd = F.col("pv"), F.col("nv"), F.col("pd"), F.col("nd")
    frac = F.datediff(F.col("day"), pd_).cast("double") / F.datediff(
        nd, pd_
    ).cast("double")
    interp = (
        F.when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .when(nd == pd_, pv)
        .otherwise(pv + (nv - pv) * frac)
    )
    return marked.select(
        "user_id", "day", portable_round(interp, 6).alias("interp_value")
    )


# --------------------------------------------------------------------------
# q — CDC apply: reconstruct the current snapshot from a changelog. The
# events stream doubles as a change feed — per (user_id) key, ops ordered
# by (ts, event_id); 'refund' acts as DELETE, everything else UPSERTs its
# value. One max_by-style aggregation per key (no window, no sort of the
# full feed): the last op decides existence, the last non-delete op the
# value — both computed with max_by over a monotonic (ts, event_id) rank.
# --------------------------------------------------------------------------
@register(
    "cdc_user_snapshot",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
      FROM events WHERE ts IS NOT NULL),
    last_op AS (
      SELECT user_id,
             arg_max(event_type, rk) AS final_op,
             arg_max(value, rk) FILTER (WHERE event_type <> 'refund')
               AS last_upsert_value,
             CAST(count(*) AS BIGINT) AS n_changes
      FROM ranked GROUP BY user_id)
    SELECT user_id,
           round(last_upsert_value, 4) AS current_value,
           n_changes
    FROM last_op
    WHERE final_op <> 'refund'
    """,
)
def cdc_user_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a change without a timestamp has no position in the changelog
    # order (and the engines rank NULL ts differently) — excluded (r7)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rk", F.row_number().over(w))
    # NULL-payload rows are skipped from "last upsert value" on BOTH
    # engines: DuckDB's arg_max ignores rows whose ARG is NULL, so the
    # ordering key must be nulled out for them here too — found by
    # tools/fuzz_regen.py on data with sparse NULL values
    upsert_ord = F.when(
        (F.col("event_type") != "refund") & F.col("value").isNotNull(),
        F.col("rk"),
    )
    snap = ranked.groupBy("user_id").agg(
        F.max_by("event_type", "rk").alias("final_op"),
        F.max_by(
            F.when(F.col("event_type") != "refund", F.col("value")), upsert_ord
        ).alias("last_upsert_value"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return snap.filter(F.col("final_op") != "refund").select(
        "user_id",
        F.round("last_upsert_value", 4).alias("current_value"),
        "n_changes",
    )


# --------------------------------------------------------------------------
# q — data-quality expectations: five rules checked in ONE scan (conditional
# sums inside a single aggregation, stack-unpivoted to long form). The
# value_lt_100 rule fires on real rows so the violation path is exercised,
# not just zeros.
# --------------------------------------------------------------------------
@register(
    "events_quality_checks",
    oracle=f"""
    WITH agg AS (
      SELECT count(*) AS n_rows,
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v0,
             sum(CASE WHEN event_type NOT IN
                 ('view','click','purchase','signup','error')
                 THEN 1 ELSE 0 END) AS v1,
             sum(CASE WHEN NOT (value >= 0) THEN 1 ELSE 0 END) AS v2,
             sum(CASE WHEN NOT (ts >= TIMESTAMP '2020-01-01') THEN 1 ELSE 0 END) AS v3,
             sum(CASE WHEN NOT (value < 100) THEN 1 ELSE 0 END) AS v4
      FROM events)
    SELECT u.rule, a.n_rows, u.n_violations,
           {PR6('u.n_violations / CAST(a.n_rows AS DOUBLE)')} AS violation_rate
    FROM agg a, LATERAL (VALUES
      ('user_id_not_null', CAST(a.v0 AS BIGINT)),
      ('event_type_allowed', CAST(a.v1 AS BIGINT)),
      ('value_non_negative', CAST(a.v2 AS BIGINT)),
      ('ts_after_2020', CAST(a.v3 AS BIGINT)),
      ('value_lt_100', CAST(a.v4 AS BIGINT))) AS u(rule, n_violations)
    """,
)
def events_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import quality_checks

    ev = table(spark, sf_dir, "events")
    return quality_checks(
        ev,
        {
            "user_id_not_null": F.col("user_id").isNotNull(),
            "event_type_allowed": F.col("event_type").isin(
                "view", "click", "purchase", "signup", "error"
            ),
            "value_non_negative": F.col("value") >= 0,
            "ts_after_2020": F.col("ts") >= F.lit("2020-01-01").cast("timestamp"),
            "value_lt_100": F.col("value") < 100,
        },
    )


# --------------------------------------------------------------------------
# q — ordered funnel: per user, how far through view → click → purchase
# they progressed, requiring each step to happen strictly AFTER the
# previous one. Aggregation-only (min-ts per step + conditional ordering),
# no window, no self-join — the funnel shape that stays one shuffle at
# any scale. Tie policy: equal timestamps do NOT advance the funnel.
# --------------------------------------------------------------------------
@register(
    "user_funnel_steps",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id),
    steps AS (
      SELECT user_id,
             CASE WHEN t_view IS NULL THEN 0
                  WHEN t_click IS NULL OR t_click <= t_view THEN 1
                  WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
                  ELSE 3 END AS funnel_step
      FROM per)
    SELECT funnel_step, count(*) AS n_users
    FROM steps GROUP BY funnel_step
    """,
)
def user_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    step = (
        F.when(F.col("t_view").isNull(), 0)
        .when(
            F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_view")), 1
        )
        .when(
            F.col("t_purchase").isNull()
            | (F.col("t_purchase") <= F.col("t_click")),
            2,
        )
        .otherwise(3)
    )
    return (
        per.select(step.alias("funnel_step"))
        .groupBy("funnel_step")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------------------------------
# q — retention cohorts: users grouped by first-seen week, activity counted
# per week offset — the (cohort, offset) retention matrix in long form.
# Two aggregations sharing the user_id shuffle key, then a broadcast of
# the tiny per-user cohort map back onto per-week activity.
# --------------------------------------------------------------------------
@register(
    "weekly_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    weekly AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('week', f.cohort_week, w.active_week) AS BIGINT)
             AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM weekly w JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        # to_date: DuckDB's standalone date_trunc('week') yields DATE while
        # Spark yields TIMESTAMP — pin both engines to DATE
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    weekly = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("active_week")
    ).distinct()
    joined = weekly.join(F.broadcast(firsts), "user_id")
    offset = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("long")
    return joined.groupBy(
        "cohort_week", offset.alias("week_offset")
    ).agg(F.count(F.lit(1)).alias("n_active_users"))


# --------------------------------------------------------------------------
# q — event-transition matrix: (prev_type → type) bigram counts per user
# ordering with the per-prev transition probability — the Markov-chain
# estimate behind next-event prediction. One window shuffle on user_id,
# then a tiny (K², K=5) aggregation.
# --------------------------------------------------------------------------
@register(
    "event_type_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL),
    pairs AS (
      SELECT prev_type, event_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT prev_type, event_type, n,
           {PR6('n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)')}
             AS p_transition
    FROM pairs
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-ts events have no position in the per-user sequence (r7)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_prev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        portable_round(F.col("n") / F.sum("n").over(w_prev), 6).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# Count-min-sketch heavy hitters over event users: frequency estimation in
# O(depth·width) memory regardless of key cardinality — the exact count
# rides along so the sketch's est >= exact overestimate bound is itself
# hash-checked by the oracle. md5-portable hashing, identical grid both
# engines.
# --------------------------------------------------------------------------

from ..ext import sketches as SK  # noqa: E402


def _cms_oracle() -> str:
    from .textops import hash64_sql

    d, w, k = SK.CMS_DEPTH, SK.CMS_WIDTH, 20
    bucket = hash64_sql("concat_ws('|', CAST(seed AS VARCHAR), key)")
    cbucket = hash64_sql("concat_ws('|', CAST(cf.seed AS VARCHAR), cf.key)")
    return f"""
    WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    fanned AS (SELECT key, unnest(range({d})) AS seed FROM keyed),
    grid AS (
      SELECT seed, ({bucket}) % {w} AS bucket, count(*) AS cnt
      FROM fanned GROUP BY 1, 2),
    cands AS (SELECT DISTINCT key FROM keyed),
    cf AS (SELECT key, unnest(range({d})) AS seed FROM cands),
    est AS (
      SELECT cf.key, min(coalesce(g.cnt, 0)) AS est
      FROM cf LEFT JOIN grid g
        ON g.seed = cf.seed AND g.bucket = ({cbucket}) % {w}
      GROUP BY cf.key),
    exact AS (SELECT key, count(*) AS exact FROM keyed GROUP BY 1)
    SELECT e.key, CAST(e.est AS BIGINT) AS est, CAST(x.exact AS BIGINT) AS exact
    FROM est e JOIN exact x USING (key)
    ORDER BY est DESC, key LIMIT {k}
    """


@register("cms_heavy_hitter_users", oracle=_cms_oracle())
def cms_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by count-min-sketch frequency estimate (4×256 grid)
    with exact counts alongside — bounded-memory heavy-hitter detection."""
    return SK.cms_heavy_hitters(table(spark, sf_dir, "events"), "user_id", k=20)


# --------------------------------------------------------------------------
# q — hourly volume anomalies per event type: z-score of each hour's
# count against the type's own hourly distribution, from EXACT integer
# moments (counts are integers; k, S1 = Σn, S2 = Σn² are exact, and
# z = (n·k − S1)/sqrt(k·S2 − S1²) is a fixed IEEE sequence on identical
# integers — the fuzz-proof construction). Two map-side-combined aggs
# (hour grain, then the tiny per-type moment row broadcast back); the
# hour grain is bounded (types × hours), never fact-sized.
# --------------------------------------------------------------------------
@register(
    "events_hourly_anomalies",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2
      FROM hourly GROUP BY 1),
    z AS (
      SELECT h.event_type, h.h, h.n,
             CASE WHEN m.k * m.s2 - m.s1 * m.s1 > 0 THEN
               CAST(h.n * m.k - m.s1 AS DOUBLE)
                 / sqrt(CAST(m.k * m.s2 - m.s1 * m.s1 AS DOUBLE))
             END AS zs
      FROM hourly h JOIN mom m USING (event_type))
    SELECT event_type, h AS hour_ts, n AS n_events,
           {PR6('zs')} AS z_score
    FROM z WHERE zs IS NOT NULL AND abs(zs) >= 2.0
    """,
)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count deviates ≥2σ from the type's hourly
    distribution (population z from exact integer moments)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    mom = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    j = hourly.join(mom, "event_type")
    var_num = F.col("k") * F.col("s2") - F.col("s1") * F.col("s1")
    zs = F.when(
        var_num > 0,
        (F.col("n") * F.col("k") - F.col("s1")).cast("double")
        / F.sqrt(var_num.cast("double")),
    )
    return (
        j.withColumn("zs", zs)
        .filter(F.col("zs").isNotNull() & (F.abs("zs") >= 2.0))
        .select(
            "event_type",
            F.col("h").alias("hour_ts"),
            F.col("n").alias("n_events"),
            portable_round(F.col("zs"), 6).alias("z_score"),
        )
    )


# --------------------------------------------------------------------------
# q — CUSUM drift detection per user: the one-sided cumulative-sum
# statistic s_i = max(0, s_{i-1} + x_i − K), the classic sequential
# change detector. A genuine left fold — not a SQL window frame — so it
# runs as array_sort(collect_list) + F.aggregate (the grouped_ewma_jvm
# pattern), and the oracle replays the IDENTICAL op order with DuckDB
# list_reduce over the identically-ordered value list (a 0.0 seed is
# prepended because list_reduce folds from the first element):
# bit-identical accumulation, no summation-order exposure. NULL values
# are excluded on both engines (collect_list drops them silently —
# DuckDB's list() does NOT, hence the explicit filter).
# --------------------------------------------------------------------------
_CUSUM_K = 50.0
_CUSUM_H = 200.0


@register(
    "user_value_cusum",
    oracle=f"""
    WITH vals AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {PR6(f'''list_reduce(
               list_prepend(0.0, list(value ORDER BY ts, event_id)),
               (acc, x) -> greatest(0.0, acc + x - {_CUSUM_K}))''')}
             AS cusum,
           list_reduce(
               list_prepend(0.0, list(value ORDER BY ts, event_id)),
               (acc, x) -> greatest(0.0, acc + x - {_CUSUM_K})) > {_CUSUM_H}
             AS drifted
    FROM vals GROUP BY user_id
    """,
)
def user_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final one-sided CUSUM statistic per user (K=50 reference, H=200
    decision threshold)."""
    # null-ts rows have no position in the order-dependent fold and the
    # engines sort them to opposite ends (r7 null fuzz, seed 4 @ 25%
    # nulls) — excluded identically on both sides, like the EWMA twins
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    seq = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.col("value").alias("__v")))
    )
    grouped = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"), seq.alias("seq")
    )
    fold = F.aggregate(
        "seq",
        F.lit(0.0),
        lambda acc, x: F.greatest(
            F.lit(0.0), acc + x["__v"] - F.lit(_CUSUM_K)
        ),
    )
    return grouped.select(
        "user_id",
        "n_events",
        portable_round(fold, 6).alias("cusum"),
        (fold > _CUSUM_H).alias("drifted"),
    )


# --------------------------------------------------------------------------
# Autoregressive training-pair generation: each event becomes a
# (context, label) example where the context is the user's previous 3
# event types in order — the dataset-construction step for a next-event
# sequence model (the event-stream analogue of packing next-token
# examples). Window is totally ordered by (ts, event_id); partial
# contexts at sequence heads are dropped on both engines, and the
# context is joined only AFTER the all-non-null filter (concat_ws would
# silently skip nulls and emit shortened contexts).
# --------------------------------------------------------------------------
@register(
    "next_event_training_pairs",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             lag(event_type, 3) OVER w AS t3,
             lag(event_type, 2) OVER w AS t2,
             lag(event_type, 1) OVER w AS t1
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           t3 || '|' || t2 || '|' || t1 AS context,
           event_type AS label
    FROM seq
    WHERE t3 IS NOT NULL AND t2 IS NOT NULL AND t1 IS NOT NULL
    """,
)
def next_event_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(context, label) next-event training examples: previous 3 event
    types -> current type, per user in (ts, event_id) order."""
    # null-ts events have no position in the per-user sequence (r7)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("label"),
        F.lag("event_type", 3).over(w).alias("t3"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_type", 1).over(w).alias("t1"),
    ).filter(
        F.col("t3").isNotNull() & F.col("t2").isNotNull() & F.col("t1").isNotNull()
    )
    return seq.select(
        "user_id",
        "event_id",
        F.concat_ws("|", "t3", "t2", "t1").alias("context"),
        "label",
    )


# --------------------------------------------------------------------------
# Time-decay multi-touch attribution: every event by the same user on
# the 7 calendar days STRICTLY BEFORE a PURCHASE event's day is a
# touch; a touch's weight HALVES per day of age (64 >> (day_diff-1) for
# day_diff 1..7 — exact small integers, float-free by construction,
# unlike an exp(-dt/tau) kernel whose irrational weights could round
# differently per engine). Touches pre-aggregate to (user, day, type)
# grain BEFORE the join, so the fan-out per conversion is bounded at
# 7 days x |types| — independent of per-user event density. (The first
# formulation joined conversions to RAW events in a timestamp band:
# correct but quadratic in per-key density — 13.8 s at 10x, 93.7 s at
# 30x on the density smoke. A second day-grain draft INCLUDED the
# conversion's own calendar day, which silently credited touches
# occurring AFTER the purchase — same-day future leakage the raw form
# excluded; strictly-prior days keep the aggregable grain with no
# leakage and no self-subtraction special case.) Per-conversion credit
# shares are scaled-integer half-up micro-units summed exactly with one
# final IEEE division.
# --------------------------------------------------------------------------
@register(
    "attribution_time_decay",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, CAST(ts AS DATE) AS cd
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
    tagg AS (
      SELECT user_id, CAST(ts AS DATE) AS td, event_type, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3),
    touch AS (
      SELECT c.conv_id, t.event_type,
             t.n * (64 >> CAST(date_diff('day', t.td, c.cd) - 1 AS INTEGER))
               AS sw
      FROM conv c JOIN tagg t ON t.user_id = c.user_id
       AND t.td < c.cd AND t.td >= c.cd - 7),
    per_type AS (
      SELECT conv_id, event_type, sum(sw) AS s
      FROM touch GROUP BY 1, 2),
    tot AS (
      SELECT conv_id, sum(s) AS t FROM per_type GROUP BY 1),
    shares AS (
      SELECT p.event_type,
             (p.s * 1000000 + f.t // 2) // f.t AS share_micro
      FROM per_type p JOIN tot f ON f.conv_id = p.conv_id)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(share_micro) AS DOUBLE) / 1000000 AS total_credit
    FROM shares GROUP BY 1
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type attribution credit toward purchase conversions:
    daily-halving weights over the 7 strictly-prior calendar days,
    exact shares, touch side pre-aggregated to (user, day, type)
    grain."""
    ev = table(spark, sf_dir, "events")
    conv = ev.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("conv_user"),
        F.to_date("ts").alias("cd"),
    )
    tagg = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy("user_id", F.to_date("ts").alias("td"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    touch = conv.join(
        tagg,
        (F.col("user_id") == F.col("conv_user"))
        & (F.col("td") < F.col("cd"))
        & (F.col("td") >= F.date_sub(F.col("cd"), 7)),
    )
    dd = F.datediff("cd", "td")  # 1..7 under the join predicate
    w = (
        F.when(dd == 1, 64)
        .when(dd == 2, 32)
        .when(dd == 3, 16)
        .when(dd == 4, 8)
        .when(dd == 5, 4)
        .when(dd == 6, 2)
        .otherwise(1)
    )
    per_type = (
        touch.select("conv_id", "event_type", (F.col("n") * w).alias("sw"))
        .groupBy("conv_id", "event_type")
        .agg(F.sum("sw").alias("s"))
    )
    tot = per_type.groupBy("conv_id").agg(F.sum("s").alias("t"))
    shares = per_type.join(tot, "conv_id").select(
        "event_type",
        F.expr("(s * 1000000 + t DIV 2) DIV t").alias("share_micro"),
    )
    return shares.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        (F.sum("share_micro").cast("double") / 1000000).alias("total_credit"),
    )


# --------------------------------------------------------------------------
# Sliding DISTINCT census: distinct users per 2-hour window hopping
# hourly. Unlike sliding count/sum (mergeable partials —
# sliding_hour_activity), COUNT(DISTINCT) cannot merge across hops, so
# the scale-correct plan dedupes (window, user) FIRST — one exchange on
# the composite key turns the distinct into a plain count and keeps the
# per-window state at |distinct users|, not |events|.
# --------------------------------------------------------------------------
@register(
    "sliding_distinct_users",
    oracle="""
    WITH x AS (
      SELECT date_trunc('hour', ts) AS h, user_id FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    ex AS (
      SELECT h AS win_start, user_id FROM x
      UNION ALL
      SELECT h - INTERVAL 1 HOUR, user_id FROM x)
    SELECT win_start,
           win_start + INTERVAL 2 HOUR AS win_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ex GROUP BY 1
    """,
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 2-hour window, 1-hour hop (explicit
    dedupe-then-count plan)."""
    # explicit null filters pin the engine contract: Spark's F.window
    # drops null-ts rows while SQL date_trunc groups them into a NULL
    # bucket, and COUNT(DISTINCT) ignores null users while
    # dropDuplicates+count would count one
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    pairs = ev.select(
        F.window("ts", "2 hours", "1 hour").alias("win"), "user_id"
    ).dropDuplicates(["win", "user_id"])
    return pairs.groupBy("win").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "n_users",
    )


# --------------------------------------------------------------------------
# q — KMV/theta-sketch next-day retention: per-day bottom-k sketches of the
# active user set, composed under SET ALGEBRA — union, intersection and
# Jaccard estimates for every consecutive-day pair from 64-row summaries.
# This is the set operation HLL cannot answer (HLL merges by union only);
# at 100 TB the day sketches are built once (one distinct exchange +
# deterministic bucket prune, see ext.sketches.kmv_sketch) and every
# pairwise question afterwards touches only k-row sketch tables. The exact
# next-day intersection rides along so the estimator is oracle-checked
# against ground truth row by row.
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_CONST = repr(float((_KMV_K - 1) * SK.KMV_SPACE))  # (k-1)·M, exact double


def _kmv_retention_oracle() -> str:
    from .textops import hash64_sql

    h = hash64_sql("CAST(user_id AS VARCHAR)")
    k, c = _KMV_K, _KMV_CONST
    union_est = (
        f"CASE WHEN ag.m < {k} THEN CAST(ag.m AS DOUBLE) "
        f"ELSE {c} / CAST(ag.hku AS DOUBLE) END"
    )
    jacc = "(CAST(ag.rho AS DOUBLE) / CAST(ag.m AS DOUBLE))"
    return f"""
    WITH d AS (
      SELECT DISTINCT CAST(ts AS DATE) AS g, {h} AS h
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    sk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
           FROM d),
    skk AS (SELECT g, h FROM sk WHERE r <= {k}),
    hk AS (SELECT g, h AS hk FROM sk WHERE r = {k}),
    est AS (
      SELECT nd.g,
             CASE WHEN nd.n <= {k} THEN CAST(nd.n AS DOUBLE)
                  ELSE {c} / CAST(hk.hk AS DOUBLE) END AS est
      FROM nd LEFT JOIN hk ON hk.g = nd.g),
    pairs AS (SELECT a.g AS da, b.g AS db
              FROM nd a JOIN nd b ON b.g = a.g + 1),
    u AS (
      SELECT p.da, p.db, s.h FROM pairs p JOIN skk s ON s.g = p.da
      UNION
      SELECT p.da, p.db, s.h FROM pairs p JOIN skk s ON s.g = p.db),
    ur AS (SELECT da, db, h,
                  row_number() OVER (PARTITION BY da, db ORDER BY h) AS r
           FROM u),
    um AS (SELECT da, db, h FROM ur WHERE r <= {k}),
    fl AS (
      SELECT um.da, um.db, um.h,
             (a.h IS NOT NULL) AS ina, (b.h IS NOT NULL) AS inb
      FROM um
      LEFT JOIN skk a ON a.g = um.da AND a.h = um.h
      LEFT JOIN skk b ON b.g = um.db AND b.h = um.h),
    ag AS (
      SELECT da, db, CAST(count(*) AS BIGINT) AS m, max(h) AS hku,
             CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
               AS rho
      FROM fl GROUP BY 1, 2),
    ut AS (SELECT DISTINCT CAST(ts AS DATE) AS g, user_id
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    ix AS (
      SELECT a.g AS da, CAST(count(*) AS BIGINT) AS inter_exact
      FROM ut a JOIN ut b ON b.g = a.g + 1 AND b.user_id = a.user_id
      GROUP BY 1)
    SELECT p.da AS day_a, p.db AS day_b,
           coalesce(ix.inter_exact, 0) AS inter_exact,
           {PR4('ea.est')} AS est_a,
           {PR4('eb.est')} AS est_b,
           {PR4(union_est)} AS union_est,
           {PR4(f'{jacc} * ({union_est})')} AS inter_est,
           {PR6(jacc)} AS jaccard_est
    FROM pairs p
    JOIN ag ON ag.da = p.da AND ag.db = p.db
    JOIN est ea ON ea.g = p.da
    JOIN est eb ON eb.g = p.db
    LEFT JOIN ix ON ix.da = p.da
    ORDER BY day_a
    """


@register("kmv_day_retention", oracle=_kmv_retention_oracle())
def kmv_day_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention from per-day KMV sketches: distinct-user
    estimates for each day, union/intersection/Jaccard estimates for each
    (day, day+1) pair — all from 64-row sketches — with the exact
    intersection alongside."""
    k = _KMV_K
    c = float((k - 1) * SK.KMV_SPACE)
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    sketch, counts = SK.kmv_sketch(ev, "user_id", "day", k=k)
    from ..operators.partitioning import checkpoint_for_reuse

    # ONE pin at the sketch grain (round-11 action consolidation): est
    # and sk_h previously each carried their own eager checkpoint, so
    # the survivor-filter + rank-window lineage over the full distinct
    # frame executed twice more (two extra serial actions). Both are now
    # lazy derivations of the single pinned k·|days|-row sketch — the
    # est arithmetic is a tiny broadcast join per consumer and sk_h a
    # pure projection, cheap to recompute inside the final action.
    sketch = checkpoint_for_reuse(sketch)
    est = SK.kmv_distinct_estimate(sketch, counts, k=k)
    sk_h = sketch.select("g", "h")

    pairs = (
        est.select(F.col("g").alias("da"))
        .join(
            F.broadcast(est.select(F.col("g").alias("db"))),
            F.col("db") == F.date_add(F.col("da"), 1),
        )
    )
    ua = pairs.join(sk_h.withColumnRenamed("g", "da"), "da").select(
        "da", "db", "h"
    )
    ub = pairs.join(sk_h.withColumnRenamed("g", "db"), "db").select(
        "da", "db", "h"
    )
    u = ua.unionByName(ub).distinct()
    wr = Window.partitionBy("da", "db").orderBy("h")
    um = u.withColumn("r", F.row_number().over(wr)).filter(F.col("r") <= k)
    fl = (
        um.join(
            sk_h.select(F.col("g").alias("da"), "h", F.lit(1).alias("ina")),
            ["da", "h"],
            "left",
        ).join(
            sk_h.select(F.col("g").alias("db"), "h", F.lit(1).alias("inb")),
            ["db", "h"],
            "left",
        )
    )
    ag = fl.groupBy("da", "db").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.max("h").alias("hku"),
        F.sum(
            F.when(F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("rho"),
    )
    ut = ev.filter(
        F.col("user_id").isNotNull() & F.col("day").isNotNull()
    ).distinct()
    ix = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("b.day") == F.date_add(F.col("a.day"), 1))
            & (F.col("b.user_id") == F.col("a.user_id")),
        )
        .groupBy(F.col("a.day").alias("da"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter_exact"))
    )
    union_est = F.when(F.col("m") < k, F.col("m").cast("double")).otherwise(
        F.lit(c) / F.col("hku").cast("double")
    )
    jacc = F.col("rho").cast("double") / F.col("m").cast("double")
    return (
        pairs.join(ag, ["da", "db"])
        .join(est.select(F.col("g").alias("da"), F.col("est").alias("ea")), "da")
        .join(est.select(F.col("g").alias("db"), F.col("est").alias("eb")), "db")
        .join(ix, "da", "left")
        .select(
            F.col("da").alias("day_a"),
            F.col("db").alias("day_b"),
            F.coalesce("inter_exact", F.lit(0).cast("long")).alias(
                "inter_exact"
            ),
            portable_round(F.col("ea"), 4).alias("est_a"),
            portable_round(F.col("eb"), 4).alias("est_b"),
            portable_round(union_est, 4).alias("union_est"),
            portable_round(jacc * union_est, 4).alias("inter_est"),
            portable_round(jacc, 6).alias("jaccard_est"),
        )
    )
