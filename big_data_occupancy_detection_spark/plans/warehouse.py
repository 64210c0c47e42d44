"""Warehouse analytics batch 2 (round 4): rank distributions, growth,
cohort LTV, backlog timelines, bitmap retention, composition shift,
bipartite coverage, graph triangles.

Every query here is FLOAT-FREE BY CONSTRUCTION (the round-4 fuzz
discipline): monies are exact integer cents, ratios are scaled-integer
half-up divisions (``(num*10^k + den DIV 2) DIV den``), and any final
double is ONE IEEE division of identical integers — so Spark and the
DuckDB oracle cannot diverge on any data distribution, partitioning, or
regenerated seed. Scale notes per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.partitioning import checkpoint_for_reuse
from ..sources.readers import table
from ..functions.rounding import portable_round, portable_round_sql
from .registry import register

# exact cents for a 2-decimal money column — the basis of every
# float-free aggregate below
def _cents(col: str) -> Column:
    return F.round(F.col(col) * 100).cast("long")


_CENTS = "CAST(round({c} * 100) AS BIGINT)"


def _e4_div(num: str, den: str) -> str:
    """Exact scaled-integer half-up ratio at 4 decimals, as DOUBLE."""
    return f"CAST(({num} * 10000 + ({den}) // 2) // ({den}) AS DOUBLE) / 10000"


# --------------------------------------------------------------------------
# Rank-distribution family: percent_rank + cume_dist of customer spend
# WITHIN market segment. Partitioned by segment — each partition's sort
# is |customers-per-segment|, never global, so there is no single-task
# window. Both stats are exact rational functions of integer ranks
# (percent_rank = (rk-1)/(n-1), cume_dist = rk_max/n), emitted at 6
# decimals via scaled-integer division.
# --------------------------------------------------------------------------
@register(
    "customer_spend_percentiles",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(sum({_CENTS.format(c='o.o_totalprice')}) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT c_mktsegment, o_custkey, cents,
             rank() OVER w AS rk,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM spend
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY cents, o_custkey)),
    top AS (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY cents DESC, o_custkey) AS rev
      FROM ranked)
    SELECT c_mktsegment, o_custkey,
           CAST(cents AS DOUBLE) / 100 AS spend,
           CASE WHEN n = 1 THEN 0.0 ELSE
             {_e4_div('(CAST(rk AS BIGINT) - 1) * 100', 'CAST(n AS BIGINT) - 1')}
           END AS pct_rank,
           {_e4_div('CAST(rk AS BIGINT) * 100', 'CAST(n AS BIGINT)')} AS cume_pct
    FROM top WHERE rev <= 5
    """,
)
def customer_spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 spenders per segment with their exact percent-rank and
    cumulative-distribution percentiles (0-100, 4 decimals)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_custkey")
    wn = Window.partitionBy("c_mktsegment")
    wrev = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("cents"), "o_custkey"
    )
    ranked = spend.select(
        "c_mktsegment",
        "o_custkey",
        "cents",
        F.rank().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wrev).alias("rev"),
    ).filter(F.col("rev") <= 5)
    return ranked.select(
        "c_mktsegment",
        "o_custkey",
        (F.col("cents").cast("double") / 100).alias("spend"),
        F.when(F.col("n") == 1, F.lit(0.0))
        .otherwise(
            F.expr(
                "((CAST(rk AS BIGINT) - 1) * 1000000 "
                "+ (CAST(n AS BIGINT) - 1) DIV 2) DIV (CAST(n AS BIGINT) - 1)"
            ).cast("double")
            / 10000
        )
        .alias("pct_rank"),
        (
            F.expr(
                "(CAST(rk AS BIGINT) * 1000000 + CAST(n AS BIGINT) DIV 2) "
                "DIV CAST(n AS BIGINT)"
            ).cast("double")
            / 10000
        ).alias("cume_pct"),
    )


# --------------------------------------------------------------------------
# Year-over-year growth per segment: yearly revenue (exact cents) with a
# lag window over the tiny (segment × year) grain — the fact table
# reduces first, so the window runs on ~|segments·years| rows. Growth is
# a scaled-integer ratio; year-1 gaps yield NULL growth on both engines.
# --------------------------------------------------------------------------
@register(
    "segment_yoy_growth",
    oracle=f"""
    WITH yearly AS (
      SELECT c.c_mktsegment,
             CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS yr,
             CAST(sum({_CENTS.format(c='o.o_totalprice')}) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    g AS (
      SELECT c_mktsegment, yr, cents,
             lag(cents) OVER (PARTITION BY c_mktsegment ORDER BY yr)
               AS prev_cents
      FROM yearly)
    SELECT c_mktsegment, yr,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
                ELSE {_e4_div('(cents - prev_cents) * 100', 'prev_cents')}
           END AS yoy_growth_pct
    FROM g
    """,
)
def segment_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue and exact YoY growth %% per market segment."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_mktsegment", F.year("o_orderdate").cast("int").alias("yr")
        )
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("yr")
    g = yearly.withColumn("prev_cents", F.lag("cents").over(w))
    growth = F.when(
        F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0),
        F.expr(
            "((cents - prev_cents) * 100 * 10000 + prev_cents DIV 2) "
            "DIV prev_cents"
        ).cast("double")
        / 10000,
    )
    return g.select(
        "c_mktsegment",
        "yr",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        growth.alias("yoy_growth_pct"),
    )


# --------------------------------------------------------------------------
# Cohort lifetime value: customers grouped by FIRST-order year; the
# cohort row carries size, exact total/avg LTV, and repeat share. Two
# map-side-combined aggregations (customer grain, then cohort grain) —
# no windows, no fact-sized shuffles past the first groupBy.
# --------------------------------------------------------------------------
@register(
    "cohort_lifetime_value",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(extract(year FROM min(o_orderdate)) AS INTEGER) AS cohort,
             count(*) AS n_orders,
             CAST(sum({_CENTS.format(c='o_totalprice')}) AS BIGINT) AS cents
      FROM orders GROUP BY 1)
    SELECT cohort,
           count(*) AS n_customers,
           CAST(sum(cents) AS DOUBLE) / 100 AS total_ltv,
           {_e4_div('sum(cents)', 'count(*)')} AS avg_ltv_cents_e4,
           CAST(sum(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS repeat_customers
    FROM cust GROUP BY 1
    """,
)
def cohort_lifetime_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV profile per first-order-year cohort (exact cents arithmetic;
    avg_ltv_cents_e4 is cents-per-customer at 4 decimals)."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).cast("int").alias("cohort"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"),
    )
    return cust.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("cents").cast("double") / 100).alias("total_ltv"),
        (
            F.expr("(sum(cents) * 10000 + count(1) DIV 2) DIV count(1)")
            .cast("double")
            / 10000
        ).alias("avg_ltv_cents_e4"),
        F.sum((F.col("n_orders") > 1).cast("int")).cast("long").alias(
            "repeat_customers"
        ),
    )


# --------------------------------------------------------------------------
# Backlog timeline: how many orders are "open" on the first day of each
# month, where an order spans [o_orderdate, last shipdate of its items].
# The interval set reduces to +1/-1 boundary events, aggregated to the
# month grain and prefix-summed over the TINY month spine — the classic
# sweep-line trick that answers point-in-time counts without a
# per-(order × month) interval join. All integers.
# --------------------------------------------------------------------------
@register(
    "monthly_open_order_backlog",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             date_trunc('month', o.o_orderdate) AS m_open,
             date_trunc('month', max(l.l_shipdate)) AS m_close
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    deltas AS (
      SELECT m_open AS m, CAST(count(*) AS BIGINT) AS d FROM spans GROUP BY 1
      UNION ALL
      SELECT m_close + INTERVAL 1 MONTH AS m, CAST(-count(*) AS BIGINT)
      FROM spans GROUP BY 1),
    merged AS (SELECT m, CAST(sum(d) AS BIGINT) AS d FROM deltas GROUP BY m)
    SELECT CAST(m AS DATE) AS month_start,
           CAST(sum(d) OVER (ORDER BY m
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
    FROM merged
    """,
)
def monthly_open_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order count at each month boundary via +1/-1 sweep-line.

    The final running sum is a window over the MONTH grain (~10^2 rows
    for decades of data) — the one place an unpartitioned window is the
    right call; the fact-sized work is all map-side-combined groupBys.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey", F.date_trunc("month", "o_orderdate").alias("m_open")
        )
        .agg(F.date_trunc("month", F.max("l_shipdate")).alias("m_close"))
    )
    opens = spans.groupBy(F.col("m_open").alias("m")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    closes = spans.groupBy(
        F.add_months(F.col("m_close"), 1).alias("m")
    ).agg((-F.count(F.lit(1))).cast("long").alias("d"))
    # add_months returns DATE; the open side is TIMESTAMP — unify
    merged = (
        opens.select(F.col("m").cast("timestamp").alias("m"), "d")
        .unionByName(closes.select(F.col("m").cast("timestamp").alias("m"), "d"))
        .groupBy("m")
        .agg(F.sum("d").cast("long").alias("d"))
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return merged.select(
        F.col("m").cast("date").alias("month_start"),
        F.sum("d").over(w).cast("long").alias("open_orders"),
    )


# --------------------------------------------------------------------------
# Bitmap retention: each user's 32-day activity as ONE BIGINT bitmask
# (bit d = active on day-offset d), built with bitwise-OR aggregation —
# the roaring-bitmap-index pattern at its int64 core. Streaks and
# revisit stats then come from pure bit arithmetic: active days =
# popcount, longest streak via iterated (mask & mask>>1) — all integer,
# all exact, no per-day rows surviving past the first aggregate.
# --------------------------------------------------------------------------
# longest run of set bits in a 32-bit mask = number of nonzero iterates
# of m ← m & (m >> 1) starting at m₀ = bm (a run of length L survives
# exactly L smears). The oracle unrolls the 32 fixed smears as a flat
# sum of indicator CASEs — same integer recurrence the Spark side folds
# with F.aggregate, generated here so the two stay in lockstep.
def _smear(k: int) -> str:
    # k-th smear iterate collapses to a flat AND of shifted copies
    # (m_k = bm & bm>>1 & … & bm>>k, since AND is idempotent) — linear
    # SQL text instead of the exponential naive nesting
    return "(" + " & ".join(["bm"] + [f"(bm >> {j})" for j in range(1, k + 1)]) + ")"


_STREAK_SQL_DUCK = " + ".join(
    f"(CASE WHEN {_smear(k)} <> 0 THEN 1 ELSE 0 END)" for k in range(32)
)


@register(
    "user_day_bitmaps",
    oracle=f"""
    WITH base AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    bits AS (
      SELECT user_id,
             CAST(bit_or(
               CASE WHEN date_diff('day', base.d0, CAST(ts AS DATE))
                         BETWEEN 0 AND 31
                    THEN 1::BIGINT << date_diff('day', base.d0, CAST(ts AS DATE))
                    ELSE 0 END) AS BIGINT) AS bm
      FROM events, base GROUP BY user_id)
    SELECT user_id, bm,
           CAST(bit_count(bm) AS INTEGER) AS active_days,
           CAST(({_STREAK_SQL_DUCK}) AS INTEGER) AS longest_streak
    FROM bits
    """,
)
def user_day_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-32-day activity bitmask per user + popcount + longest
    consecutive-day streak (log-step bit-smearing, 5 fixed rounds)."""
    ev = table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    bits = (
        ev.crossJoin(F.broadcast(d0))
        .withColumn("__off", F.datediff(F.to_date("ts"), F.col("d0")))
        .withColumn(
            "__bit",
            F.expr(
                "CASE WHEN __off BETWEEN 0 AND 31 "
                "THEN shiftleft(CAST(1 AS BIGINT), __off) "
                "ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .groupBy("user_id")
        .agg(F.bit_or("__bit").cast("long").alias("bm"))
    )
    # longest run of set bits: k-th iterate of m & (m >> 1) is nonzero
    # iff a run of length > k exists; 32 bits → 32 fixed iterations,
    # folded as a Catalyst aggregate over a literal range (no UDF)
    streak = F.aggregate(
        F.sequence(F.lit(1), F.lit(32)),
        F.struct(
            F.col("bm").alias("m"), F.lit(0).cast("int").alias("k")
        ),
        lambda acc, _i: F.struct(
            F.shiftright(acc["m"], 1).bitwiseAND(acc["m"]).alias("m"),
            F.when(acc["m"] != 0, acc["k"] + 1).otherwise(acc["k"]).alias("k"),
        ),
        lambda acc: acc["k"],
    )
    return bits.select(
        "user_id",
        "bm",
        F.bit_count("bm").cast("int").alias("active_days"),
        streak.cast("int").alias("longest_streak"),
    )


# --------------------------------------------------------------------------
# Composition shift: order-priority mix in the first half of the date
# range vs the second, with the per-priority share delta in exact basis
# points. The midpoint comes from exact epoch-µs integer arithmetic —
# identical on both engines — and every share is a scaled-integer ratio.
# --------------------------------------------------------------------------
@register(
    "priority_mix_shift",
    oracle="""
    WITH b AS (
      SELECT epoch_us(min(o_orderdate)) AS lo, epoch_us(max(o_orderdate)) AS hi
      FROM orders),
    tagged AS (
      SELECT o_orderpriority,
             CASE WHEN epoch_us(o_orderdate) * 2 <= b.lo + b.hi
                  THEN 0 ELSE 1 END AS half
      FROM orders, b),
    counts AS (
      SELECT o_orderpriority, half, count(*) AS n
      FROM tagged GROUP BY 1, 2),
    tot AS (SELECT half, CAST(sum(n) AS BIGINT) AS t FROM counts GROUP BY 1),
    shares AS (
      SELECT c.o_orderpriority, c.half,
             CAST((c.n * 10000 + t.t // 2) // t.t AS BIGINT) AS share_bp
      FROM counts c JOIN tot t USING (half))
    SELECT o_orderpriority,
           CAST(coalesce(max(CASE WHEN half = 0 THEN share_bp END), 0)
                AS BIGINT) AS share_bp_h1,
           CAST(coalesce(max(CASE WHEN half = 1 THEN share_bp END), 0)
                AS BIGINT) AS share_bp_h2,
           CAST(coalesce(max(CASE WHEN half = 1 THEN share_bp END), 0)
                - coalesce(max(CASE WHEN half = 0 THEN share_bp END), 0)
                AS BIGINT) AS shift_bp
    FROM shares GROUP BY 1
    """,
)
def priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority mix (basis points) in each half of the order-date range
    and the half-to-half shift. Integer-exact midpoint + shares."""
    o = table(spark, sf_dir, "orders")
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    b = o.agg(
        F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("lo"),
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("hi"),
    )
    tagged = o.crossJoin(F.broadcast(b)).select(
        "o_orderpriority",
        F.when(us * 2 <= F.col("lo") + F.col("hi"), 0).otherwise(1).alias("half"),
    )
    counts = tagged.groupBy("o_orderpriority", "half").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.groupBy("half").agg(F.sum("n").cast("long").alias("t"))
    shares = counts.join(tot, "half").select(
        "o_orderpriority",
        "half",
        F.expr("(n * 10000 + t DIV 2) DIV t").cast("long").alias("share_bp"),
    )
    h = lambda i: F.coalesce(
        F.max(F.when(F.col("half") == i, F.col("share_bp"))), F.lit(0)
    ).cast("long")
    return shares.groupBy("o_orderpriority").agg(
        h(0).alias("share_bp_h1"),
        h(1).alias("share_bp_h2"),
        (h(1) - h(0)).cast("long").alias("shift_bp"),
    )


# --------------------------------------------------------------------------
# Bipartite coverage: supplier × part sourcing stats — distinct parts
# per supplier, exclusively-sourced parts (parts with exactly one
# supplier), and each supplier's share of the part catalog in basis
# points. Distinct-pair reduce first (one shuffle), then two small
# aggregates + a broadcast scalar. Pure integers.
# --------------------------------------------------------------------------
@register(
    "supplier_part_coverage",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
    per_part AS (
      SELECT l_partkey, count(*) AS n_supp FROM pairs GROUP BY 1),
    catalog AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM per_part),
    per_supp AS (
      SELECT p.l_suppkey,
             CAST(count(*) AS BIGINT) AS parts_carried,
             CAST(sum(CASE WHEN pp.n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS exclusive_parts
      FROM pairs p JOIN per_part pp USING (l_partkey)
      GROUP BY 1)
    SELECT l_suppkey, parts_carried, exclusive_parts,
           CAST((parts_carried * 10000 + c.n_parts // 2) // c.n_parts
                AS BIGINT) AS catalog_share_bp
    FROM per_supp, catalog c
    ORDER BY parts_carried DESC, l_suppkey LIMIT 20
    """,
)
def supplier_part_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by distinct parts carried, with exclusive-part
    counts and exact catalog-share basis points."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    pairs = li.distinct()
    per_part = pairs.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_supp"))
    catalog = per_part.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    per_supp = (
        pairs.join(per_part, "l_partkey")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("parts_carried"),
            F.sum((F.col("n_supp") == 1).cast("int")).cast("long").alias(
                "exclusive_parts"
            ),
        )
    )
    return (
        per_supp.crossJoin(F.broadcast(catalog))
        .select(
            "l_suppkey",
            "parts_carried",
            "exclusive_parts",
            F.expr("(parts_carried * 10000 + n_parts DIV 2) DIV n_parts")
            .cast("long")
            .alias("catalog_share_bp"),
        )
        .orderBy(F.desc("parts_carried"), "l_suppkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Triangle counting on the co-purchase graph — THE structural graph
# metric Spark has no operator for. Scale shape: orient every edge from
# the lower to the higher id (halves the edge list, kills duplicate
# counting), self-join oriented edges on the middle vertex, then semi-
# join the wedge's closing edge — never a 3-way cartesian. Edge set =
# part pairs co-purchased in ≥ 2 orders (the support filter bounds the
# graph the same way the pair fan-out is bounded per order).
# --------------------------------------------------------------------------
@register(
    "copurchase_triangles",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    wedges AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v),
    tri AS (
      SELECT w.a, w.b, w.c FROM wedges w
      JOIN edges e3 ON e3.u = w.a AND e3.v = w.c)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges
    FROM tri
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle + edge count of the (support ≥ 2) co-purchase graph.

    Physical strategy: DEGREE-ORDERED node-iterator — every edge is
    re-oriented from its lower-(degree, id) endpoint to the higher, so
    wedges enumerate as out-neighbor pairs and the wedge count is
    Σ C(out_deg, 2) with out-degrees ≤ O(√m) on any graph (the classic
    bound; id-orientation leaves hub out-degrees unbounded — measured
    1.5× wall / 2.9× shuffle-write at 10× on this graph, and the gap
    widens with hub degree — PERF.md). The triangle COUNT is
    orientation-invariant, so the oracle keeps its simpler id-oriented
    form."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    # total order by (degree, id) packed into one sortable key
    # (degree < 2^31 and id < 2^31 on any real catalog)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(
            "node",
            (F.col("d").cast("long") * (1 << 31) + F.col("node")).alias("key"),
        )
    )
    ku = deg.select(F.col("node").alias("u"), F.col("key").alias("ku"))
    kv = deg.select(F.col("node").alias("v"), F.col("key").alias("kv"))
    oriented = (
        edges.join(ku, "u")
        .join(kv, "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("ku"))
            .otherwise(F.col("kv"))
            .alias("a"),
            F.when(F.col("ku") < F.col("kv"), F.col("kv"))
            .otherwise(F.col("ku"))
            .alias("b"),
        )
    )
    e1 = oriented.select("a", F.col("b").alias("x"))
    e2 = oriented.select("a", F.col("b").alias("y"))
    wedges = e1.join(e2, "a").filter(F.col("x") < F.col("y"))
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "inner")
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")).crossJoin(
        F.broadcast(n_edges)
    )


# --------------------------------------------------------------------------
# Community structure of the co-purchase graph: connected components of
# the support-≥2 edge set (ext.dedup.connected_components — large-star/
# small-star contraction with per-round checkpoints). The oracle computes
# the same fixpoint with a recursive transitive-closure CTE, then both
# sides summarize to component sizes — the form a catalog analyst
# consumes.
# --------------------------------------------------------------------------
@register(
    "copurchase_components",
    oracle="""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eset AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (
      SELECT u AS a, v AS b FROM eset UNION SELECT v, u FROM eset),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    labels AS (
      SELECT a AS part, least(a, min(b)) AS component
      FROM reach GROUP BY a)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(part) AS BIGINT) AS min_part,
           CAST(max(part) AS BIGINT) AS max_part
    FROM labels GROUP BY 1
    ORDER BY n_parts DESC, component LIMIT 20
    """,
)
def copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase communities (connected components of the
    support-≥2 part graph) by size."""
    from ..ext.dedup import connected_components

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(F.col("u").alias("d1"), F.col("v").alias("d2"))
    )
    labels = connected_components(edges)
    return (
        labels.groupBy(F.col("cluster").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("doc").cast("long").alias("min_part"),
            F.max("doc").cast("long").alias("max_part"),
        )
        .orderBy(F.desc("n_parts"), "component")
        .limit(20)
    )


# --------------------------------------------------------------------------
# BFS levels from the smallest part in the co-purchase graph: frontier
# expansion (ext.graph.bfs_levels) — the third distributed-graph
# primitive next to PageRank and connected components. Depth is bounded
# (8 hops covers any catalog neighborhood of interest); the oracle is a
# bounded-depth recursive CTE whose UNION dedup terminates on the finite
# (node, depth) space, with min(depth) per node = the BFS level.
# --------------------------------------------------------------------------
_BFS_MAX_DEPTH = 8


@register(
    "copurchase_bfs_depths",
    oracle=f"""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eset AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (
      SELECT u AS a, v AS b FROM eset UNION SELECT v, u FROM eset),
    seed AS (SELECT min(u) AS s FROM eset),
    bfs(node, depth) AS (
      SELECT s, 0 FROM seed
      UNION
      SELECT e.b, f.depth + 1
      FROM bfs f JOIN edges e ON e.a = f.node
      WHERE f.depth < {_BFS_MAX_DEPTH}),
    lvl AS (SELECT node, min(depth) AS depth FROM bfs GROUP BY node)
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(node) AS BIGINT) AS min_part,
           CAST(max(node) AS BIGINT) AS max_part
    FROM lvl GROUP BY 1
    """,
)
def copurchase_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth census of parts within 8 co-purchase hops of the
    smallest part in the support-≥2 graph (frontier BFS)."""
    from ..ext.graph import bfs_levels

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    # eager checkpoint: edges AND seeds both read eset — without it the
    # pair fan-out (the expensive part) executes twice
    eset = checkpoint_for_reuse(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    edges = eset.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        eset.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    seeds = eset.agg(F.min("u").alias("node"))
    levels = bfs_levels(edges, seeds, max_depth=_BFS_MAX_DEPTH)
    return levels.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.min("node").cast("long").alias("min_part"),
        F.max("node").cast("long").alias("max_part"),
    )


# --------------------------------------------------------------------------
# Day-of-week seasonality index per priority (round 7): the seasonal
# decomposition companion to the Holt/CUSUM/Mann-Kendall family. Index =
# mean(dow daily revenue) / mean(all daily revenue) computed as ONE
# double division of exact integer products — (s_d·n) / (n_d·s) with s
# in cents — so no intermediate float mean can diverge between engines
# (products bounded ≪ 2^63 at any realistic revenue). Mon=1 remap kept
# (the reference's eda_analysis.py:104-107 convention ⇔ SQL isodow).
# --------------------------------------------------------------------------
@register(
    "priority_dow_seasonality",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority, o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    d AS (
      SELECT priority, CAST(isodow(day) AS INTEGER) AS dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS s_d
      FROM daily GROUP BY 1, 2),
    t AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM daily GROUP BY 1)
    SELECT d.priority, d.dow, d.n_days,
           {portable_round_sql('CAST(d.s_d * t.n AS DOUBLE) / CAST(d.n_days * t.s AS DOUBLE)', 6)}
             AS seasonal_index
    FROM d JOIN t USING (priority)
    """,
)
def priority_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(priority, Mon=1 day-of-week) seasonal index of daily
    revenue: mean dow-day revenue over mean all-day revenue, one exact
    integer-product ratio."""
    from ..functions.datetime_fns import dow_monday

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    daily = checkpoint_for_reuse(daily)  # feeds the dow agg AND the total
    d = daily.groupBy(
        "priority", dow_monday("day").cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").alias("s_d"),
    )
    t = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").alias("s"),
    )
    return d.join(F.broadcast(t), "priority").select(
        "priority",
        "dow",
        "n_days",
        portable_round(
            (F.col("s_d") * F.col("n")).cast("double")
            / (F.col("n_days") * F.col("s")).cast("double"),
            6,
        ).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# Gini coefficient of customer spend per nation (round 7): the
# inequality/concentration metric beside the Pareto-frontier and ABC
# queries. G = (2·Σ r_i·x_i) / (n·Σx) − (n+1)/n over spend sorted
# ascending with rank r — every sum an exact integer (cents · rank), so
# the only floats are two divisions of exact operands. Ranks come from a
# per-nation window ((spend, custkey) total order); nations are bounded,
# and per-nation customer counts shard naturally under the window
# shuffle.
# --------------------------------------------------------------------------
@register(
    "nation_spend_gini",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT nationkey, cents,
             CAST(row_number() OVER (PARTITION BY nationkey
                                     ORDER BY cents, o_custkey) AS BIGINT) AS r
      FROM spend),
    agg AS (
      SELECT nationkey,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(sum(r * cents) AS BIGINT) AS rw
      FROM ranked GROUP BY 1)
    SELECT nationkey, n_customers,
           CAST(total_cents AS DOUBLE) / 100 AS total_spend,
           {portable_round_sql(
               'CAST(2 * rw AS DOUBLE) / CAST(n_customers * total_cents AS DOUBLE)'
               ' - CAST(n_customers + 1 AS DOUBLE) / CAST(n_customers AS DOUBLE)', 6)}
             AS gini
    FROM agg
    """,
)
def nation_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer spend (exact integer
    rank-weighted sums; two final divisions)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("nationkey").orderBy("cents", "o_custkey")
    ranked = spend.withColumn("r", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("r") * F.col("cents")).alias("rw"),
    )
    return agg.select(
        "nationkey",
        "n_customers",
        (F.col("total_cents").cast("double") / 100).alias("total_spend"),
        portable_round(
            (2 * F.col("rw")).cast("double")
            / (F.col("n_customers") * F.col("total_cents")).cast("double")
            - (F.col("n_customers") + 1).cast("double")
            / F.col("n_customers").cast("double"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Inter-order gap statistics per customer (round 7): the interarrival
# analysis behind churn/repeat-purchase models. Gaps are exact integer
# days off the (o_orderdate, o_orderkey)-ordered lag (orderkey = unique
# tie-break → total order); mean is the repo's scaled-integer half-up
# division ((s·100 + n DIV 2) DIV n, one exact construction both
# engines); median is the LOWER median picked from the sorted gap array
# (exact integer — never an averaged even-count median, which would
# reintroduce float division). One window shuffle + one hash agg.
# --------------------------------------------------------------------------
@register(
    "customer_order_gaps",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       CAST(lag(o_orderdate) OVER w AS DATE),
                       CAST(o_orderdate AS DATE)) AS gap
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    k AS (
      SELECT o_custkey AS custkey,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(min(gap) AS BIGINT) AS min_gap,
             CAST(max(gap) AS BIGINT) AS max_gap,
             CAST(sum(gap) AS BIGINT) AS s,
             list_sort(list(gap)) AS arr
      FROM g WHERE gap IS NOT NULL GROUP BY 1)
    SELECT custkey,
           n_gaps + 1 AS n_orders,
           n_gaps, min_gap, max_gap,
           CAST((s * 100 + n_gaps // 2) // n_gaps AS DOUBLE) / 100
             AS mean_gap,
           CAST(arr[CAST((n_gaps + 1) // 2 AS INT)] AS BIGINT) AS median_gap
    FROM k
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order interarrival stats: count, min/max/mean/lower-
    median gap in days (customers with a single order have no gap and
    are excluded by construction)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.withColumn("prev_d", F.lag("o_orderdate").over(w))
        .withColumn(
            "gap", F.datediff("o_orderdate", "prev_d").cast("long")
        )
        .filter(F.col("gap").isNotNull())
    )
    k = g.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap").alias("min_gap"),
        F.max("gap").alias("max_gap"),
        F.sum("gap").alias("s"),
        F.sort_array(F.collect_list("gap")).alias("arr"),
    )
    return k.select(
        "custkey",
        (F.col("n_gaps") + 1).alias("n_orders"),
        "n_gaps",
        "min_gap",
        "max_gap",
        (
            F.expr("CAST((s * 100 + n_gaps DIV 2) DIV n_gaps AS DOUBLE)")
            / 100
        ).alias("mean_gap"),
        F.element_at(
            "arr", ((F.col("n_gaps") + 1) / 2).cast("int")
        ).alias("median_gap"),
    )


# --------------------------------------------------------------------------
# k-core of the co-purchase graph (round 7): the degeneracy/cohesion
# primitive beside CC / PageRank / triangles / BFS — iterative peeling
# until every surviving part has ≥ K co-purchase partners. Promoted
# rows-only → oracle-paired in round 9: DuckDB 1.0 DOES evaluate
# aggregates/CTEs over the recursive reference (each step sees the
# previous iteration's working table — probed empirically; the r7 "no
# aggregates in the recursive term" claim was wrong), so the oracle
# replays one synchronous peel round per recursion step: survivors =
# edges whose BOTH endpoints have degree ≥ K in the working edge set.
# Termination: a step emits rows only while it REMOVED something (plus
# one NULL sentinel row so an empty-survivor round still registers and
# the max-rnd selection can't fall back to an unstable set); at the
# fixpoint it emits nothing and recursion stops — the last emitted
# round IS the k-core (peel fixpoints are schedule-independent, so the
# edge-survivor form and the operator's node-removal form agree). The
# leg CTEs are MATERIALIZED (the cusum-oracle lesson: inlined legs
# re-evaluate per recursion step). The pytest peeling-reference
# property test still gates the operator; the output threads a
# structural gate (core_degree < K raises at execution time).
# --------------------------------------------------------------------------
_KCORE_K = 3

_KCORE_ORACLE = f"""
WITH RECURSIVE items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a
  JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
peel(u, v, rnd) AS (
  SELECT u, v, 0 FROM edges0
  UNION ALL
  (
    WITH w AS (SELECT u, v FROM peel WHERE u IS NOT NULL),
    deg AS (
      SELECT node, count(*) AS c
      FROM (SELECT u AS node FROM w UNION ALL SELECT v AS node FROM w)
      GROUP BY 1),
    s AS (
      SELECT w.u, w.v FROM w
      JOIN deg du ON du.node = w.u
      JOIN deg dv ON dv.node = w.v
      WHERE du.c >= {_KCORE_K} AND dv.c >= {_KCORE_K}),
    r AS (SELECT max(rnd) AS r FROM peel),
    ch AS (SELECT (SELECT count(*) FROM s) < (SELECT count(*) FROM w)
               AS changed)
    SELECT s.u, s.v, (SELECT r FROM r) + 1
    FROM s WHERE (SELECT changed FROM ch)
    UNION ALL
    SELECT NULL, NULL, (SELECT r FROM r) + 1
    WHERE (SELECT changed FROM ch)
  )
),
core AS (
  SELECT u, v FROM peel
  WHERE rnd = (SELECT max(rnd) FROM peel) AND u IS NOT NULL)
SELECT CAST(node AS BIGINT) AS part, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM core UNION ALL SELECT v AS node FROM core)
GROUP BY 1
"""


@register("copurchase_kcore", oracle=_KCORE_ORACLE)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts in the 3-core of the support-≥2 co-purchase graph with
    their in-core degree."""
    from ..ext.graph import kcore

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    core = kcore(edges, k=_KCORE_K)
    # structural gate: every emitted degree must be >= K (the k-core
    # invariant) — threaded THROUGH the output column
    gated = core.select(
        F.col("node").cast("long").alias("part"),
        F.when(
            F.col("core_degree") < _KCORE_K,
            F.raise_error("copurchase_kcore: degree below K in k-core"),
        )
        .otherwise(F.col("core_degree"))
        .cast("long")
        .alias("core_degree"),
    )
    return gated


# --------------------------------------------------------------------------
# Deterministic train/test split: the md5-hash draw every reproducible
# data pipeline uses — split by md5(id ⊕ salt) mod 100, no RNG, no
# state, identical on any engine and any partitioning (the same portable
# draw ext/curation.py's mixture resampling uses). Output is the split
# summary + exact per-split document/token accounting.
# --------------------------------------------------------------------------
_SPLIT_SALT = "split-v1"
_TEST_PCT = 20


@register(
    "doc_train_test_split",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, n_chars,
             CASE WHEN CAST(('0x' || substr(
                      md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 100 < {_TEST_PCT}
                  THEN 'test' ELSE 'train' END AS split
      FROM documents)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM tagged GROUP BY 1
    """,
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 train/test split by portable md5 draw, with exact per-split
    accounting. (The draw: first 8 hex chars of md5(salt||id) mod 100.)"""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    tagged = docs.withColumn(
        "split", F.when(draw < _TEST_PCT, "test").otherwise("train")
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


# --------------------------------------------------------------------------
# Watermark lateness profile: for each event, its lateness vs the
# maximum event-time seen so far in ARRIVAL order (event_id = arrival
# sequence) — the empirical distribution that justifies a streaming
# watermark setting. Running max is a per-type window ordered by the
# unique arrival key; lateness buckets are exact integer second ranges.
# --------------------------------------------------------------------------
@register(
    "event_lateness_profile",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts,
             max(ts) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS max_seen
      FROM events),
    lat AS (
      SELECT event_type,
             (epoch_us(max_seen) - epoch_us(ts)) // 1000000 AS late_s
      FROM seq),
    b AS (
      SELECT event_type,
             CASE WHEN late_s = 0 THEN 'on-time'
                  WHEN late_s <= 60 THEN '<=1m'
                  WHEN late_s <= 3600 THEN '<=1h'
                  WHEN late_s <= 86400 THEN '<=1d'
                  ELSE '>1d' END AS bucket
      FROM lat)
    SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY 1, 2
    """,
)
def event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness (vs running max in arrival order) bucketed
    per type — the watermark-choice evidence table."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    seq = ev.withColumn("max_seen", F.max("ts").over(w))
    lat = seq.select(
        "event_type",
        F.expr(
            "(unix_micros(CAST(max_seen AS TIMESTAMP)) "
            "- unix_micros(CAST(ts AS TIMESTAMP))) DIV 1000000"
        ).alias("late_s"),
    )
    bucket = (
        F.when(F.col("late_s") == 0, "on-time")
        .when(F.col("late_s") <= 60, "<=1m")
        .when(F.col("late_s") <= 3600, "<=1h")
        .when(F.col("late_s") <= 86400, "<=1d")
        .otherwise(">1d")
    )
    return lat.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# --------------------------------------------------------------------------
# Seasonal decomposition (integer-exact): monthly revenue minus the
# year's monthly mean = the month's seasonal component, in cents. The
# year mean uses scaled-integer half-up division, so every component is
# exact; output at month grain (tiny).
# --------------------------------------------------------------------------
@register(
    "monthly_seasonal_revenue",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
             CAST(extract(month FROM o_orderdate) AS INTEGER) AS mo,
             CAST(sum({_CENTS.format(c='o_totalprice')}) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    yearly AS (
      SELECT yr,
             CAST((sum(cents) * 10000 + count(*) // 2) // count(*) AS BIGINT)
               AS mean_cents_e4
      FROM monthly GROUP BY 1)
    SELECT m.yr, m.mo,
           CAST(m.cents AS DOUBLE) / 100 AS revenue,
           CAST(m.cents * 10000 - y.mean_cents_e4 AS DOUBLE) / 1000000
             AS seasonal_component
    FROM monthly m JOIN yearly y USING (yr)
    """,
)
def monthly_seasonal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue and its deviation from the year's monthly mean
    (exact cents arithmetic)."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    yearly = monthly.groupBy("yr").agg(
        F.expr("(sum(cents) * 10000 + count(1) DIV 2) DIV count(1)")
        .cast("long")
        .alias("mean_cents_e4")
    )
    return monthly.join(yearly, "yr").select(
        "yr",
        "mo",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        (
            (F.col("cents") * 10000 - F.col("mean_cents_e4")).cast("double")
            / 1000000
        ).alias("seasonal_component"),
    )


# --------------------------------------------------------------------------
# Churn labeling: a user is "churned" if their last event falls in the
# first 75% of the corpus time range — exact integer epoch comparison
# against a broadcast boundary, the label-generation shape of every
# retention model's training set.
# --------------------------------------------------------------------------
@register(
    "user_churn_labels",
    oracle="""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
    lastev AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             count(*) AS n_events
      FROM events GROUP BY 1)
    SELECT l.user_id,
           CAST(l.n_events AS BIGINT) AS n_events,
           (l.last_us - b.lo) * 4 < (b.hi - b.lo) * 3 AS churned
    FROM lastev l, b
    """,
)
def user_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user churn label: last activity inside the first 75% of the
    time range (integer-exact boundary)."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))
    lastev = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return lastev.crossJoin(F.broadcast(b)).select(
        "user_id",
        "n_events",
        (
            (F.col("last_us") - F.col("lo")) * 4
            < (F.col("hi") - F.col("lo")) * 3
        ).alias("churned"),
    )


# --------------------------------------------------------------------------
# q — warehouse conformance report (operators.relational.
# conformance_report): the Deequ-style constraint suite over the two
# fact tables, covering all three rule classes — single-pass predicate
# checks (one scan however many rules), key uniqueness (one hash
# shuffle on the pruned key columns), and referential integrity (LEFT
# ANTI joins that broadcast small parents and shuffle big ones; NULL
# child keys are not violations, per SQL FK semantics). n_rows is the
# full table count for every rule so rates are comparable. Rates are
# exact-integer divisions portably rounded — float-safe by
# construction.
# --------------------------------------------------------------------------
def _conformance_oracle() -> str:
    from .bi import PR6

    rules = [
        # (rule, n_rows subquery, n_violations subquery)
        ("o_custkey_not_null", "orders",
         "SELECT count(*) FROM orders WHERE o_custkey IS NULL"),
        ("o_totalprice_non_negative", "orders",
         "SELECT count(*) FROM orders WHERE NOT (o_totalprice >= 0)"),
        ("o_orderstatus_domain", "orders",
         "SELECT count(*) FROM orders WHERE NOT (o_orderstatus IN ('O','F','P'))"),
        ("o_orderpriority_domain", "orders",
         "SELECT count(*) FROM orders WHERE NOT (o_orderpriority IN "
         "('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'))"),
        ("o_orderkey_unique", "orders",
         "SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders"),
        ("o_custkey_fk_customer", "orders",
         "SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND "
         "NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"),
        ("l_discount_unit_interval", "lineitem",
         "SELECT count(*) FROM lineitem WHERE NOT (l_discount BETWEEN 0 AND 1)"),
        ("l_quantity_positive", "lineitem",
         "SELECT count(*) FROM lineitem WHERE NOT (l_quantity > 0)"),
        ("l_order_line_unique", "lineitem",
         "SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) "
         "FROM lineitem WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL"),
        ("l_orderkey_fk_orders", "lineitem",
         "SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND "
         "NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"),
        ("l_partkey_fk_part", "lineitem",
         "SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL AND "
         "NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)"),
        ("l_suppkey_fk_supplier", "lineitem",
         "SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL AND "
         "NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)"),
    ]
    sel = "\n    UNION ALL ".join(
        f"SELECT '{r}' AS rule, (SELECT count(*) FROM {t}) AS n_rows, "
        f"CAST(({v}) AS BIGINT) AS n_violations"
        for r, t, v in rules
    )
    return f"""
    WITH rules AS ({sel})
    SELECT rule, n_rows, n_violations,
           {PR6('n_violations / CAST(n_rows AS DOUBLE)')} AS violation_rate
    FROM rules
    """


@register("warehouse_conformance_report", oracle=_conformance_oracle())
def warehouse_conformance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import conformance_report

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer")
    part = table(spark, sf_dir, "part")
    supplier = table(spark, sf_dir, "supplier")
    o_report = conformance_report(
        orders,
        checks={
            "o_custkey_not_null": F.col("o_custkey").isNotNull(),
            "o_totalprice_non_negative": F.col("o_totalprice") >= 0,
            "o_orderstatus_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "o_orderpriority_domain": F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        },
        unique={"o_orderkey_unique": ["o_orderkey"]},
        fks={"o_custkey_fk_customer": (["o_custkey"], customer, ["c_custkey"])},
    )
    l_report = conformance_report(
        lineitem,
        checks={
            "l_discount_unit_interval": F.col("l_discount").between(0, 1),
            "l_quantity_positive": F.col("l_quantity") > 0,
        },
        unique={"l_order_line_unique": ["l_orderkey", "l_linenumber"]},
        fks={
            "l_orderkey_fk_orders": (["l_orderkey"], orders, ["o_orderkey"]),
            "l_partkey_fk_part": (["l_partkey"], part, ["p_partkey"]),
            "l_suppkey_fk_supplier": (["l_suppkey"], supplier, ["s_suppkey"]),
        },
    )
    return o_report.unionByName(l_report)


# --------------------------------------------------------------------------
# Cumulative distinct users: first-seen date per user (one map-side-
# combinable min per user — the only fact-sized shuffle), then daily new
# counts and a running total over the DAY grain (~10^3 rows for years of
# data — the documented tiny-grain exception where an unpartitioned
# window is the right call). The classic "running distinct count" that
# a naive COUNT(DISTINCT) OVER (ORDER BY day) cannot express scalably.
# --------------------------------------------------------------------------
@register(
    "daily_new_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
      WHERE ts IS NOT NULL GROUP BY user_id),
    daily AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
              FROM firsts GROUP BY day)
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily
    """,
)
def daily_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New users per day (first event date) and the cumulative distinct-
    user curve."""
    # first-seen is defined over TIMESTAMPED events only: an all-null-ts
    # user would otherwise produce a NULL day that the engines sort to
    # opposite ends of the running-total frame (r7 null fuzz)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    daily = firsts.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).cast("long").alias("cum_users")
    )


# --------------------------------------------------------------------------
# Kaplan-Meier customer survival curve: lifetime = first->last order
# days; churned (event) iff the last order is >90 days before the
# dataset's end, else censored. S(t) = prod_{t_i <= t} (1 - d_i/n_i)
# over event times — an order-dependent float product, so both engines
# fold the IDENTICALLY-ORDERED factor list (duration-ascending prefix,
# seed 1.0). Fact-sized work is two map-side-combined aggs; everything
# after lives at the distinct-duration grain (~10^3 rows max — the
# documented tiny-grain window exception), with the factor list riding
# a one-row broadcast.
# --------------------------------------------------------------------------
_KM_CHURN_DAYS = 90

_KM_ORACLE = f"""
WITH per AS (
  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS fd,
         max(CAST(o_orderdate AS DATE)) AS ld
  FROM orders GROUP BY o_custkey),
m AS (SELECT max(CAST(o_orderdate AS DATE)) AS md FROM orders),
cust AS (
  SELECT date_diff('day', fd, ld) AS dur,
         CASE WHEN date_diff('day', ld, md) > {_KM_CHURN_DAYS}
              THEN 1 ELSE 0 END AS ev
  FROM per, m),
risk AS (SELECT dur, count(*) AS n_t, sum(ev) AS d_t FROM cust GROUP BY dur),
r2 AS (
  SELECT dur,
         CAST(sum(n_t) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_risk,
         CAST(d_t AS BIGINT) AS n_events
  FROM risk),
ev AS (SELECT dur, n_risk, n_events FROM r2 WHERE n_events > 0),
fl AS (
  SELECT list(struct_pack(dur := dur,
                          f := 1.0 - CAST(n_events AS DOUBLE) / n_risk)
              ORDER BY dur) AS arr
  FROM ev)
SELECT CAST(dur AS BIGINT) AS t_days, n_risk, n_events,
       {portable_round_sql(
           "list_reduce(list_prepend(1.0, "
           "list_transform(list_filter(arr, x -> x.dur <= dur), x -> x.f)), "
           "(acc, x) -> acc * x)", 6)} AS survival
FROM ev, fl
"""


@register("customer_survival_curve", oracle=_KM_ORACLE)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of customer order-lifetimes (churn = no
    order in the dataset's last 90 days): per event time, the at-risk
    count, churn events, and the product-limit survival estimate."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    per = o.groupBy("o_custkey").agg(
        F.min("d").alias("fd"), F.max("d").alias("ld")
    )
    m = o.agg(F.max("d").alias("md"))
    cust = per.crossJoin(F.broadcast(m)).select(
        F.datediff("ld", "fd").alias("dur"),
        F.when(
            F.datediff("md", "ld") > _KM_CHURN_DAYS, F.lit(1)
        ).otherwise(F.lit(0)).alias("ev"),
    )
    risk = cust.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_t"), F.sum("ev").alias("d_t")
    )
    w = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ev = checkpoint_for_reuse(
        risk.select(
            "dur",
            F.sum("n_t").over(w).cast("long").alias("n_risk"),
            F.col("d_t").cast("long").alias("n_events"),
        ).filter(F.col("n_events") > 0)
    )
    factor = F.lit(1.0) - F.col("n_events").cast("double") / F.col("n_risk")
    fl = ev.agg(
        F.array_sort(F.collect_list(F.struct("dur", factor.alias("f")))).alias(
            "arr"
        )
    )
    surv = F.aggregate(
        F.transform(
            F.filter("arr", lambda x: x.getField("dur") <= F.col("dur")),
            lambda x: x.getField("f"),
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return ev.crossJoin(F.broadcast(fl)).select(
        F.col("dur").cast("long").alias("t_days"),
        "n_risk",
        "n_events",
        portable_round(surv, 6).alias("survival"),
    )


# --------------------------------------------------------------------------
# Weighted price percentiles: the smallest price below which k% of
# shipped QUANTITY falls (weighted median & friends) — via
# operators.relational.weighted_percentiles: distinct-value reduction,
# global_cumsum range-bucketed running weight (no single-task global
# window), integer-exact thresholds cumw*100 >= k*total on cent-scaled
# quantities. The oracle spells the same cumulative rule with a plain
# window — v is unique after the group-by, so its ORDER BY is total.
# --------------------------------------------------------------------------
@register(
    "lineitem_weighted_price_percentiles",
    oracle="""
    WITH g AS (
      SELECT l_extendedprice AS v,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      GROUP BY 1),
    c AS (SELECT v, sum(w) OVER (ORDER BY v) AS cumw FROM g),
    t AS (SELECT sum(w) AS tot FROM g),
    p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
    SELECT p.pct, CAST(min(c.v) AS DOUBLE) AS value
    FROM c CROSS JOIN t CROSS JOIN p
    WHERE c.cumw * 100 >= p.pct * t.tot
    GROUP BY 1
    """,
)
def lineitem_weighted_price_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted price percentiles (25/50/75/90/99)."""
    from ..operators.relational import weighted_percentiles

    li = table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
    )
    out = weighted_percentiles(
        li, "l_extendedprice", "qty_c", [25, 50, 75, 90, 99]
    )
    return out.select("pct", F.col("value").cast("double").alias("value"))


# --------------------------------------------------------------------------
# Grouped weighted median: quantity-weighted median price PER BRAND —
# the group-grain complement of lineitem_weighted_price_percentiles.
# Within a brand the cumulative-weight window is partitioned (sort
# volume = |distinct prices per brand|, never global), so plain windows
# are already the scale-correct plan here; the global form is the one
# that needs global_cumsum. Same integer-exact pick: smallest value
# whose cumulative weight doubles past the brand total.
# --------------------------------------------------------------------------
@register(
    "brand_weighted_median_price",
    oracle="""
    WITH g AS (
      SELECT p.p_brand, l.l_extendedprice AS v,
             sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS w
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_extendedprice IS NOT NULL AND l.l_quantity IS NOT NULL
      GROUP BY 1, 2),
    c AS (
      SELECT p_brand, v,
             sum(w) OVER (PARTITION BY p_brand ORDER BY v) AS cumw,
             sum(w) OVER (PARTITION BY p_brand) AS tot
      FROM g)
    SELECT p_brand,
           CAST(min(CASE WHEN cumw * 2 >= tot THEN v END) AS DOUBLE)
             AS weighted_median_price,
           CAST(count(*) AS BIGINT) AS n_distinct_prices
    FROM c GROUP BY 1
    """,
)
def brand_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per part brand."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(
            F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
        )
        .groupBy("p_brand", F.col("l_extendedprice").alias("v"))
        .agg(F.sum(_cents("l_quantity")).cast("long").alias("w"))
    )
    wc = Window.partitionBy("p_brand").orderBy("v")
    wt = Window.partitionBy("p_brand")
    c = g.select(
        "p_brand",
        "v",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("tot"),
    )
    return c.groupBy("p_brand").agg(
        F.min(F.when(F.col("cumw") * 2 >= F.col("tot"), F.col("v")))
        .cast("double")
        .alias("weighted_median_price"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_prices"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit: the data-forensics census over order
# totals — synthetic or manipulated money columns drift from Benford's
# expected first-digit distribution. Expected permilles are HARDCODED
# integer constants (301 = round(1000*log10(2)) etc.) on both engines —
# no irrational function evaluates at query time, so the deviation
# column is exact integer arithmetic end to end.
# --------------------------------------------------------------------------
_BENFORD_PERMILLE = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58,
                     8: 51, 9: 46}


@register(
    "orders_benford_digits",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS tot FROM c),
    e AS (
      SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
             unnest([{", ".join(str(_BENFORD_PERMILLE[i]) for i in range(1, 10))}])
               AS expected_permille)
    SELECT e.digit,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_orders,
           CAST((coalesce(c.n, 0) * 1000 + t.tot // 2) // t.tot AS BIGINT)
             AS observed_permille,
           e.expected_permille,
           CAST((coalesce(c.n, 0) * 1000 + t.tot // 2) // t.tot
                - e.expected_permille AS BIGINT) AS deviation_permille
    FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
    """,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford's expected
    permilles (exact integer deviations)."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0)
    )
    digit = F.substring(_cents("o_totalprice").cast("string"), 1, 1).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("tot"))
    e = o.sparkSession.createDataFrame(
        sorted(_BENFORD_PERMILLE.items()), "digit INT, expected_permille INT"
    )
    joined = (
        e.join(c, "digit", "left_outer")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
            F.expr(
                "(coalesce(n, 0) * 1000 + tot DIV 2) DIV tot"
            ).cast("long").alias("observed_permille"),
            "expected_permille",
            (
                F.expr("(coalesce(n, 0) * 1000 + tot DIV 2) DIV tot")
                - F.col("expected_permille")
            ).cast("long").alias("deviation_permille"),
        )
    )
    return joined


# --------------------------------------------------------------------------
# q — Holt double-exponential forecast of daily revenue per order
# priority: the trend-aware smoothing EWMA can't express, as a JVM fold
# (operators.temporal.grouped_holt_jvm — one shuffle to priority grain,
# array_sort(collect_list) + F.aggregate, no Python crossing). Series are
# calendar-grain (≤ ~2.4k days/priority regardless of fact size: the
# daily pre-aggregation is the scale knob, same pattern as the
# attribution day-grain rewrite). Revenue folds from exact integer cents;
# the DuckDB oracle replays the identical fold via list_reduce over
# {l,t,sae,n} structs whose first element is the seed.
# --------------------------------------------------------------------------
_HOLT_A, _HOLT_B = 0.3, 0.1


def _holt_oracle() -> str:
    # NOT list_reduce: DuckDB 1.0's list_reduce evaluates struct-literal
    # lambdas with INCONSISTENT cross-field visibility (simultaneous on
    # the first application, in-place-sequential on later ones — probed
    # in tests/test_operators.py::test_duckdb_list_reduce_struct_quirk),
    # which breaks any coupled recurrence like (level, trend). A
    # recursive CTE replays the fold row-by-row with unambiguous
    # semantics and the identical IEEE sequence.
    a, b = _HOLT_A, _HOLT_B
    lvl = f"{a} * CAST(s.cents AS DOUBLE) + {1.0 - a} * (h.l + h.t)"
    p6 = lambda e: portable_round_sql(e, 6)
    # MATERIALIZED: same round-9 fix as _cusum_oracle — without it the
    # recursive step re-runs the scan+agg+window per day of recursion
    # (~20 s warm / 10× cold); identical IEEE arithmetic either way.
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT o_orderpriority AS priority, o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT priority, cents,
             row_number() OVER (PARTITION BY priority ORDER BY day) AS i
      FROM daily),
    nn AS MATERIALIZED (
           SELECT priority, CAST(max(i) AS BIGINT) AS n_days
           FROM seq GROUP BY 1),
    holt AS (
      SELECT priority, i, CAST(cents AS DOUBLE) AS l,
             CAST(0.0 AS DOUBLE) AS t, CAST(0.0 AS DOUBLE) AS sae
      FROM seq WHERE i = 1
      UNION ALL
      SELECT h.priority, h.i + 1,
             {lvl},
             {b} * (({lvl}) - h.l) + {1.0 - b} * h.t,
             h.sae + abs(CAST(s.cents AS DOUBLE) - (h.l + h.t))
      FROM holt h JOIN seq s ON s.priority = h.priority AND s.i = h.i + 1)
    SELECT h.priority AS priority, nn.n_days AS n_days,
           {p6('h.l')} AS level,
           {p6('h.t')} AS trend,
           CASE WHEN nn.n_days > 1
                THEN {p6('h.sae / CAST(nn.n_days - 1 AS DOUBLE)')}
                ELSE NULL END AS mae,
           {p6('h.l + h.t')} AS forecast_1,
           {p6('h.l + 7.0 * h.t')} AS forecast_7
    FROM holt h JOIN nn ON nn.priority = h.priority AND h.i = nn.n_days
    ORDER BY h.priority
    """


@register("priority_revenue_holt", oracle=_holt_oracle())
def priority_revenue_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Holt level/trend over daily revenue cents, with the
    in-sample one-step MAE and 1-/7-day-ahead forecasts."""
    from ..operators.temporal import grouped_holt_jvm

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    h = grouped_holt_jvm(
        daily, "priority", ["day"], "cents", alpha=_HOLT_A, beta=_HOLT_B
    )
    return h.select(
        "priority",
        F.col("n_points").cast("long").alias("n_days"),
        portable_round("level", 6).alias("level"),
        portable_round("trend", 6).alias("trend"),
        # null-guard the single-point group: sae=0 over 0 steps is 0/0 →
        # NaN in Spark but NULL in the SQL twin (round-6 advice); both
        # sides now agree on NULL
        F.when(
            F.col("n_points") > 1,
            portable_round(
                F.col("sae") / (F.col("n_points") - 1).cast("double"), 6
            ),
        ).alias("mae"),
        portable_round(F.col("level") + F.col("trend"), 6).alias("forecast_1"),
        portable_round(
            F.col("level") + F.lit(7.0) * F.col("trend"), 6
        ).alias("forecast_7"),
    )


# --------------------------------------------------------------------------
# q — two-sided CUSUM change detection on daily revenue per priority
# (round 7): completes the sequential-stats family (Holt = forecast,
# Mann-Kendall = monotonic trend, CUSUM = level-shift detection). Same
# day-grain JVM fold shape (operators.temporal.grouped_cusum_jvm); the
# target mean folds from exact integer cents (integer-valued doubles sum
# exactly in ANY aggregation order below 2^53, so the unordered SUM is
# engine-identical); the oracle replays the identical IEEE recurrence as
# a RECURSIVE CTE (never list_reduce — the DuckDB struct-lambda quirk).
# --------------------------------------------------------------------------
def _cusum_oracle() -> str:
    p6 = lambda e: portable_round_sql(e, 6)
    y = "CAST(s.cents AS DOUBLE)"
    sp1 = f"greatest(0.0, {y} - nn.mu)"
    sn1 = f"greatest(0.0, nn.mu - {y})"
    spn = f"greatest(0.0, c.sp + ({y} - nn.mu))"
    snn = f"greatest(0.0, c.sn + (nn.mu - {y}))"
    # MATERIALIZED is load-bearing (round 9): without it DuckDB inlines
    # seq/nn into the recursive step, re-running the parquet scan + agg +
    # window once PER DAY of recursion (~2400×) — 62 s at sf0.01, 43% of
    # the whole DRIVERSIM sweep. Materializing the three leg CTEs makes
    # each step a lookup (4 s) with bit-identical arithmetic (verified:
    # identical fetchall before/after; materialization changes evaluation
    # count, not IEEE ops).
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT o_orderpriority AS priority, o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT priority, day, cents,
             row_number() OVER (PARTITION BY priority ORDER BY day) AS i
      FROM daily),
    nn AS MATERIALIZED (
           SELECT priority, CAST(count(*) AS BIGINT) AS n_days,
                  sum(CAST(cents AS DOUBLE)) / CAST(count(*) AS DOUBLE) AS mu
           FROM seq GROUP BY 1),
    cus AS (
      SELECT s.priority, s.i,
             {sp1} AS sp, {sn1} AS sn,
             {sp1} AS mp, {sn1} AS mn,
             CASE WHEN {sp1} > 0.0 THEN s.day END AS dp,
             CASE WHEN {sn1} > 0.0 THEN s.day END AS dn
      FROM seq s JOIN nn USING (priority) WHERE s.i = 1
      UNION ALL
      SELECT c.priority, c.i + 1,
             {spn}, {snn},
             greatest(c.mp, {spn}), greatest(c.mn, {snn}),
             CASE WHEN {spn} > c.mp THEN s.day ELSE c.dp END,
             CASE WHEN {snn} > c.mn THEN s.day ELSE c.dn END
      FROM cus c
      JOIN seq s ON s.priority = c.priority AND s.i = c.i + 1
      JOIN nn ON nn.priority = c.priority)
    SELECT c.priority AS priority, nn.n_days AS n_days,
           {p6('nn.mu')} AS mu,
           {p6('c.mp')} AS max_pos,
           {p6('c.mn')} AS max_neg,
           c.dp AS peak_pos_at,
           c.dn AS peak_neg_at
    FROM cus c JOIN nn ON nn.priority = c.priority AND c.i = nn.n_days
    ORDER BY c.priority
    """


@register("priority_revenue_cusum", oracle=_cusum_oracle())
def priority_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM of daily revenue cents per priority: running
    max of the positive/negative cumulative deviations from the
    priority's own mean, with the first peak day of each side."""
    from ..operators.temporal import grouped_cusum_jvm

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    c = grouped_cusum_jvm(daily, "priority", ["day"], "cents")
    return c.select(
        "priority",
        F.col("n_points").cast("long").alias("n_days"),
        portable_round("mu", 6).alias("mu"),
        portable_round("max_pos", 6).alias("max_pos"),
        portable_round("max_neg", 6).alias("max_neg"),
        "peak_pos_at",
        "peak_neg_at",
    )


# --------------------------------------------------------------------------
# q — autocorrelation function of daily revenue per priority at lags
# 1..7 (round 7): the serial-dependence diagnostic completing the
# sequential-stats family (Holt forecast / Mann-Kendall trend / CUSUM
# shift / dow seasonality / ACF). Pearson r over the lag-L day pairs
# from EXACT integer moments (the user_value_trend DECIMAL(38)/HUGEINT
# pattern — float regr_*-style accumulations cancel catastrophically
# and diverge per engine): the five sufficient statistics sum exactly,
# the closed form is then a fixed IEEE sequence on identical integers.
# sqrt is IEEE-correctly-rounded (unlike ln/log10), so identical dens →
# identical doubles. Day-grain self-join: |days| × 7 rows per priority,
# calendar-bounded — the same scale knob as Holt/Mann-Kendall.
# --------------------------------------------------------------------------
def _acf_oracle() -> str:
    p6 = lambda e: portable_round_sql(e, 6)
    return f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
      SELECT a.priority, l.lag,
             a.cents AS x, b.cents AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.priority = a.priority
                  AND b.day = a.day + l.lag * INTERVAL 1 DAY),
    s AS (
      SELECT priority, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM pairs GROUP BY 1, 2),
    d AS (
      SELECT priority, lag, n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS num,
             CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
             CAST(n * syy - sy * sy AS DOUBLE) AS dy
      FROM s)
    SELECT priority, CAST(lag AS INTEGER) AS lag, n AS n_pairs,
           CASE WHEN dx > 0 AND dy > 0
                THEN {p6('num / sqrt(dx * dy)')} END AS acf
    FROM d
    """


@register("priority_revenue_acf", oracle=_acf_oracle())
def priority_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of daily revenue cents per priority
    (exact integer moments; NULL when either variance is zero)."""
    daily = checkpoint_for_reuse(
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(
        "priority", "day", F.col("cents").alias("x")
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("priority").alias("bp"),
        F.col("day").alias("bday"),
        F.col("cents").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("bp") == F.col("priority"))
        & (F.col("bday") == F.expr("date_add(day, lag)")),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = pairs.groupBy("priority", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    d = s.select(
        "priority",
        "lag",
        F.col("n").alias("n_pairs"),
        (dec("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("num"),
        (dec("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("dx"),
        (dec("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("dy"),
    )
    ok = (F.col("dx") > 0) & (F.col("dy") > 0)
    return d.select(
        "priority",
        "lag",
        "n_pairs",
        F.when(
            ok,
            portable_round(
                F.col("num") / F.sqrt(F.col("dx") * F.col("dy")), 6
            ),
        ).alias("acf"),
    )


# --------------------------------------------------------------------------
# q — Mann-Kendall trend test on daily revenue per priority: the
# nonparametric is-there-a-monotonic-trend statistic, built ENTIRELY from
# exact integers (S = Σ_{i<j} sign(c_j − c_i) over day-ordered cents; the
# tie-corrected variance n(n-1)(2n+5)/18 − Σ_t t(t-1)(2t+5)/18 is integer
# arithmetic before ONE double division) — the fuzz-proof construction.
# The pair fan-out is day-grain (calendar² per priority, bounded and
# independent of fact size — the same scale knob as the Holt fold);
# Kendall's tau and the normal-approximation z ride along.
# --------------------------------------------------------------------------
def _mk_oracle() -> str:
    p6 = lambda e: portable_round_sql(e, 6)
    z = (
        "CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(CAST(vnum AS DOUBLE) / 18.0) "
        "WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(CAST(vnum AS DOUBLE) / 18.0) "
        "ELSE 0.0 END"
    )
    return f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority, o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2),
    s_stat AS (
      SELECT a.priority,
             CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON b.priority = a.priority AND b.day > a.day
      GROUP BY 1),
    nn AS (SELECT priority, CAST(count(*) AS BIGINT) AS n_days FROM daily
           GROUP BY 1),
    ties AS (
      SELECT priority,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_corr
      FROM (SELECT priority, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY priority, cents) g
      WHERE t > 1 GROUP BY 1),
    v AS (
      SELECT nn.priority, nn.n_days, s_stat.s,
             nn.n_days * (nn.n_days - 1) * (2 * nn.n_days + 5)
               - coalesce(ties.tie_corr, 0) AS vnum
      FROM nn JOIN s_stat ON s_stat.priority = nn.priority
      LEFT JOIN ties ON ties.priority = nn.priority)
    SELECT priority, n_days, s AS s_stat, vnum AS var_num18,
           {p6(z)} AS z_score,
           {p6('CAST(s AS DOUBLE) / (CAST(n_days * (n_days - 1) AS DOUBLE) / 2.0)')}
             AS kendall_tau
    FROM v ORDER BY priority
    """


@register("priority_revenue_trend_test", oracle=_mk_oracle())
def priority_revenue_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall S / tie-corrected z / Kendall tau per priority over
    daily revenue cents."""
    daily = checkpoint_for_reuse(
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    a = daily.select("priority", F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select("priority", F.col("day").alias("db"), F.col("cents").alias("cb"))
    s_stat = (
        a.join(b, "priority")
        .filter(F.col("db") > F.col("da"))
        .groupBy("priority")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    nn = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    ties = (
        daily.groupBy("priority", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("priority")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_corr")
        )
    )
    v = (
        nn.join(s_stat, "priority")
        .join(ties, "priority", "left")
        .select(
            "priority",
            "n_days",
            "s",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.coalesce("tie_corr", F.lit(0).cast("long"))
            ).alias("vnum"),
        )
    )
    sd = F.sqrt(F.col("vnum").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / sd)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    tau = F.col("s").cast("double") / (
        (F.col("n_days") * (F.col("n_days") - 1)).cast("double") / F.lit(2.0)
    )
    return v.select(
        "priority",
        "n_days",
        F.col("s").alias("s_stat"),
        F.col("vnum").alias("var_num18"),
        portable_round(z, 6).alias("z_score"),
        portable_round(tau, 6).alias("kendall_tau"),
    )


# --------------------------------------------------------------------------
# q — Theil-Sen robust slope of daily revenue per priority: the
# median-of-pairwise-slopes estimator that pairs with the Mann-Kendall
# test above (MK answers "is there a monotonic trend?", Theil-Sen answers
# "how steep?", robust to outlier days). Exactness: every slope is ONE
# IEEE division of exact integers (cents delta / day delta), so both
# engines hold the identical multiset of doubles; the median is selected
# explicitly via row_number (avg of the two middle order statistics, a
# 1-2 element mean that is order-insensitive) rather than each engine's
# median() interpolation. Scale: the pair fan-out is day-grain — bounded
# by calendar² per priority (~2.4k days → ~3M pairs), independent of fact
# rows, the same knob as the MK/Holt/ACF family; the median window
# partitions by priority so no single global sort task.
# --------------------------------------------------------------------------
def _theilsen_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS.format(c='o_totalprice')}) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    slopes AS (
      SELECT a.priority,
             CAST(b.cents - a.cents AS DOUBLE)
               / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON b.priority = a.priority AND b.day > a.day),
    ranked AS (
      SELECT priority, slope,
             CAST(row_number() OVER (PARTITION BY priority ORDER BY slope)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      FROM slopes),
    med AS (
      SELECT priority, max(n) AS n_pairs, avg(slope) AS med_slope
      FROM ranked
      WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      GROUP BY 1)
    SELECT priority, n_pairs,
           {portable_round_sql('med_slope', 6)} AS slope_cents_per_day
    FROM med ORDER BY priority
    """


@register("priority_theilsen_slope", oracle=_theilsen_oracle())
def priority_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen median pairwise slope (cents/day) of daily revenue per
    priority — robust trend magnitude, companion to the Mann-Kendall test."""
    daily = checkpoint_for_reuse(
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    # spread the PROBE side before the broadcast self-join: daily is a
    # coalesced ~12k-row agg (1 post-AQE partition), so without this one
    # task would generate all ~14.5M pair rows; with it the fan-out runs
    # on every core and the division is computed inline in parallel.
    # UNCONDITIONAL repartition (round-11): daily is day-grain-bounded
    # (~12k rows at ANY scale factor) and always lands in one post-AQE
    # partition, so repartition_for_compute's df.rdd partition probe —
    # an extra AQE-finalizing action per run — can never decide
    # anything but "spread it"; skip the probe and just spread.
    a = daily.select(
        "priority", F.col("day").alias("da"), F.col("cents").alias("ca")
    ).repartition(spark.sparkContext.defaultParallelism)
    b = daily.select(
        "priority", F.col("day").alias("db"), F.col("cents").alias("cb")
    )

    def pair_slopes(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(F.broadcast(b), "priority")
            .filter(F.col("db") > F.col("da"))
            .select(
                "priority",
                (
                    (F.col("cb") - F.col("ca")).cast("double")
                    / F.datediff("db", "da").cast("double")
                ).alias("slope"),
            )
        )

    slopes = pair_slopes(a, b)
    # the median pass is the scale knob: a row_number window partitioned
    # by priority funnels ~3M slopes/priority through 5 tasks (~17 s at
    # sf0.1); grouped_exact_median's bucketed order-statistic selection
    # sorts only the middle bucket of each group instead
    from ..operators.relational import grouped_exact_median

    # Routing-bounds proxy (round-11): sketching bounds over the full
    # fan-out re-executes the whole 14.5M-pair join just to hash-sample
    # 1/16 of it. Sampling DAYS on both sides first (deterministic
    # xxhash64 — never rand(), SPARK-38388) keeps ~1/16 of the pairs
    # but makes the bounds join itself ~16x smaller. Bounds affect
    # ROUTING only (grouped_exact_median's selection is exact against
    # real ranks), so a day-subsampled slope distribution is a valid
    # proxy; a priority losing every sampled pair would route whole
    # into one bucket — still exact.
    day_keep = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(4)) == 0
    slope_proxy = pair_slopes(a.filter(day_keep("da")), b.filter(day_keep("db")))
    # `a` above is already repartitioned to full parallelism, so every
    # pass of the median over the fan-out runs wide
    med = grouped_exact_median(slopes, "priority", "slope", bounds_src=slope_proxy)
    return med.select(
        "priority",
        F.col("n").alias("n_pairs"),
        portable_round(F.col("median"), 6).alias("slope_cents_per_day"),
    )


# --------------------------------------------------------------------------
# q — two-sample Kolmogorov-Smirnov drift statistic, one-vs-rest per
# priority over order price cents: D = max_x |F_a(x) - F_b(x)|, the
# classic distribution-shift detector (completes the monitoring family:
# CUSUM = mean shift over time, chi² = categorical mix, KS = continuous
# distribution). Exactness: ECDF steps are integer cumulative counts on
# the value grid; D's numerator is an exact integer max of
# |cumA·n_b − cumB·n_a| (DECIMAL(38) cross-multiplication — no per-step
# division), and ks_stat is ONE double division of identical integers.
# Scale: the grid is VALUE-grain (distinct cents × |priorities|), not
# row-grain; the cumulative windows partition by priority (never a
# global single task) and the global ECDF is recovered by SUMMING the
# per-priority cumulatives at each grid point instead of a second
# global window. NULL prices/priorities are excluded by contract on
# both sides (nulls have no place on an ECDF axis, and Spark/DuckDB
# disagree on NULL sort position).
# --------------------------------------------------------------------------
def _ks_oracle() -> str:
    p6 = portable_round_sql
    return f"""
    WITH cnt AS (
      SELECT o_orderpriority AS priority,
             {_CENTS.format(c='o_totalprice')} AS cents,
             CAST(count(*) AS BIGINT) AS k
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
      GROUP BY 1, 2),
    grid AS (
      SELECT p.priority, v.cents
      FROM (SELECT DISTINCT priority FROM cnt) p
      CROSS JOIN (SELECT DISTINCT cents FROM cnt) v),
    cum AS (
      SELECT g.priority, g.cents,
             CAST(sum(coalesce(c.k, 0))
                  OVER (PARTITION BY g.priority ORDER BY g.cents)
                  AS BIGINT) AS cum_a
      FROM grid g LEFT JOIN cnt c
        ON c.priority = g.priority AND c.cents = g.cents),
    tot AS (
      SELECT cents, CAST(sum(cum_a) AS BIGINT) AS cum_g
      FROM cum GROUP BY 1),
    n AS (
      SELECT priority, max(cum_a) AS n_a,
             CAST(sum(max(cum_a)) OVER () AS BIGINT) AS n_tot
      FROM cum GROUP BY priority),
    d AS (
      SELECT cum.priority,
             max(abs(CAST(cum.cum_a AS DECIMAL(38,0)) * (n.n_tot - n.n_a)
                     - CAST(tot.cum_g - cum.cum_a AS DECIMAL(38,0)) * n.n_a))
               AS d_num
      FROM cum
      JOIN tot ON tot.cents = cum.cents
      JOIN n ON n.priority = cum.priority
      GROUP BY 1)
    SELECT d.priority, n.n_a, CAST(n.n_tot - n.n_a AS BIGINT) AS n_b,
           CAST(d.d_num AS BIGINT) AS d_num,
           {p6('CAST(d.d_num AS DOUBLE) / (CAST(n.n_a AS DOUBLE) * CAST(n.n_tot - n.n_a AS DOUBLE))', 9)}
             AS ks_stat
    FROM d JOIN n ON n.priority = d.priority
    ORDER BY 1
    """


@register("order_price_ks_drift", oracle=_ks_oracle())
def order_price_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest two-sample KS statistic on order price cents per
    priority (exact integer ECDF cross-multiplication, one final division)."""
    cnt = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            _cents("o_totalprice").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    cnt = checkpoint_for_reuse(cnt)
    grid = (
        cnt.select("cents")
        .distinct()
        .crossJoin(F.broadcast(cnt.select("priority").distinct()))
    )
    cum = (
        grid.join(cnt, ["priority", "cents"], "left")
        .select(
            "priority",
            "cents",
            F.coalesce("k", F.lit(0).cast("long")).alias("k"),
        )
        .withColumn(
            "cum_a",
            F.sum("k")
            .over(Window.partitionBy("priority").orderBy("cents"))
            .cast("long"),
        )
        .drop("k")
    )
    cum = checkpoint_for_reuse(cum)
    tot = cum.groupBy("cents").agg(F.sum("cum_a").cast("long").alias("cum_g"))
    n = (
        cum.groupBy("priority")
        .agg(F.max("cum_a").alias("n_a"))
        .withColumn(
            "n_tot", F.sum("n_a").over(Window.partitionBy()).cast("long")
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    d = (
        cum.join(tot, "cents")
        .join(F.broadcast(n), "priority")
        .select(
            "priority",
            F.abs(
                dec("cum_a") * (F.col("n_tot") - F.col("n_a"))
                - (dec("cum_g") - dec("cum_a")) * F.col("n_a")
            ).alias("diff"),
        )
        .groupBy("priority")
        .agg(F.max("diff").alias("d_num"))
    )
    return (
        d.join(F.broadcast(n), "priority")
        .select(
            "priority",
            "n_a",
            (F.col("n_tot") - F.col("n_a")).cast("long").alias("n_b"),
            F.col("d_num").cast("long").alias("d_num"),
            portable_round(
                F.col("d_num").cast("double")
                / (
                    F.col("n_a").cast("double")
                    * (F.col("n_tot") - F.col("n_a")).cast("double")
                ),
                9,
            ).alias("ks_stat"),
        )
    )


# --------------------------------------------------------------------------
# q — grouped Spearman rank correlation (quantity vs price per return
# flag): the rank-based complement to grouped_correlation's Pearson —
# robust to the monotone-but-nonlinear relation Pearson understates.
# Exactness: ties take AVERAGE ranks, kept integer by the classic
# doubling trick (r2 = 2·|smaller| + tie_count + 1 = twice the average
# rank), ranks are computed at VALUE GRAIN (a ~50-row window for
# quantities, a |distinct cents| window for prices — never row-grain),
# and rho is assembled from DECIMAL(38)/HUGEINT moments with one sqrt
# of identical doubles. Overflow bound: n·Σ(r2·r2) stays inside 38
# digits up to ~1e8 rows per group; past that, pre-aggregate to a
# (qty, price-bucket) contingency grid first (same rho, bounded grain).
# Scale: two value-grain rank windows + two hash joins back to rows +
# one moment aggregation — all shuffle-partitioned, no global window.
# --------------------------------------------------------------------------
def _spearman_oracle() -> str:
    p6 = portable_round_sql
    rho = (
        "CAST(n * sxy - sx * sy AS DOUBLE) / "
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) "
        "* CAST(n * syy - sy * sy AS DOUBLE))"
    )
    return f"""
    WITH base AS (
      SELECT l_returnflag AS flag, l_quantity AS q,
             {_CENTS.format(c='l_extendedprice')} AS p
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    qg AS (
      SELECT flag, q, CAST(count(*) AS BIGINT) AS c,
             CAST(coalesce(sum(count(*)) OVER (PARTITION BY flag ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM base GROUP BY 1, 2),
    pg AS (
      SELECT flag, p, CAST(count(*) AS BIGINT) AS c,
             CAST(coalesce(sum(count(*)) OVER (PARTITION BY flag ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM base GROUP BY 1, 2),
    rr AS (
      SELECT b.flag,
             CAST(2 * qg.below + qg.c + 1 AS HUGEINT) AS r2x,
             CAST(2 * pg.below + pg.c + 1 AS HUGEINT) AS r2y
      FROM base b
      JOIN qg ON qg.flag = b.flag AND qg.q = b.q
      JOIN pg ON pg.flag = b.flag AND pg.p = b.p),
    m AS (
      SELECT flag, CAST(count(*) AS HUGEINT) AS n,
             sum(r2x) AS sx, sum(r2y) AS sy,
             sum(r2x * r2x) AS sxx, sum(r2y * r2y) AS syy,
             sum(r2x * r2y) AS sxy
      FROM rr GROUP BY 1)
    SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN {p6(rho, 6)} END AS spearman_qty_price
    FROM m ORDER BY 1
    """


@register("flag_spearman_qty_price", oracle=_spearman_oracle())
def flag_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation of quantity vs extended
    price per return flag (exact integer average-rank moments).

    Shape chosen by the 100x smoke: quantity ranks live on a ~50-row
    value grain (broadcast), and every price-side moment is computable
    AT PRICE GRAIN by carrying sum(r2x) into the price groupBy —
    sxy = SUM_p sxp*r2y(p) — so the plan never joins the near-unique
    price-rank table back to 60M fact rows (the naive join-back SMJ
    dominated every earlier variant: 201-764 s; this form is one
    groupBy + one grouped_cumsum over the price grain). The price-grain
    prefix uses grouped_cumsum (bounds-bucketed parallel windows), not
    Window.partitionBy(flag), whose 3 fat tasks are the skew cliff.
    """
    from ..operators.relational import grouped_cumsum

    base = (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").alias("q"),
            _cents("l_extendedprice").alias("p"),
        )
    )
    # quantity grain: ~50 distinct values per flag -> ONE tiny aggregated
    # frame, pinned, feeding the rank window, the broadcast join AND the
    # quantity-side moments (the first cut re-aggregated the 60M-row base
    # for each consumer — two extra fact scans per run; review finding)
    qgrain = checkpoint_for_reuse(
        base.groupBy("flag", "q").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
    )
    wq = (
        Window.partitionBy("flag")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    qg = qgrain.select(
        "flag",
        "q",
        "__c",
        (
            2 * F.coalesce(F.sum("__c").over(wq), F.lit(0).cast("long"))
            + F.col("__c")
            + 1
        ).alias("r2x"),
    )
    rows = base.join(F.broadcast(qg.drop("__c")), ["flag", "q"]).select(
        "flag", "p", "r2x"
    )
    # pinned: pg feeds grouped_cumsum's two reads (bounds sample and
    # bucketed window), and its lineage is the expensive part of the
    # whole query (fact scan + broadcast rank join + groupBy), so
    # recomputing it per pass cost 3.0 → 19.5 s at sf0.01; the pinned
    # block is bounded by the DISTINCT CENTS domain (|prices|·|flags|
    # rows, ~20 MB at sf0.01, plateauing ~100s of MB at any SF), and
    # sessions that run this query at the 100x grain are 8-16g JVMs
    # (bench/fuzz/smoke config).
    pg = checkpoint_for_reuse(
        rows.groupBy("flag", "p").agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("r2x").cast("long").alias("sxp"),
        )
    )
    pgc = grouped_cumsum(pg, "flag", "p", "c", out_col="__cum")
    dec = lambda e: e.cast("decimal(38,0)")
    r2y = 2 * (F.col("__cum") - F.col("c")) + F.col("c") + 1
    mp = (
        pgc.select(
            "flag",
            F.col("c").alias("c"),
            F.col("sxp").alias("sxp"),
            r2y.alias("r2y"),
        )
        .groupBy("flag")
        .agg(
            F.sum("c").cast("decimal(38,0)").alias("n"),
            F.sum(dec(F.col("c")) * F.col("r2y")).alias("sy"),
            F.sum(dec(F.col("c")) * F.col("r2y") * F.col("r2y")).alias("syy"),
            F.sum(dec(F.col("sxp")) * F.col("r2y")).alias("sxy"),
        )
    )
    # quantity-side moments from the same pinned q grain (exact, tiny)
    mq = qg.groupBy("flag").agg(
        F.sum(dec(F.col("__c")) * F.col("r2x")).alias("sx"),
        F.sum(dec(F.col("__c")) * F.col("r2x") * F.col("r2x")).alias("sxx"),
    )
    m = mp.join(F.broadcast(mq), "flag")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    rho = num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double"))
    # Loud overflow gate (round-8 advice): past ~1e8 rows/group the
    # DECIMAL(38,0) moment products overflow — which non-ANSI Spark turns
    # into silent NULLs while the DuckDB oracle's HUGEINT errors loudly.
    # Fail like the oracle instead of diverging silently. The check lives
    # INSIDE the kept n_rows column so pruning can't drop it (the
    # finite_or_raise pattern); past the bound, pre-aggregate to a
    # (qty, price-bucket) contingency grid first (same rho, bounded n).
    n_rows = F.col("n").cast("long")
    return m.select(
        F.col("flag").alias("l_returnflag"),
        F.when(
            n_rows > F.lit(100_000_000),
            F.raise_error(
                "flag_spearman_qty_price: group exceeds the ~1e8-row "
                "decimal(38,0) moment bound — pre-aggregate to a "
                "(qty, price-bucket) contingency grid"
            ),
        )
        .otherwise(n_rows)
        .alias("n_rows"),
        F.when((dx > 0) & (dy > 0), portable_round(rho, 6)).alias(
            "spearman_qty_price"
        ),
    )
