"""BI / market-basket plans: co-purchase lift, RFM segmentation,
ABC (Pareto) classification, interarrival statistics.

The retail-analytics family every warehouse runs daily, each in its
scale shape: basket pairs are bounded per order (C(items,2) with ~4
items/order — never corpus-quadratic), segmentation and classification
run windows over pre-aggregated per-entity tables, and every rounded
rational uses the portable form (functions/rounding.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_fns import epoch_seconds
from ..functions.rounding import portable_round, portable_round_sql
from ..operators.relational import global_cumsum, global_row_number
from ..sources.readers import table
from .registry import register


def PR6(e: str) -> str:
    return portable_round_sql(e, 6)


# --------------------------------------------------------------------------
# Market-basket co-purchase: parts appearing in the same order, ranked
# by lift = P(a,b) / (P(a)·P(b)). The pair fan-out is per-order
# (C(items, 2), ~6 pairs at 4 items/order — linear in orders), the
# per-part support table is broadcast back, and the final ranking is a
# deterministic top-k. The association-rules building block.
# --------------------------------------------------------------------------

# Hot-basket guard bound (mirrors the hot-shingle guard of
# ext/dedup.ngram_jaccard_pairs): a single pathological basket with B
# items fans out C(B,2) pairs — quadratic in the one hot key. Baskets
# above this bound are excluded from PAIR GENERATION (still counted in
# order totals and per-part support), on BOTH engines, so the cap is
# part of the operator's semantics rather than a silent truncation.
MAX_BASKET_ITEMS = 1000
LIFT_TOP_K = 25


def copurchase_lift(
    items: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 3,
    max_basket_items: int | None = MAX_BASKET_ITEMS,
) -> DataFrame:
    """Top ``LIFT_TOP_K`` item pairs by lift over a distinct (order, item) frame.

    Pair fan-out is the per-order self-join (bounded by the basket-size
    guard); support and the order count are broadcast back onto the
    HAVING-filtered pair table, never onto raw pairs.
    """
    n = items.agg(
        F.countDistinct(order_col).cast("double").alias("n_orders")
    )
    supp = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("part_orders"))
    paired = items
    if max_basket_items is not None:
        # basket-size filter as a window over the SAME hash partitioning
        # the pair self-join needs — Catalyst reuses the exchange, so the
        # guard costs no extra shuffle (vs an agg + semi-join formulation)
        from pyspark.sql import Window

        n_items = F.count(F.lit(1)).over(Window.partitionBy(order_col))
        paired = (
            items.withColumn("__n_items", n_items)
            .filter(F.col("__n_items") <= max_basket_items)
            .drop("__n_items")
        )
    a = paired.select(order_col, F.col(item_col).alias("p1"))
    b = paired.select(order_col, F.col(item_col).alias("p2"))
    pairs = (
        a.join(b, order_col)
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("both_orders"))
        .filter(F.col("both_orders") >= min_support)
    )
    sa = supp.select(F.col(item_col).alias("p1"), F.col("part_orders").alias("po1"))
    sb = supp.select(F.col(item_col).alias("p2"), F.col("part_orders").alias("po2"))
    return (
        pairs.join(sa, "p1")
        .join(sb, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "both_orders",
            portable_round(
                F.col("both_orders")
                * F.col("n_orders")
                / (F.col("po1") * F.col("po2").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(LIFT_TOP_K)
    )


@register(
    "part_copurchase_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ok AS (
      SELECT l_orderkey FROM items GROUP BY 1
      HAVING count(*) <= {MAX_BASKET_ITEMS}),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
          FROM lineitem),
    supp AS (
      SELECT l_partkey, count(*) AS part_orders FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS both_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
      GROUP BY 1, 2
      HAVING count(*) >= 3)
    SELECT p1, p2, both_orders,
           {PR6('both_orders * n.n_orders / (sa.part_orders * CAST(sb.part_orders AS DOUBLE))')}
             AS lift
    FROM pairs JOIN supp sa ON sa.l_partkey = p1
               JOIN supp sb ON sb.l_partkey = p2, n
    ORDER BY lift DESC, p1, p2 LIMIT {LIFT_TOP_K}
    """,
)
def part_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by co-purchase lift (support ≥ 3 orders, baskets
    above MAX_BASKET_ITEMS excluded from pair generation on both
    engines — the hot-basket skew guard)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return copurchase_lift(li.distinct())


# --------------------------------------------------------------------------
# RFM segmentation: per-customer recency/frequency/monetary quartiles
# composed into a 3-digit segment code. The fact table reduces to one
# row per customer first; each quartile then comes from
# operators.relational.global_ntile — range-partition + per-partition
# numbering + broadcast offsets — NOT a global Window.orderBy ntile,
# which plans an Exchange SinglePartition and funnels the entire
# customer grain (billions of rows at warehouse scale) through one
# task. global_ntile's quota arithmetic is bit-identical to ntile(4)
# for any N, so the oracle keeps the plain window form.
# --------------------------------------------------------------------------
@register(
    "customer_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM orders GROUP BY 1),
    scored AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary_c DESC, o_custkey) AS m,
             monetary_c
      FROM cust)
    SELECT CAST(r AS INTEGER) || '-' || CAST(f AS INTEGER) || '-'
             || CAST(m AS INTEGER) AS segment,
           count(*) AS n_customers,
           CAST((sum(monetary_c) * 10000 + count(*) // 2) // count(*)
                AS DOUBLE) / 1000000 AS avg_monetary
    FROM scored GROUP BY 1
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer counts per RFM quartile segment (1 = best quartile).

    The three quartile assignments share ONE scalable numbering pass:
    the customer grain is stacked 3-fold (one row per dimension, the
    sort value negated so ascending order = the oracle's DESC), numbered
    once with global_row_number over (dim, value, key) — range-partition
    + broadcast offsets, no single-task sort — and each dimension's
    1..N position is recovered by subtracting its stratum offset
    (dim-1)·N. ntile's exact quota arithmetic (first N%4 tiles one row
    bigger) then reproduces the window form bit-identically, and a
    pivot-style regroup reassembles one row per customer.

    Float-free by construction: monetary is exact integer cents (prices
    have 2 decimals), the quartile ordering keys are exact (timestamp
    seconds, counts, cents), and avg_monetary is scaled-integer half-up
    division — no floating-point aggregate exists for the engines to
    diverge on. (sum(cents)·10⁴ fits int64 up to ~$9e12 per segment;
    swap the final sum to DECIMAL(38,0) past that.)
    """
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_c"
        ),
    )
    # negated sortable doubles: epoch seconds, counts, and cents are all
    # exactly representable, and double negation is exact — so ordering
    # by negv ASC is EXACTLY the oracle's DESC, ties broken by o_custkey.
    stack = cust.select(
        "o_custkey",
        "monetary_c",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("dim"),
                    (-epoch_seconds("last_order")).alias("negv"),
                ),
                F.struct(
                    F.lit(2).alias("dim"),
                    (-F.col("frequency").cast("double")).alias("negv"),
                ),
                F.struct(
                    F.lit(3).alias("dim"),
                    (-F.col("monetary_c").cast("double")).alias("negv"),
                ),
            )
        ).alias("s"),
    ).select("o_custkey", "monetary_c", "s.dim", "s.negv")
    rn = global_row_number(stack, ["dim", "negv", "o_custkey"], id_col="rn")
    n_tab = cust.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    tiled = rn.crossJoin(F.broadcast(n_tab)).withColumn(
        "tile",
        F.expr(
            "CAST(IF(rn - (dim - 1) * __n <= (__n % 4) * (__n DIV 4 + 1), "
            "(rn - (dim - 1) * __n - 1) DIV (__n DIV 4 + 1) + 1, "
            "(__n % 4) + (rn - (dim - 1) * __n - (__n % 4) * (__n DIV 4 + 1) - 1) "
            "DIV (__n DIV 4) + 1) AS INT)"
        ),
    )
    scored = tiled.groupBy("o_custkey").agg(
        F.first("monetary_c").alias("monetary_c"),
        F.max(F.when(F.col("dim") == 1, F.col("tile"))).alias("r"),
        F.max(F.when(F.col("dim") == 2, F.col("tile"))).alias("f"),
        F.max(F.when(F.col("dim") == 3, F.col("tile"))).alias("m"),
    )
    seg = F.concat_ws(
        "-",
        F.col("r").cast("int"),
        F.col("f").cast("int"),
        F.col("m").cast("int"),
    )
    return scored.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.expr(
                "(sum(monetary_c) * 10000 + count(1) DIV 2) DIV count(1)"
            ).cast("double")
            / 1000000
        ).alias("avg_monetary"),
    )


# --------------------------------------------------------------------------
# ABC / Pareto classification: parts ranked by revenue; cumulative
# revenue share classifies A (top 80%), B (next 15%), C (tail). The
# part-grain table is one map-side-combined shuffle off the fact; the
# cumulative sum then comes from operators.relational.global_cumsum
# (range buckets + per-bucket prefix sums + broadcast offsets), NOT a
# global Window.orderBy running sum — that plans an Exchange
# SinglePartition and serializes the part grain through one task.
#
# Float-free by construction: revenue is summed in exact integer cents
# (prices have 2 decimals), and the 80%/95% thresholds compare as
# cum*10 <= total*8 / cum*100 <= total*95 — pure BIGINT on both
# engines, so no summation-order or boundary-rounding divergence is
# possible. (cum*100 stays inside int64 up to ~9e16 total cents,
# i.e. ~$900 trillion of revenue.) The final class_revenue is one IEEE
# division of identical integers.
# --------------------------------------------------------------------------
@register(
    "part_abc_classes",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM lineitem GROUP BY 1),
    c AS (
      SELECT l_partkey, rev_c,
             CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_c,
             CAST(sum(rev_c) OVER () AS BIGINT) AS tot_c
      FROM p)
    SELECT CASE WHEN cum_c * 10 <= tot_c * 8 THEN 'A'
                WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
                ELSE 'C' END AS abc,
           count(*) AS n_parts,
           CAST(sum(rev_c) AS DOUBLE) / 100 AS class_revenue
    FROM c GROUP BY 1
    """,
)
def part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part counts + revenue per ABC (80/15/5) class."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev_c")
    )
    tot = p.agg(F.sum("rev_c").cast("long").alias("tot_c"))
    c = global_cumsum(
        p.withColumn("__negrev", -F.col("rev_c")),
        ["__negrev", "l_partkey"],
        "rev_c",
        out_col="cum_c",
    ).crossJoin(F.broadcast(tot))
    abc = (
        F.when(F.col("cum_c") * 10 <= F.col("tot_c") * 8, "A")
        .when(F.col("cum_c") * 100 <= F.col("tot_c") * 95, "B")
        .otherwise("C")
    )
    return c.groupBy(abc.alias("abc")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.sum("rev_c").cast("double") / 100).alias("class_revenue"),
    )


# --------------------------------------------------------------------------
# Order interarrival statistics: per-customer gaps between consecutive
# orders (lag window at customer grain), profiled per market segment.
# The days arithmetic is exact integer date subtraction on both engines.
# --------------------------------------------------------------------------
@register(
    "order_interarrival_stats",
    oracle=f"""
    WITH gaps AS (
      SELECT o.o_custkey, c.c_mktsegment,
             date_diff('day',
               lag(CAST(o.o_orderdate AS DATE)) OVER
                 (PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey),
               CAST(o.o_orderdate AS DATE)) AS gap_days
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
    SELECT c_mktsegment,
           count(gap_days) AS n_gaps,
           {PR6('avg(CAST(gap_days AS DOUBLE))')} AS avg_gap_days,
           quantile_cont(CAST(gap_days AS DOUBLE), 0.5) AS median_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps GROUP BY 1
    """,
)
def order_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders, profiled per market segment."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn(
            "gap_days",
            F.datediff(
                F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
            ),
        )
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count("gap_days").alias("n_gaps"),
        portable_round(F.avg(F.col("gap_days").cast("double")), 6).alias(
            "avg_gap_days"
        ),
        F.percentile(F.col("gap_days").cast("double"), F.lit(0.5)).alias(
            "median_gap_days"
        ),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


# --------------------------------------------------------------------------
# q — blocked record linkage with FULL edit distance: candidate pairs of
# part names that agree on the blocking key (last token — the noun) and
# sit within Levenshtein distance 3, with each name's part support. The
# classic entity-resolution shape at scale: the O(n²) DP comparison runs
# only WITHIN blocks (names reduce to distinct grain first, blocks are
# bounded by key frequency), never across the corpus — complements the
# edit-1 neighborhood-generation join (fuzzy_pairs_edit1), which trades
# generality for zero pairwise comparisons. Spark's levenshtein() and
# DuckDB's agree exactly (probed incl. non-ASCII).
# --------------------------------------------------------------------------
@register(
    "part_name_levenshtein_pairs",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1),
    blocked AS (
      SELECT name, n_parts, string_split(name, ' ')[-1] AS block
      FROM names)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def part_name_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-noun part-name pairs within edit distance 3."""
    names = (
        table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .withColumn("block", F.substring_index("name", " ", -1))
    )
    a = names.select(
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "block",
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "block",
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("edit_dist") <= 3)
        .select("name_a", "name_b", "edit_dist", "n_parts_a", "n_parts_b")
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood record linkage on part names (SNM, Hernandez &
# Stolfo 1995): sort the name universe once, compare each record only to
# its W successors in sort order. The complementary blocking strategy to
# part_name_levenshtein_pairs' last-token blocking — SNM catches pairs
# whose trailing noun differs (token blocking misses them) while token
# blocking catches pairs far apart alphabetically (SNM misses those);
# production linkage multi-passes both. Scale: global_row_number is the
# range-partition + offsets form (no single-task window); the W-band
# self-join runs bucket-local (rn DIV W, each left row exploded to its
# own and the successor bucket), so the pair fan-out is exactly N×W and
# every join is a hash join on the bucket key. NULL names are excluded
# by contract (no sort position; Spark and DuckDB disagree on NULL
# ordering).
# --------------------------------------------------------------------------
_SNM_WINDOW = 5
_SNM_MAX_DIST = 4


@register(
    "part_sorted_neighborhood_pairs",
    oracle=f"""
    WITH names AS (
      SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part WHERE p_name IS NOT NULL GROUP BY 1),
    r AS (
      SELECT name, n_parts,
             CAST(row_number() OVER (ORDER BY name) AS BIGINT) AS rn
      FROM names)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {_SNM_WINDOW}
    WHERE levenshtein(a.name, b.name) <= {_SNM_MAX_DIST}
    """,
)
def part_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (window W=5) part-name pairs within edit
    distance 4 — the sort-order-blocked linkage pass."""
    names = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").isNotNull())
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    )
    r = global_row_number(names, ["name"], id_col="rn")
    # bucket-local band join: left rows probe their own bucket and the
    # next (a W-successor can live one bucket over), right rows keyed by
    # their bucket — N×2 probe rows, hash join, then the exact band filter
    a = r.select(
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array(
                (F.col("rn") / _SNM_WINDOW).cast("long"),
                (F.col("rn") / _SNM_WINDOW).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    b = r.select(
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("rn").alias("rn_b"),
        (F.col("rn") / _SNM_WINDOW).cast("long").alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("rn_b") - F.col("rn_a") >= 1)
            & (F.col("rn_b") - F.col("rn_a") <= _SNM_WINDOW)
        )
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= _SNM_MAX_DIST)
        .select(
            "name_a",
            "name_b",
            (F.col("rn_b") - F.col("rn_a")).cast("long").alias("gap"),
            "edit_dist",
            "n_parts_a",
            "n_parts_b",
        )
    )


# --------------------------------------------------------------------------
# Association rules (A,B → C) over order baskets at BRAND grain: the
# classic market-basket rule miner (support / confidence / lift),
# completing the basket family above part_copurchase_lift's pair form.
# Brand grain keeps the rule space dense and bounded — the universe is
# |brands|³ ≈ 2.3k antecedent pairs × 23 consequents, and the per-order
# fan-out is C(k,3) with k ≤ min(items, |brands|=25), so the triple
# enumeration cannot blow up with data volume (the same bounded-grain
# argument as the day-grain trend family). Exactness: supports are
# exact BIGINT order counts; confidence and lift are half-up
# scaled-integer divisions in DECIMAL(38)/HUGEINT (lift's numerator
# supp_abc·N·10⁴ exceeds BIGINT at warehouse scale); the top-20 window
# runs over the ≤6.9k-row RULE space (value-grain, never rows).
# NULL brands are excluded (a basket item with unknown brand is not
# evidence for any rule).
# --------------------------------------------------------------------------
_RULES_MIN_SUPP = 5
_RULES_TOP = 20


@register(
    "brand_association_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand IS NOT NULL),
    nn AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
    singles AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS supp FROM items GROUP BY 1),
    -- ab is the shared pre-aggregation row set for pairs AND triples; it
    -- also keeps the join graph LINEAR (items-ab-items): writing triples
    -- as a three-way items self-join hands DuckDB a join tree whose b/c
    -- legs share no equi-edge, and the optimizer picked the 55k x 55k
    -- cross product at sf0.01 (measured: hang >180 s vs 0.8 s here)
    ab AS (
      SELECT a.okey, a.brand AS ba, b.brand AS bb
      FROM items a JOIN items b ON b.okey = a.okey AND b.brand > a.brand),
    pairs AS (
      SELECT ba, bb, CAST(count(*) AS BIGINT) AS supp FROM ab GROUP BY 1, 2),
    triples AS (
      SELECT ab.ba, ab.bb, c.brand AS bc, CAST(count(*) AS BIGINT) AS supp
      FROM ab JOIN items c ON c.okey = ab.okey
        AND c.brand <> ab.ba AND c.brand <> ab.bb
      GROUP BY 1, 2, 3
      HAVING count(*) >= {_RULES_MIN_SUPP}),
    rules AS (
      SELECT t.ba, t.bb, t.bc, t.supp AS supp_abc, p.supp AS supp_ab,
             s.supp AS supp_c, nn.n_orders,
             CAST((CAST(t.supp AS HUGEINT) * 10000 + p.supp // 2) // p.supp
                  AS BIGINT) AS conf_e4,
             CAST((CAST(t.supp AS HUGEINT) * nn.n_orders * 10000
                   + (CAST(p.supp AS HUGEINT) * s.supp) // 2)
                  // (CAST(p.supp AS HUGEINT) * s.supp) AS BIGINT) AS lift_e4
      FROM triples t
      JOIN pairs p ON p.ba = t.ba AND p.bb = t.bb
      JOIN singles s ON s.brand = t.bc
      CROSS JOIN nn)
    SELECT ba AS brand_a, bb AS brand_b, bc AS brand_c,
           supp_abc, supp_ab, supp_c, n_orders, conf_e4, lift_e4,
           CAST(row_number() OVER (ORDER BY lift_e4 DESC, conf_e4 DESC,
                                   ba, bb, bc) AS BIGINT) AS rnk
    FROM rules
    QUALIFY rnk <= {_RULES_TOP}
    """,
)
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 basket rules (brand_a, brand_b -> brand_c) by lift, with
    exact integer supports and scaled-integer confidence/lift."""
    from ..operators.partitioning import checkpoint_for_reuse

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = checkpoint_for_reuse(
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .filter(F.col("p_brand").isNotNull())
        .select(
            F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand")
        )
        .distinct()
    )
    nn = items.agg(
        F.countDistinct("okey").cast("long").alias("n_orders")
    )
    singles = items.groupBy(F.col("brand").alias("bc_s")).agg(
        F.count(F.lit(1)).cast("long").alias("supp_c")
    )
    a = items.select("okey", F.col("brand").alias("ba"))
    b = items.select("okey", F.col("brand").alias("bb"))
    c = items.select("okey", F.col("brand").alias("bc"))
    ab = a.join(b, "okey").filter(F.col("bb") > F.col("ba"))
    pairs = ab.groupBy("ba", "bb").agg(
        F.count(F.lit(1)).cast("long").alias("supp_ab")
    )
    triples = (
        ab.join(c, "okey")
        .filter((F.col("bc") != F.col("ba")) & (F.col("bc") != F.col("bb")))
        .groupBy("ba", "bb", "bc")
        .agg(F.count(F.lit(1)).cast("long").alias("supp_abc"))
        .filter(F.col("supp_abc") >= _RULES_MIN_SUPP)
    )
    rules = (
        triples.join(pairs, ["ba", "bb"])
        .join(
            F.broadcast(singles),
            F.col("bc") == F.col("bc_s"),
        )
        .drop("bc_s")
        .crossJoin(F.broadcast(nn))
        .select(
            "ba",
            "bb",
            "bc",
            "supp_abc",
            "supp_ab",
            "supp_c",
            "n_orders",
            F.expr(
                "CAST((CAST(supp_abc AS DECIMAL(38,0)) * 10000 "
                "+ supp_ab DIV 2) DIV supp_ab AS BIGINT)"
            ).alias("conf_e4"),
            F.expr(
                "CAST((CAST(supp_abc AS DECIMAL(38,0)) * n_orders * 10000 "
                "+ (CAST(supp_ab AS DECIMAL(38,0)) * supp_c) DIV 2) "
                "DIV (CAST(supp_ab AS DECIMAL(38,0)) * supp_c) AS BIGINT)"
            ).alias("lift_e4"),
        )
    )
    w = Window.partitionBy().orderBy(
        F.desc("lift_e4"), F.desc("conf_e4"), "ba", "bb", "bc"
    )
    return (
        rules.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _RULES_TOP)
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("bc").alias("brand_c"),
            "supp_abc",
            "supp_ab",
            "supp_c",
            "n_orders",
            "conf_e4",
            "lift_e4",
            "rnk",
        )
    )
