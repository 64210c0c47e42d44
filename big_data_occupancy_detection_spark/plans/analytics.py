"""Advanced analytics plans: robust statistics, distribution shapes,
frontier/mode/entropy analytics, MERGE upserts, and text relevance.

These widen the SURVEY.md §2.4/§2.8 aggregate surface with the analytic
shapes a curation/BI workload runs daily — each one expressed as the
Spark plan you'd want at 100 TB (broadcast the k-row stat tables back
onto the fact scan, aggregate-then-window on reduced data, never a
driver loop) and each paired with a DuckDB oracle.

Numeric portability: every rounded ratio/average/log-sum uses
``portable_round`` (see functions/rounding.py) so half-ulp boundaries
cannot flip the driver's hash compare; exact-percentile pairing is the
proven ``F.percentile`` ↔ ``quantile_cont`` from
``plans/relational.py:grouped_percentiles_price``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import portable_round, portable_round_sql
from ..operators.partitioning import checkpoint_for_reuse
from ..sources.readers import table
from .registry import register


def PR4(e: str) -> str:
    return portable_round_sql(e, 4)


def PR6(e: str) -> str:
    return portable_round_sql(e, 6)


# --------------------------------------------------------------------------
# Robust outlier detection: per event_type median + MAD, then the
# 3-MAD outlier census. The two stat tables are k rows (k = event types)
# and broadcast back onto the fact scan, so the heavy side only ever
# flows through scans and map-side joins; the percentile reducers hold
# per-TYPE value lists (switch to approx_percentile's mergeable GK
# sketch for unbounded-cardinality value domains at 100 TB — same note
# as operators/relational.py:grouped_percentiles).
# --------------------------------------------------------------------------
@register(
    "event_value_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           {PR6('max(d.med)')} AS med,
           {PR6('max(m.mad)')} AS mad,
           count(*) AS n,
           CAST(sum(CASE WHEN d.absdev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           {PR6('avg(CASE WHEN d.absdev > 3 * m.mad THEN 1.0 ELSE 0.0 END)')}
             AS outlier_rate
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier census per event type (|v-med| > 3·MAD)."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            portable_round(F.max("med"), 6).alias("med"),
            portable_round(F.max("mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("absdev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            portable_round(
                F.avg(F.when(F.col("absdev") > 3 * F.col("mad"), 1.0).otherwise(0.0)),
                6,
            ).alias("outlier_rate"),
        )
    )


# --------------------------------------------------------------------------
# Equi-width histogram: the global (min, max) is a 1-row aggregate
# broadcast-crossed onto the scan; binning is then a pure map and the
# final count shuffles 10 rows. All bound arithmetic is single IEEE ops
# (no summation), so Spark and DuckDB agree bit-for-bit on the bin edges.
# --------------------------------------------------------------------------
@register(
    "order_price_histogram",
    oracle=f"""
    WITH b AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
    SELECT CAST(least(floor((o_totalprice - b.lo) / ((b.hi - b.lo) / 10.0)), 9)
                AS INTEGER) AS bin,
           {PR4('min(b.lo + least(floor((o_totalprice - b.lo) / ((b.hi - b.lo) / 10.0)), 9) * ((b.hi - b.lo) / 10.0))')}
             AS bin_lo,
           count(*) AS n
    FROM orders, b
    GROUP BY 1
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-width histogram of order totals."""
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    b = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    w = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    binned = o.crossJoin(F.broadcast(b)).withColumn(
        "bin",
        F.least(F.floor((F.col("o_totalprice") - F.col("lo")) / w), F.lit(9)).cast(
            "int"
        ),
    )
    return binned.groupBy("bin").agg(
        portable_round(F.min(F.col("lo") + F.col("bin") * w), 4).alias("bin_lo"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Statistical mode per group with a deterministic tie-break: count per
# (user, type) — one map-side-combined shuffle — then a per-user ranking
# window over the ≤k-row count table, never over raw events.
# --------------------------------------------------------------------------
@register(
    "user_modal_event",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type),
    r AS (
      SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rn
      FROM c)
    SELECT user_id, event_type AS modal_event, cnt AS n
    FROM r WHERE rn = 1
    """,
)
def user_modal_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most frequent event type (ties → lexicographic min)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_event"), F.col("cnt").alias("n"))
    )


# --------------------------------------------------------------------------
# Pareto frontier (skyline) on (earlier date, higher price): an order is
# on the frontier iff no strictly-earlier date saw a strictly-higher
# price. The naive formulation is an O(n²) self-join; this one reduces
# to per-date maxima first (one shuffle, |dates| rows), runs the running
# max on that bounded spine (single-task window over ~10³ rows — dates,
# not orders), and broadcasts the prior-max back onto the scan.
# --------------------------------------------------------------------------
@register(
    "orders_pareto_frontier",
    oracle="""
    WITH daymax AS (
      SELECT o_orderdate, max(o_totalprice) AS day_max
      FROM orders GROUP BY o_orderdate),
    prior AS (
      SELECT o_orderdate,
             max(day_max) OVER (ORDER BY o_orderdate
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_max
      FROM daymax)
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o JOIN prior p USING (o_orderdate)
    WHERE p.prior_max IS NULL OR o.o_totalprice > p.prior_max
    """,
)
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders not dominated by any earlier-date, higher-price order."""
    o = table(spark, sf_dir, "orders")
    daymax = o.groupBy("o_orderdate").agg(F.max("o_totalprice").alias("day_max"))
    w = (
        Window.orderBy("o_orderdate")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = daymax.select(
        "o_orderdate", F.max("day_max").over(w).alias("prior_max")
    )
    return (
        o.join(F.broadcast(prior), "o_orderdate")
        .filter(F.col("prior_max").isNull() | (F.col("o_totalprice") > F.col("prior_max")))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Shannon entropy of each user's event-type mix, via H = ln N − Σc·ln c / N
# — two map-side-combined aggregations, no per-row log on the fact table
# (logs run on the (user, type) count table). Portable-rounded: the Σ's
# addend order differs between engines at the last ulp.
# --------------------------------------------------------------------------
@register(
    "user_event_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS cnt
      FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           count(*) AS n_types,
           {PR6('ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt)')} AS entropy
    FROM c GROUP BY user_id
    """,
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats) of the event-type distribution."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    return c.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        portable_round(
            F.log(F.sum("cnt")) - F.sum(F.col("cnt") * F.log("cnt")) / F.sum("cnt"),
            6,
        ).alias("entropy"),
    )


# --------------------------------------------------------------------------
# TF-IDF term relevance: the same portable tokenization as `top_words`
# (lower + [^a-z]+ → space + split), tf/df from two map-side-combined
# counts, idf joined back on the term key, top-3 per document by a
# deterministic (score, term) order. The df table is |vocab| rows; the
# corpus size is a broadcast scalar — both tiny next to the token
# explode, which is linear in corpus bytes and stays executor-side.
# --------------------------------------------------------------------------
@register(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(
               regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(n.n_docs / df.df) AS score
      FROM tf JOIN df USING (term), n),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, {PR6('score')} AS tfidf, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (natural-log idf)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " ")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", portable_round("score", 6).alias("tfidf"), "rnk")
    )


# --------------------------------------------------------------------------
# Bigram language-model scoring: the KenLM-perplexity quality proxy used
# to filter web corpora (CCNet/Gopher-style), shrunk to an add-one
# bigram LM trained on the corpus itself. Three map-side-combined counts
# (bigram, bigram-prefix, vocab scalar), one hash join of the doc-bigram
# stream against the bigram table (NOT broadcast — vocab² is unbounded),
# one agg back to doc grain. Everything after tokenization is counts and
# one ln per distinct bigram row — no per-token Python anywhere.
# --------------------------------------------------------------------------
_BIGRAM_DOC_ORACLE = f"""
    WITH clean AS (
      SELECT doc_id,
             list_filter(string_split_regex(
               regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
               t -> t <> '') AS ts
      FROM documents),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
             unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
      FROM clean WHERE len(ts) >= 2),
    bstats AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    fstats AS (SELECT w1, CAST(sum(cb) AS DOUBLE) AS cf FROM bstats GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v
          FROM (SELECT unnest(ts) AS t FROM clean WHERE len(ts) >= 2)),
    scored AS (
      SELECT b.doc_id, ln((s.cb + 1.0) / (f.cf + v.v)) AS lp
      FROM big b JOIN bstats s USING (w1, w2) JOIN fstats f USING (w1), v)
    SELECT doc_id, count(*) AS n_bigrams,
           {PR6('avg(lp)')} AS avg_logprob
    FROM scored GROUP BY doc_id
    """


@register("doc_bigram_logprob", oracle=_BIGRAM_DOC_ORACLE)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under an add-one-smoothed
    bigram LM fit on the corpus (p(w2|w1) = (c₁₂+1)/(c₁+V)) — low
    scores flag boilerplate/gibberish, the perplexity-filter shape.

    Physical shape (measured 3.7x over the round-3 expression fold on
    the 100x text smoke, PERF.md): tokens are hashed to int64 ids in an
    Arrow-batched numpy fold (ext/text_vec.py — token strings never
    leave the Python worker, so every group/join below runs on longs),
    the occurrence stream and the fitted bigram table are each
    materialized ONCE (they both feed multiple consumers), the per-pair
    log-probability is computed once per DISTINCT bigram in the tiny LM
    table rather than once per occurrence, and the serve join picks
    broadcast vs shuffle from the LM table's ACTUAL row count — the
    vocab² table is unbounded at corpus scale, so this must not be an
    unconditional broadcast. Output exposes only counts/averages, so it
    is hash-independent; parity vs the pure-Catalyst twin is pinned in
    tests/test_text_vec.py."""
    from ..ext.text_vec import hashed_bigram_pairs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    big = checkpoint_for_reuse(hashed_bigram_pairs(docs))
    bstats = checkpoint_for_reuse(
        big.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("cb"))
    )
    fstats = bstats.groupBy("h1").agg(F.sum("cb").cast("double").alias("cf"))
    # vocab from the DISTINCT-bigram table (h1 covers every token but
    # each doc's last, h2 every token but the first — union is exactly
    # the token set of the len>=2 docs), never the occurrence stream
    v = (
        bstats.select(F.col("h1").alias("t"))
        .union(bstats.select(F.col("h2").alias("t")))
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    lm = (
        bstats.join(fstats, "h1")
        .crossJoin(F.broadcast(v))
        .select(
            "h1",
            "h2",
            F.log((F.col("cb") + 1.0) / (F.col("cf") + F.col("v"))).alias("lp"),
        )
    )
    # serve-join dispatch on the fitted model's real size (count on a
    # checkpointed frame is free): ~24 B/row → 2M rows ≈ 50 MB broadcast
    if bstats.count() <= 2_000_000:
        lm = F.broadcast(lm)
    scored = big.join(lm, ["h1", "h2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        portable_round(F.avg("lp"), 6).alias("avg_logprob"),
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity buckets: split the corpus into head/middle/tail
# thirds by LM score (Wenzek et al. 2020 keep the head+middle, drop the
# tail). Tiling uses the scale-safe global_ntile (range partition +
# broadcast offsets), never a single-task Window.orderBy; the order key
# is the 6-decimal-rounded score + doc_id, a total order both engines
# reproduce exactly, so DuckDB's ntile (same first-N%k-get-one-extra
# quota arithmetic) lands every doc in the same bucket.
# --------------------------------------------------------------------------
@register(
    "doc_perplexity_buckets",
    oracle=f"""
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           max(avg_logprob) AS max_logprob,
           min(avg_logprob) AS min_logprob
    FROM (SELECT doc_id, n_bigrams, avg_logprob,
                 ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS bucket
          FROM ({_BIGRAM_DOC_ORACLE}))
    GROUP BY bucket
    """,
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail perplexity tertiles of the corpus under the
    add-one bigram LM (bucket 1 = best-scored head): per-bucket doc and
    bigram counts plus the score range — the CCNet quality-split report
    that decides which thirds feed training."""
    from ..operators.relational import global_ntile

    scores = doc_bigram_logprob(spark, sf_dir)
    tiled = global_ntile(
        scores,
        [F.col("avg_logprob").desc(), F.col("doc_id").asc()],
        3,
        out_col="bucket",
    )
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.max("avg_logprob").alias("max_logprob"),
        F.min("avg_logprob").alias("min_logprob"),
    )


# --------------------------------------------------------------------------
# Weekday seasonality index: daily counts (one shuffle on ~10³ distinct
# days), then the 7-row day-of-week profile vs the all-days baseline — a
# classic seasonal-baseline feature for anomaly detection. The baseline
# scalar comes from an unpartitioned window over the 7-row table.
# --------------------------------------------------------------------------
@register(
    "weekday_seasonality",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_day
      FROM events GROUP BY 1),
    dowagg AS (
      SELECT CAST(isodow(day) AS INTEGER) AS dow,
             count(*) AS n_days,
             {PR6('avg(CAST(n_day AS DOUBLE))')} AS avg_daily
      FROM daily GROUP BY 1)
    SELECT dow, n_days, avg_daily,
           {PR6('avg_daily / (sum(avg_daily * n_days) OVER () / sum(n_days) OVER ())')}
             AS seasonal_index
    FROM dowagg
    """,
)
def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average daily event volume per ISO weekday and its ratio to the
    day-weighted overall mean (seasonal index)."""
    from ..functions.datetime_fns import dow_monday

    ev = table(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_day")
    )
    dowagg = daily.groupBy(dow_monday("day").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        portable_round(F.avg(F.col("n_day").cast("double")), 6).alias("avg_daily"),
    )
    w = Window.partitionBy()
    overall = F.sum(F.col("avg_daily") * F.col("n_days")).over(w) / F.sum(
        "n_days"
    ).over(w)
    return dowagg.select(
        "dow",
        "n_days",
        "avg_daily",
        portable_round(F.col("avg_daily") / overall, 6).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# MERGE INTO (upsert/delete/insert) applied as one full-outer join on the
# key — the batch formulation of what Delta/Iceberg MERGE compiles to.
# The delta here is deterministic (derived from the base by key residue):
# %97==0 → price update, %97==1 → delete, and an insert stream with
# fresh negative keys. At scale both sides shuffle once on the key (or
# zero times if the base is bucketed by key — sources/sinks.py).
# --------------------------------------------------------------------------
@register(
    "orders_merge_upsert",
    oracle="""
    WITH delta AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS price, 'U' AS op
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey, 0.0, 'D' FROM orders WHERE o_orderkey % 97 = 1
      UNION ALL
      SELECT -o_orderkey,
             (floor(CAST((o_totalprice / 2) AS DOUBLE) * 100.0 + 0.5) / 100.0),
             'I'
      FROM orders WHERE o_orderkey % 97 = 2)
    SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN d.op IN ('U', 'I') THEN d.price
                ELSE b.o_totalprice END AS o_totalprice,
           CASE WHEN d.op IS NULL THEN 'base'
                WHEN d.op = 'U' THEN 'updated'
                ELSE 'inserted' END AS src
    FROM orders b FULL OUTER JOIN delta d USING (o_orderkey)
    WHERE d.op IS DISTINCT FROM 'D'
    """,
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics (update/delete/insert) via one full-outer join."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    delta = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 100.0).alias("price"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 1).select(
                "o_orderkey", F.lit(0.0).alias("price"), F.lit("D").alias("op")
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 2).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                # halves of 2-decimal prices sit ON the .xx5 boundary, so
                # native round() diverges between engines — portable form
                portable_round(F.col("o_totalprice") / 2, 2).alias("price"),
                F.lit("I").alias("op"),
            )
        )
    )
    merged = o.alias("b").join(
        delta.alias("d"), on="o_orderkey", how="full_outer"
    )
    return merged.filter(
        ~F.col("d.op").eqNullSafe(F.lit("D"))
    ).select(
        F.col("o_orderkey"),
        F.when(F.col("d.op").isin("U", "I"), F.col("d.price"))
        .otherwise(F.col("b.o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("d.op").isNull(), "base")
        .when(F.col("d.op") == "U", "updated")
        .otherwise("inserted")
        .alias("src"),
    )


# --------------------------------------------------------------------------
# Gini concentration of (non-negative) customer balances per nation via
# the rank formula G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n: one shuffle to
# rank within nation, one agg. Only the final bounded ratio is rounded.
# --------------------------------------------------------------------------
@register(
    "nation_balance_gini",
    oracle=f"""
    WITH r AS (
      SELECT c_nationkey, greatest(c_acctbal, 0.0) AS bal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY greatest(c_acctbal, 0.0), c_custkey)
               AS rn
      FROM customer)
    SELECT c_nationkey,
           count(*) AS n_customers,
           {PR4('sum(bal)')} AS total_bal,
           {PR6('2.0 * sum(rn * bal) / (count(*) * sum(bal)) - (count(*) + 1.0) / count(*)')}
             AS gini
    FROM r GROUP BY c_nationkey
    """,
)
def nation_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of clamped-at-zero account balances per nation."""
    c = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", F.greatest("c_acctbal", F.lit(0.0)).alias("bal")
    )
    w = Window.partitionBy("c_nationkey").orderBy("bal", "c_custkey")
    r = c.withColumn("rn", F.row_number().over(w))
    n = F.count(F.lit(1))
    return r.groupBy("c_nationkey").agg(
        n.alias("n_customers"),
        portable_round(F.sum("bal"), 4).alias("total_bal"),
        portable_round(
            2.0 * F.sum(F.col("rn") * F.col("bal")) / (n * F.sum("bal"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# ANALYZE-style table stats in ONE scan: per-column null count, distinct
# count, min/max — the CBO statistics-collection pass. All columns'
# aggregates run in a single aggregate node over a single pass (no
# per-column scans), then unpivot to the (column, stat...) long form.
# At 100 TB swap count(DISTINCT) for approx_count_distinct (HLL,
# contract verified by `approx_distinct_users`); exact here so the
# oracle can hash-match.
# --------------------------------------------------------------------------
@register(
    "analyze_orders_stats",
    oracle="""
    WITH a AS (
      SELECT count(*) AS n,
             count(o_custkey) AS nn_cust, count(DISTINCT o_custkey) AS nd_cust,
             CAST(min(o_custkey) AS DOUBLE) AS mn_cust,
             CAST(max(o_custkey) AS DOUBLE) AS mx_cust,
             count(o_totalprice) AS nn_price, count(DISTINCT o_totalprice) AS nd_price,
             round(min(o_totalprice), 4) AS mn_price,
             round(max(o_totalprice), 4) AS mx_price,
             count(o_orderstatus) AS nn_status, count(DISTINCT o_orderstatus) AS nd_status
      FROM orders)
    SELECT 'o_custkey' AS col, n, n - nn_cust AS n_nulls, nd_cust AS n_distinct,
           mn_cust AS min_val, mx_cust AS max_val FROM a
    UNION ALL
    SELECT 'o_totalprice', n, n - nn_price, nd_price, mn_price, mx_price FROM a
    UNION ALL
    SELECT 'o_orderstatus', n, n - nn_status, nd_status, NULL, NULL FROM a
    """,
)
def analyze_orders_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column statistics (ANALYZE TABLE shape) for orders."""
    o = table(spark, sf_dir, "orders")
    a = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("double").alias("mn_cust"),
        F.max("o_custkey").cast("double").alias("mx_cust"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.round(F.min("o_totalprice"), 4).alias("mn_price"),
        F.round(F.max("o_totalprice"), 4).alias("mx_price"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
    )
    null_d = F.lit(None).cast("double")

    def row(col, nn, nd, mn, mx):
        return a.select(
            F.lit(col).alias("col"),
            F.col("n"),
            (F.col("n") - F.col(nn)).alias("n_nulls"),
            F.col(nd).alias("n_distinct"),
            (F.col(mn) if mn else null_d).alias("min_val"),
            (F.col(mx) if mx else null_d).alias("max_val"),
        )

    return (
        row("o_custkey", "nn_cust", "nd_cust", "mn_cust", "mx_cust")
        .unionByName(row("o_totalprice", "nn_price", "nd_price", "mn_price", "mx_price"))
        .unionByName(row("o_orderstatus", "nn_status", "nd_status", None, None))
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4.1 WITH RECURSIVE): every customer key walks a
# deterministic halving chain to the root, and the query returns the
# chain-depth histogram. The SAME SQL text runs on Spark and DuckDB —
# the recursion depth is log₂(max key), so the iterative executor does
# O(log n) distributed rounds (the same bound as star-contraction
# connected components; the iterative DataFrame twin is
# ext/dedup.py:connected_components).
# --------------------------------------------------------------------------
_CHAIN_SQL = """
WITH RECURSIVE walk(node, depth) AS (
  SELECT c_custkey, 0 FROM {cust}
  UNION ALL
  SELECT CAST(floor(node / 2.0) AS BIGINT), depth + 1
  FROM walk WHERE node > 1)
SELECT depth AS depth_to_root, count(*) AS n_customers
FROM walk WHERE node = 1
GROUP BY depth
"""


@register(
    "customer_chain_depths_sql",
    oracle=_CHAIN_SQL.format(cust="customer"),
)
def customer_chain_depths_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth histogram of the halving chain c → ⌊c/2⌋ → … → 1, computed
    with a native recursive CTE (identical SQL text as the oracle)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("__cust_rec")
    return spark.sql(_CHAIN_SQL.format(cust="__cust_rec"))


# --------------------------------------------------------------------------
# Incremental aggregate refresh (continuous-aggregate maintenance): the
# stored hourly partials absorb a delta batch by UNION + re-aggregate —
# mergeable partials (count/sum/min/max) make the refresh cost
# |delta| + |touched buckets|, never a fact rescan. Here the split is
# derived in-query (last 7 days = the delta) so the ORACLE can verify
# the strongest property directly: the incrementally maintained rollup
# hash-equals the full recompute (`events_time_rollup`'s shape).
# --------------------------------------------------------------------------
@register(
    "incremental_time_rollup",
    oracle=f"""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS bucket_ts,
             count(*) AS n_events, sum(value) AS s,
             min(value) AS mn, max(value) AS mx
      FROM events WHERE ts IS NOT NULL GROUP BY 1)
    SELECT bucket_ts, n_events,
           {PR4('s')} AS sum_value,
           round(mn, 4) AS min_value,
           round(mx, 4) AS max_value
    FROM h
    """,
)
def incremental_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup maintained incrementally: partials of the base
    (ts < max(ts) − 7 days) merged with partials of the delta batch;
    must equal the single-pass rollup (which IS the oracle).

    Null-ts contract (r7 null fuzz): a timestampless event belongs to
    no bucket — and it would silently fail BOTH split predicates here
    (dropped) while SQL date_trunc buckets it into a NULL row; excluded
    identically on both sides."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("ts", "value")
    )
    split = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("split_ts")
    )
    tagged = ev.crossJoin(F.broadcast(split))

    def hourly(src: DataFrame) -> DataFrame:
        return src.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base_aggs = hourly(tagged.filter(F.col("ts") < F.col("split_ts")))
    delta_aggs = hourly(tagged.filter(F.col("ts") >= F.col("split_ts")))
    merged = (
        base_aggs.unionByName(delta_aggs)
        .groupBy("bucket_ts")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "bucket_ts",
        "n_events",
        portable_round(F.col("s"), 4).alias("sum_value"),
        F.round("mn", 4).alias("min_value"),
        F.round("mx", 4).alias("max_value"),
    )


# --------------------------------------------------------------------------
# Approx-percentile rank contract: percentile_approx is the mergeable
# Greenwald-Khanna path for unbounded-cardinality columns at 100 TB
# (exact percentile holds group values on the reducer). GK's guarantee
# is on RANK, not value, so — like `approx_distinct_users` for HLL —
# the oracle verifies the portable contract: exact group counts plus a
# boolean that the approx median's true rank sits within the accuracy
# envelope. One extra conditional-sum pass against the broadcast
# estimate computes the rank without sorting anything.
# --------------------------------------------------------------------------
@register(
    "approx_median_rank_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, true AS rank_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_median_rank_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx(0.5) verified by rank: |rank(est)/n − 0.5|
    must be within the GK accuracy envelope (1/accuracy, plus one rank
    for discreteness)."""
    accuracy = 10_000
    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    q = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, accuracy).alias("amed")
    )
    j = o.join(F.broadcast(q), "o_orderpriority")
    n = F.count(F.lit(1))
    rank_le = F.sum(
        F.when(F.col("o_totalprice") <= F.col("amed"), 1).otherwise(0)
    )
    envelope = F.lit(1.0 / accuracy) + F.lit(1.0) / n
    return j.groupBy("o_orderpriority").agg(
        n.alias("n"),
        (
            F.abs(rank_le.cast("double") / n - F.lit(0.5)) <= envelope
        ).alias("rank_ok"),
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly flags: daily volume vs the trailing-7-day
# mean/stddev. The heavy side reduces to the date spine first (one
# shuffle, |days| rows); the trailing window runs on that bounded spine
# — same single-task-on-the-spine note as `orders_pareto_frontier`.
# sd=0 and warmup windows yield NULL z on both engines (guarded CASE).
# --------------------------------------------------------------------------
@register(
    "daily_volume_zscore",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    win AS (
      SELECT day, n,
             avg(CAST(n AS DOUBLE)) OVER w AS m7,
             stddev_samp(CAST(n AS DOUBLE)) OVER w AS s7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT day, n,
           CASE WHEN s7 > 0 THEN round((n - m7) / s7, 6) END AS z,
           CASE WHEN s7 > 0 THEN abs((n - m7) / s7) > 2 ELSE FALSE END
             AS is_anomaly
    FROM win
    """,
)
def daily_volume_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volume with trailing-7-day z-score anomaly flags."""
    # null-ts events have no day; a NULL day row would also sort
    # differently into the trailing frame per engine (r7 null fuzz)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("ts")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    nn = F.col("n").cast("double")
    win = daily.select(
        "day",
        "n",
        F.avg(nn).over(w).alias("m7"),
        F.stddev_samp(nn).over(w).alias("s7"),
    )
    z = (F.col("n") - F.col("m7")) / F.col("s7")
    return win.select(
        "day",
        "n",
        F.when(F.col("s7") > 0, F.round(z, 6)).alias("z"),
        F.when(F.col("s7") > 0, F.abs(z) > 2).otherwise(F.lit(False)).alias(
            "is_anomaly"
        ),
    )


# --------------------------------------------------------------------------
# Last-touch attribution: each purchase credits the user's most recent
# non-purchase event within 3 days. One shuffle (per-user window with an
# ignore-nulls running last), then a tiny channel rollup — the windowed
# formulation of the as-of join (`operators/temporal.py:asof_join`).
# --------------------------------------------------------------------------
@register(
    "attribution_last_touch",
    oracle=f"""
    WITH touched AS (
      SELECT event_type, ts,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER w AS touch,
             last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS) OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (
      SELECT CASE WHEN touch_ts >= ts - INTERVAL 3 DAY THEN touch
                  ELSE 'none' END AS touch_channel
      FROM touched WHERE event_type = 'purchase')
    SELECT touch_channel, count(*) AS n,
           {PR6('count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)')} AS share
    FROM p GROUP BY touch_channel
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases credited to the last non-purchase touch within 3 days."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    np_type = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    np_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    touched = ev.select(
        "event_type",
        "ts",
        F.last(np_type, ignorenulls=True).over(w).alias("touch"),
        F.last(np_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    p = touched.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 3 DAY"),
            F.col("touch"),
        )
        .otherwise("none")
        .alias("touch_channel")
    )
    counts = p.groupBy("touch_channel").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "touch_channel",
        "n",
        portable_round(
            F.col("n") / F.sum("n").over(Window.partitionBy()).cast("double"), 6
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# Chi-square independence test of event_type × ISO weekday: the
# contingency table is one map-side-combined shuffle; margins/expected/
# statistic all run on the ≤(types·7)-row table via windows.
# --------------------------------------------------------------------------
@register(
    "event_type_chi2",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(isodow(ts) AS INTEGER) AS dow,
             CAST(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT o,
             sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY dow) AS ct,
             sum(o) OVER () AS tot
      FROM c)
    SELECT {PR6('sum((o - rt * ct / tot) * (o - rt * ct / tot) / (rt * ct / tot))')}
             AS chi2,
           CAST((count(DISTINCT rt) - 1) * (count(DISTINCT ct) - 1) AS BIGINT)
             AS dof_upper
    FROM m
    """,
)
def event_type_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for event-type / weekday independence."""
    from ..functions.datetime_fns import dow_monday

    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    c = ev.groupBy(
        "event_type", dow_monday("ts").cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    m = c.select(
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("tot"),
    )
    e = F.col("rt") * F.col("ct") / F.col("tot")
    return m.agg(
        portable_round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2"
        ),
        (
            (F.countDistinct("rt") - 1) * (F.countDistinct("ct") - 1)
        ).cast("long").alias("dof_upper"),
    )


# --------------------------------------------------------------------------
# PMI co-occurrence over the top-100 vocabulary: candidate pairs come
# from a per-doc self-join AFTER the semi-join against the broadcast
# top-100 list, so the pair space is capped at C(100,2) regardless of
# corpus size — the vocabulary cap is the scale guard.
# --------------------------------------------------------------------------
@register(
    "pmi_top_cooccurrence",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(
               regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
               t -> t <> '')) AS term
      FROM documents),
    top100 AS (
      SELECT term, count(*) AS df FROM toks GROUP BY term
      ORDER BY df DESC, term LIMIT 100),
    t2 AS (SELECT toks.doc_id, toks.term, top100.df
           FROM toks JOIN top100 USING (term)),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    pairs AS (
      SELECT a.term AS w1, b.term AS w2, a.df AS df1, b.df AS df2,
             count(*) AS c_xy
      FROM t2 a JOIN t2 b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2, 3, 4)
    SELECT w1, w2, c_xy,
           {PR6('ln(c_xy * n.n_docs / (df1 * CAST(df2 AS DOUBLE)))')} AS pmi
    FROM pairs, n
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def pmi_top_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI pairs among the 100 most document-frequent terms."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(
                        F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "
                    ),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
        .distinct()
    )
    top100 = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(100)
    )
    t2 = toks.join(F.broadcast(top100), "term")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    a = t2.select("doc_id", F.col("term").alias("w1"), F.col("df").alias("df1"))
    b = t2.select("doc_id", F.col("term").alias("w2"), F.col("df").alias("df2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2", "df1", "df2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_xy",
            portable_round(
                F.log(
                    F.col("c_xy")
                    * F.col("n_docs")
                    / (F.col("df1") * F.col("df2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation of daily revenue: aggregate to the date spine
# (one shuffle), lag on the bounded spine, one corr aggregate. Native
# round on the sqrt-based corr, matching `grouped_correlation`.
# --------------------------------------------------------------------------
@register(
    "orders_daily_autocorr",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day, sum(o_totalprice) AS rev
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT rev, lag(rev) OVER (ORDER BY day) AS prev FROM daily)
    SELECT round(corr(rev, prev), 6) AS autocorr_lag1,
           CAST(count(prev) AS BIGINT) AS n_pairs
    FROM lagged
    """,
)
def orders_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Pearson autocorrelation of the daily revenue series."""
    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    lagged = daily.select(
        "rev", F.lag("rev").over(Window.orderBy("day")).alias("prev")
    )
    return lagged.agg(
        F.round(F.corr("rev", "prev"), 6).alias("autocorr_lag1"),
        F.count("prev").alias("n_pairs"),
    )


# --------------------------------------------------------------------------
# Winsorized mean: clamp at the exact per-group [p05, p95] before
# averaging — the robust-mean used to de-weight outliers in quality
# scoring. The 5-row quantile table broadcasts back onto the scan.
# --------------------------------------------------------------------------
@register(
    "winsorized_price_stats",
    oracle=f"""
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderpriority,
           count(*) AS n,
           {PR6('max(q.p05)')} AS p05,
           {PR6('max(q.p95)')} AS p95,
           {PR4('avg(o.o_totalprice)')} AS raw_mean,
           {PR4('avg(least(greatest(o.o_totalprice, q.p05), q.p95))')}
             AS winsorized_mean
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw vs 5%-winsorized mean order price per priority."""
    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    q = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            portable_round(F.max("p05"), 6).alias("p05"),
            portable_round(F.max("p95"), 6).alias("p95"),
            portable_round(F.avg("o_totalprice"), 4).alias("raw_mean"),
            portable_round(
                F.avg(
                    F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
                ),
                4,
            ).alias("winsorized_mean"),
        )
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction: phrases are maximal token runs between
# stopwords; word score = degree/freq where degree sums the lengths of
# every phrase instance containing the word; phrase score sums its
# words' scores. Everything upstream of the final display division is
# INTEGER (occurrence counts, phrase lengths, scaled half-up ratios),
# so the ranking cannot float-diverge. Scale shape: phrase explode is
# output-linear in tokens; the word-stats table is |vocab| rows joined
# back by hashable word keys; top-k is a deterministic global limit.
# Stopword removal uses one global regexp_replace to a '|' separator on
# both engines — identical pattern, no split-adjacency ambiguity.
# --------------------------------------------------------------------------
_RAKE_STOPS = "the|a|of|and|to|in"


@register(
    "doc_rake_keywords",
    oracle=rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
               '\b({_RAKE_STOPS})\b', '|', 'g') AS t
      FROM documents),
    phr AS (
      SELECT doc_id, trim(p) AS phrase
      FROM norm, unnest(string_split(t, '|')) AS u(p)
      WHERE trim(p) <> ''),
    pw AS (
      SELECT doc_id, phrase,
             len(list_filter(string_split(phrase, ' '), x -> x <> ''))
               AS plen,
             unnest(list_filter(string_split(phrase, ' '), x -> x <> ''))
               AS word
      FROM phr),
    wstats AS (
      SELECT word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree
      FROM pw GROUP BY 1),
    wscore AS (
      SELECT word,
             CAST((degree * 10000 + freq // 2) // freq AS BIGINT) AS ws_e4
      FROM wstats),
    dphr AS (SELECT DISTINCT phrase FROM phr),
    dwords AS (
      SELECT phrase,
             unnest(list_filter(string_split(phrase, ' '), x -> x <> ''))
               AS word
      FROM dphr),
    pscore AS (
      SELECT d.phrase, CAST(sum(ws.ws_e4) AS BIGINT) AS score_e4
      FROM dwords d JOIN wscore ws USING (word)
      GROUP BY 1)
    SELECT phrase,
           CAST(score_e4 AS DOUBLE) / 10000 AS rake_score
    FROM pscore
    ORDER BY score_e4 DESC, phrase LIMIT 10
    """,
)
def doc_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 RAKE keyword phrases over the corpus (integer-exact word
    degree/frequency scores; per-phrase score = Σ word scores)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z]+", " "),
            rf"\b({_RAKE_STOPS})\b",
            "|",
        ).alias("t"),
    )
    phr = (
        norm.select("doc_id", F.explode(F.split("t", r"\|")).alias("p"))
        .select("doc_id", F.trim("p").alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    words = F.filter(F.split("phrase", " "), lambda x: x != "")
    pw = phr.select(
        "doc_id",
        "phrase",
        F.size(words).alias("plen"),
        F.explode(words).alias("word"),
    )
    wstats = pw.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    wscore = wstats.select(
        "word",
        F.expr("(degree * 10000 + freq DIV 2) DIV freq")
        .cast("long")
        .alias("ws_e4"),
    )
    dwords = (
        phr.select("phrase")
        .distinct()
        .select("phrase", F.explode(words).alias("word"))
    )
    pscore = (
        dwords.join(wscore, "word")
        .groupBy("phrase")
        .agg(F.sum("ws_e4").cast("long").alias("score_e4"))
    )
    return (
        pscore.orderBy(F.desc("score_e4"), "phrase")
        .limit(10)
        .select(
            "phrase",
            (F.col("score_e4").cast("double") / 10000).alias("rake_score"),
        )
    )


# --------------------------------------------------------------------------
# Log2 length histogram: documents bucketed by the BIT LENGTH of their
# character count (length of the binary representation — an exact
# integer stand-in for floor(log2 n)+1, immune to the log2() boundary
# rounding that differs between engines). Pure integer histogram.
# --------------------------------------------------------------------------
@register(
    "doc_length_histogram",
    oracle="""
    SELECT CAST(length(format('{:b}', greatest(n_chars, 0))) AS INTEGER)
             AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-count histogram over power-of-two character-length buckets."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.length(F.bin(F.greatest("n_chars", F.lit(0)))).cast("int")
    return docs.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
