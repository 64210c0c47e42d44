"""URL/domain-grain curation operators (ext.domains, round 8)."""

from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext import domains as DOM
from big_data_occupancy_detection_spark.operators.topk import top_k_per_group


def test_url_host_and_registrable_domain_edges(spark):
    rows = [
        (1, "https://www.example.co.uk:8080/a/b?x=1"),
        (2, "http://blog.news.example.com/post"),
        (3, "https://example.org/"),
        (4, "https://localhost/x"),            # single-label host
        (5, "https://a.b.c.d.co.jp/deep"),     # deep + 2-level suffix
        (6, None),                             # NULL url -> NULL host
        (7, "not a url at all"),               # malformed -> NULL host
        (8, "https://EXAMPLE.COM/UPPER"),      # case-folding
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {
        r["id"]: (r["host"], r["dom"])
        for r in df.select(
            "id",
            DOM.url_host("url").alias("host"),
            DOM.registrable_domain(DOM.url_host("url")).alias("dom"),
        ).collect()
    }
    assert out[1] == ("www.example.co.uk", "example.co.uk")
    assert out[2] == ("blog.news.example.com", "example.com")
    assert out[3] == ("example.org", "example.org")
    assert out[4] == ("localhost", "localhost")
    assert out[5] == ("a.b.c.d.co.jp", "d.co.jp")
    assert out[6] == (None, None)
    assert out[7] == (None, None)
    assert out[8] == ("example.com", "example.com")


def test_host_suffixes_ladder(spark):
    df = spark.createDataFrame(
        [("www.b.co.uk",), ("x.y.b.com",), ("b.org",)], "host string"
    )
    got = {
        r["host"]: r["s"]
        for r in df.select(
            "host", DOM.host_suffixes("host").alias("s")
        ).collect()
    }
    # full ladder, single label first, full host last (round 9: entries
    # at/above the public-suffix grain must match subdomains too — the
    # documented `host = e OR host LIKE '%.'||e` semantics)
    assert got["www.b.co.uk"] == ["uk", "co.uk", "b.co.uk", "www.b.co.uk"]
    assert got["x.y.b.com"] == ["com", "b.com", "y.b.com", "x.y.b.com"]
    assert got["b.org"] == ["org", "b.org"]


def test_blocklist_filter_list_and_dataframe_forms_agree(spark):
    hosts = [
        (1, "www.bad.co.uk"),   # blocked: subdomain of bad.co.uk
        (2, "bad.co.uk"),       # blocked: exact registrable
        (3, "notbad.co.uk"),    # kept: 'notbad' is not a suffix match
        (4, "cdn.ok.com"),      # blocked: specific subtree entry
        (5, "www.ok.com"),      # kept: only cdn subtree is blocked
        (6, "ok.com"),          # kept
        (7, None),              # kept: malformed URL -> NULL host (r9
                                # advice: the list form silently dropped
                                # these while the DataFrame form kept them)
    ]
    df = spark.createDataFrame(hosts, "id long, host string")
    bl = ["bad.co.uk", "cdn.ok.com"]
    kept_list = sorted(
        r["id"] for r in DOM.blocklist_filter(df, "host", bl, "id").collect()
    )
    bl_df = spark.createDataFrame([(e,) for e in bl], "entry string")
    kept_df = sorted(
        r["id"]
        for r in DOM.blocklist_filter(df, "host", bl_df, "id").collect()
    )
    assert kept_list == kept_df == [3, 5, 6, 7]


def test_blocklist_filter_public_suffix_grain_entry(spark):
    # round-9 advice: an entry AT the public-suffix grain ('co.uk') must
    # block its subdomains too, in both forms — the pre-r9 ladder started
    # at the registrable domain so only an exactly-equal host matched
    hosts = [(1, "a.co.uk"), (2, "www.a.co.uk"), (3, "co.uk"), (4, "b.com")]
    df = spark.createDataFrame(hosts, "id long, host string")
    bl = ["co.uk"]
    kept_list = sorted(
        r["id"] for r in DOM.blocklist_filter(df, "host", bl, "id").collect()
    )
    bl_df = spark.createDataFrame([(e,) for e in bl], "entry string")
    kept_df = sorted(
        r["id"]
        for r in DOM.blocklist_filter(df, "host", bl_df, "id").collect()
    )
    assert kept_list == kept_df == [4]


def test_domain_dedup_stats_counts(spark):
    df = spark.createDataFrame(
        [
            ("a.com", "Same   text"),
            ("a.com", "same text"),     # dup after normalization
            ("a.com", "other"),
            ("b.com", "unique one"),
        ],
        "domain string, text string",
    )
    got = {
        r["domain"]: (r["n_docs"], r["n_unique_texts"], r["dup_rate"])
        for r in DOM.domain_dedup_stats(df, "domain", "text").collect()
    }
    assert got["a.com"] == (3, 2, round(1 / 3, 6))
    assert got["b.com"] == (1, 1, 0.0)


def test_topk_window_group_limit_prunes_map_side(spark):
    """The skew contract domain_balanced_sample relies on (see the note
    in operators.topk): Spark's InsertWindowGroupLimit must plant a
    Partial WindowGroupLimit BELOW the exchange, so a hot group ships at
    most k·input_partitions rows, never its whole corpus. Pin the plan
    shape so a Spark upgrade or a refactor that breaks the
    filter-on-rank pattern (e.g. filtering a derived column) fails
    loudly here instead of resurfacing as a fat-task regression."""
    rows = [("hot", i) for i in range(400)] + [
        (f"g{i % 7}", 1000 + i) for i in range(70)
    ]
    df = spark.createDataFrame(rows, "g string, v long").repartition(13)
    out = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("g")], 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    got = sorted(
        (r["g"], r["rnk"], r["v"]) for r in out.collect() if r["g"] == "hot"
    )
    assert got == [("hot", i + 1, 399 - i) for i in range(5)]


def test_blocklist_filter_plan_has_no_corpus_shuffle(spark):
    """The DataFrame-blocklist form must keep the corpus un-shuffled:
    both joins broadcast, no Exchange hashpartitioning over the corpus
    side (the 100 TB contract in the operator docstring)."""
    df = spark.createDataFrame(
        [(i, f"s{i % 5}.example.com") for i in range(100)],
        "id long, host string",
    )
    bl = spark.createDataFrame([("s1.example.com",)], "entry string")
    out = DOM.blocklist_filter(df, "host", bl, "id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert out.count() == 80


def test_domain_mirror_pairs_guard_threshold_and_overlap(spark):
    """min_shared keeps only pairs sharing enough fps; the hot-fp guard
    drops universal boilerplate BEFORE pair fan-out; overlap is the
    containment coefficient over per-domain DISTINCT fp counts
    (within-domain duplicates collapse first)."""
    rows = (
        # a.com: x, y, z (plus a within-domain dup of x -> still 3 distinct)
        [("a.com", "X"), ("a.com", "x"), ("a.com", "y"), ("a.com", "z")]
        # b.com shares x, y with a.com  -> kept, shared=2, min(3,3)=3
        + [("b.com", "x"), ("b.com", "y"), ("b.com", "w")]
        # c.com shares only z with a.com -> dropped by min_shared=2
        + [("c.com", "z"), ("c.com", "q")]
        # universal fp on ALL four domains -> dropped by max_fp_domains=3
        + [(d, "universal") for d in ("a.com", "b.com", "c.com", "d.com")]
    )
    df = spark.createDataFrame(rows, "domain string, text string")
    got = {
        (r["domain_a"], r["domain_b"]): (r["shared_texts"], r["overlap"])
        for r in DOM.domain_mirror_pairs(
            df, "domain", "text", min_shared=2, max_fp_domains=3
        ).collect()
    }
    # only (a, b) survives; sizes include the universal fp (4 and 4)
    assert got == {("a.com", "b.com"): (2, round(2 / 4, 6))}


def test_canonical_url_edges(spark):
    rows = [
        (1, "HTTP://Example.COM:80/a/"),          # case + default port + slash
        (2, "http://example.com/a"),               # canonical twin of 1
        (3, "https://example.com:8443/x"),         # NON-default port kept
        (4, "https://example.com/x?utm_source=a&fbclid=b"),  # tracking-only
        (5, "https://example.com/x?b=2&a=1"),      # param order
        (6, "https://example.com/x?a=1&b=2#frag"), # fragment + same params
        (7, "https://example.com"),                # empty path -> '/'
        (8, None),
        (9, "::not a url::"),
        (10, "https://user:pw@example.com/x"),     # userinfo dropped
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    from big_data_occupancy_detection_spark.ext.domains import canonical_url

    out = {
        r["id"]: r["c"]
        for r in df.select("id", canonical_url("url").alias("c")).collect()
    }
    assert out[1] == out[2] == "http://example.com/a"
    assert out[3] == "https://example.com:8443/x"
    assert out[4] == "https://example.com/x"
    assert out[5] == out[6] == "https://example.com/x?a=1&b=2"
    assert out[7] == "https://example.com/"
    assert out[8] is None and out[9] is None
    assert out[10] == "https://example.com/x"


def test_canonical_url_is_idempotent(spark):
    """Canonicalization must be a projection: applying it to its own
    output changes nothing (otherwise two dedup passes could disagree).
    Covers every normalization axis at once."""
    urls = [
        "HTTP://Example.COM:80/a/b/?z=1&a=2&utm_source=x#f",
        "https://example.com:443//",
        "https://a.b.co.uk/x?b=&c=3",
        "http://example.com:8080/p?ref=feed",
        "https://example.com/p?a=1&a=1",   # duplicate param survives sorted
        "https://example.com",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    from big_data_occupancy_detection_spark.ext.domains import canonical_url

    rows = df.select(
        canonical_url("url").alias("c1"),
        canonical_url(canonical_url("url")).alias("c2"),
    ).collect()
    for r in rows:
        assert r["c1"] == r["c2"], (r["c1"], r["c2"])


def test_frontier_batch_reps_and_novel(spark):
    """Within-batch spellings collapse to the smallest id; malformed
    URLs drop; novelty is exact vs the seen set."""
    batch = spark.createDataFrame(
        [
            (10, "https://a.com/x?utm_source=f"),   # pair with 11
            (11, "HTTPS://A.com:443/x/"),           # same resource
            (12, "https://b.com/y"),                # seen already
            (13, "https://c.com/z?b=2&a=1"),        # novel
            (14, "not a url"),                      # malformed -> dropped
        ],
        "doc_id long, url string",
    )
    reps = {
        r["canonical_url"]: r["doc_id"]
        for r in DOM.frontier_batch_reps(batch).collect()
    }
    assert reps == {
        "https://a.com/x": 10,
        "https://b.com/y": 12,
        "https://c.com/z?a=1&b=2": 13,
    }
    seen = spark.createDataFrame(
        [("https://b.com/y",)], "canonical_url string"
    )
    novel = sorted(
        (r["doc_id"], r["canonical_url"])
        for r in DOM.frontier_novel_urls(batch, seen).collect()
    )
    assert novel == [(10, "https://a.com/x"), (13, "https://c.com/z?a=1&b=2")]


def test_bloom_filter_expr_matches_bloom_contains(spark):
    """The map-only literal probe and the join-based probe must agree
    bit-for-bit (same probe family), incl. the NULL-key false answer."""
    from big_data_occupancy_detection_spark.ext import sketches as SK

    corpus = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)], "key string"
    )
    words = {
        r["word_idx"]: r["word"]
        for r in SK.bloom_build(corpus, "key", 64, 5).collect()
    }
    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 100, 7)] + [(None,)], "key string"
    )
    via_expr = {
        r["key"]: r["hit"]
        for r in probes.select(
            "key", SK.bloom_filter_expr(words, "key", 64, 5).alias("hit")
        ).collect()
    }
    bloom_df = spark.createDataFrame(
        [(i, w) for i, w in words.items()], "word_idx int, word long"
    )
    via_join = {
        r["key"]: r["hit"]
        for r in SK.bloom_contains(
            bloom_df, probes, "key", 64, 5, out_col="hit"
        ).collect()
    }
    assert via_expr == via_join
    assert via_expr[None] is False
    # no false negatives: every built key answers true
    assert all(via_expr[f"k{i}"] for i in range(0, 50, 7))


def test_frontier_seen_scan_plan_is_map_only(spark):
    """The 100 TB contract: the seen-set leg (scan -> bloom probe
    filter) must carry NO exchange — the seen set is never shuffled,
    and the anti-join against it is broadcast."""
    import re

    batch = spark.createDataFrame(
        [(i, f"https://s{i}.com/p") for i in range(20)],
        "doc_id long, url string",
    )
    seen = spark.createDataFrame(
        [(f"https://s{i}.com/p",) for i in range(0, 20, 2)],
        "canonical_url string",
    )
    plan = (
        DOM.frontier_novel_urls(batch, seen)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # exactly ONE exchange in the whole plan: the batch rep aggregate's.
    # (broadcast exchanges excluded - they're the point)
    shuffles = re.findall(r"Exchange (?!SinglePartition)hashpartitioning", plan)
    assert len(shuffles) <= 1, plan


def test_frontier_bucketed_seen_prunes_partitions(spark, tmp_path, monkeypatch):
    """Round-10 verdict item 3: with the seen set persisted in the
    frontier_seen_write bucket layout, the exact-rescue scan must carry
    a PartitionFilter over the CANDIDATES' buckets (pruning at
    file-listing time — per-batch reads bounded by candidate-bucket
    volume, not |seen|), and answers must be identical to the unpruned
    path."""
    import re

    path = str(tmp_path / "seen_bucketed")
    seen = spark.createDataFrame(
        [(f"https://s{i}.com/p",) for i in range(0, 40, 2)],
        "canonical_url string",
    )
    DOM.frontier_seen_write(seen, path, n_buckets=16)
    seen_b = DOM.frontier_seen_read(spark, path)
    batch = spark.createDataFrame(
        [(i, f"https://s{i}.com/p") for i in range(10)],
        "doc_id long, url string",
    )
    novel = DOM.frontier_novel_urls(
        batch, seen_b, seen_bucket_col="bucket", n_buckets=16
    )
    got = sorted((r["doc_id"], r["canonical_url"]) for r in novel.collect())
    want = sorted(
        (r["doc_id"], r["canonical_url"])
        for r in DOM.frontier_novel_urls(batch, seen).collect()
    )
    assert got == want
    assert got == [(i, f"https://s{i}.com/p") for i in range(1, 10, 2)]
    # plan pin on the seen leg: the bucket IN-filter must be a partition
    # filter on the parquet scan (build under PLAN_AUDIT so the
    # survivor checkpoint doesn't truncate the inspected lineage)
    monkeypatch.setenv("SPARK_GRAFT_PLAN_AUDIT", "1")
    plan = (
        DOM.frontier_novel_urls(batch, seen_b, seen_bucket_col="bucket", n_buckets=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1) and "IN" in m.group(1), plan


def test_frontier_survivor_broadcast_budget_fallback(spark):
    """Round-9 ADVICE (medium): survivors ≈ |batch∩seen| + fpr·|seen|
    scales with the SEEN SET — past the broadcast budget the anti-join
    must fall back to shuffle_hash (executor-side), never a driver
    broadcast; answers identical either way."""
    batch = spark.createDataFrame(
        [(i, f"https://s{i}.com/p") for i in range(8)],
        "doc_id long, url string",
    )
    seen = spark.createDataFrame(
        [(f"https://s{i}.com/p",) for i in range(0, 8, 2)],
        "canonical_url string",
    )
    reps = DOM.frontier_batch_reps(batch).localCheckpoint()
    small = DOM._novel_canonicals(reps, seen)
    forced = DOM._novel_canonicals(reps, seen, broadcast_budget_rows=0)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    plan_forced = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small
    assert "BroadcastHashJoin" not in plan_forced
    assert "ShuffledHashJoin" in plan_forced
    key = lambda r: (r["doc_id"], r["canonical_url"])
    assert sorted(map(key, small.collect())) == sorted(
        map(key, forced.collect())
    )


def test_frontier_bucket_modulus_mismatch_raises(spark, tmp_path):
    """r10 review: a caller modulus differing from the layout's must
    fail LOUDLY — a silent mismatch prunes valid seen rows and
    re-crawls duplicates."""
    import pytest

    path = str(tmp_path / "seen")
    seen = spark.createDataFrame(
        [(f"https://s{i}.com/p",) for i in range(10)],
        "canonical_url string",
    )
    DOM.frontier_seen_write(seen, path, n_buckets=16)
    assert DOM.frontier_seen_layout_buckets(path) == 16
    batch = spark.createDataFrame(
        [(1, "https://s1.com/p")], "doc_id long, url string"
    )
    seen_b = DOM.frontier_seen_read(spark, path)
    with pytest.raises(ValueError, match="n_buckets"):
        DOM.frontier_novel_urls(
            batch, seen_b, seen_bucket_col="bucket", n_buckets=8
        ).collect()
    # omitting n_buckets defaults to the layout's own modulus
    got = DOM.frontier_novel_urls(
        batch, seen_b, seen_bucket_col="bucket"
    ).collect()
    assert got == []
