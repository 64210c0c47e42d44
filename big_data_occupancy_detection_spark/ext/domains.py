"""URL/domain-grain curation operators: host parsing, registrable-domain
extraction, suffix-aware blocklist filtering, per-domain dedup stats and
domain-balanced sampling, and crawl-frontier URL dedup against a persisted
seen set.

The one curation grain web-corpus tooling pivots on that the engine
lacked (round-8 brief): crawl pipelines attribute duplication, apply
blocklists and balance training mixtures at the REGISTRABLE DOMAIN
(site) grain, not per document or per source. Everything here is
built-in-expression Spark (whole-stage codegen — URL parsing is
``try_parse_url`` + string/array functions, never a Python UDF), and every
consumer joins the tiny domain-grain tables back by broadcast, so at
100 TB the corpus is scanned once per query with no domain-grain
shuffle beyond the final map-side-combined aggregate.

Beyond-the-reference surface (the reference has no text/URL pipeline;
SURVEY.md §2's LLM-pipeline extension axis).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text_fns import md5_hash64, norm_text

# Minimal two-level public-suffix set: enough to make registrable-domain
# extraction STRUCTURALLY right (suffix-aware, not "last two labels")
# without embedding the full Mozilla PSL. Production swaps in the full
# list the same way — it is a data constant, not a code change.
TWO_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "co.in", "co.nz", "co.za", "co.kr",
    "com.br", "com.cn", "com.mx", "com.sg", "com.tr",
]


def url_host(url_col: Column | str) -> Column:
    """Lower-cased host of a URL (port/userinfo/path/query stripped) via
    the built-in ``try_parse_url`` — JVM-side, NULL for malformed input
    (the standard malformed→NULL routing; plain ``parse_url`` RAISES
    under Spark 4's ANSI default, the wrong contract for crawl data
    where malformed URLs are normal)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.try_parse_url(c, F.lit("HOST")))


# Exact-name tracking params stripped by canonical_url (utm_* is a
# prefix rule on top). A data constant like TWO_LEVEL_SUFFIXES —
# production extends the list, the expression shape is fixed.
TRACKING_PARAMS = ["fbclid", "gclid", "msclkid", "ref", "mc_cid", "mc_eid"]


def canonical_url(url_col: Column | str) -> Column:
    """Canonical form of a URL for crawl-frontier / fetch dedup — the
    standard normalization pass that collapses the many spellings of one
    resource before URL-grain dedup:

    - scheme and host lowercased; userinfo and fragment dropped;
    - default ports removed (``:80`` for http, ``:443`` for https),
      non-default ports kept;
    - path: trailing slashes stripped, empty path → ``/``;
    - query: parameters split, empties and tracking params dropped
      (``utm_*`` prefix + :data:`TRACKING_PARAMS` names), the rest
      SORTED so param order never distinguishes two URLs; an emptied
      query drops its ``?``.

    Pure built-in expressions (``try_parse_url`` + string/array
    functions — codegen, no UDF); malformed input → NULL, same routing
    as :func:`url_host`.
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    proto = F.lower(F.try_parse_url(c, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(c, F.lit("HOST")))
    auth = F.try_parse_url(c, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((proto == "http") & (port == "80"))
        | ((proto == "https") & (port == "443"))
    )
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    path_norm = F.regexp_replace(path, r"/+$", "")
    path_norm = F.when(path_norm == "", F.lit("/")).otherwise(path_norm)
    pname = lambda p: F.substring_index(p, "=", 1)
    params = F.filter(
        F.split(F.try_parse_url(c, F.lit("QUERY")), "&"),
        lambda p: (p != "")
        & ~pname(p).startswith("utm_")
        & ~pname(p).isin(TRACKING_PARAMS),
    )
    qs = F.coalesce(F.array_join(F.array_sort(params), "&"), F.lit(""))
    return F.when(
        host.isNull() | proto.isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            proto,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
            path_norm,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        )
    )


def registrable_domain(host_col: Column | str) -> Column:
    """Registrable (apex) domain of a host: the last two labels, or the
    last THREE when the last two form a known two-level public suffix
    ('a.b.co.uk' → 'b.co.uk', not 'co.uk'). Pure array expression —
    split, element_at, one literal IN — so it codegens; NULL host stays
    NULL."""
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    # explicit NULL guard: concat_ws IGNORES null args, so a NULL host
    # would otherwise fall through to '' instead of staying NULL
    return F.when(h.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(n <= 2, h).otherwise(
            F.when(
                last2.isin(TWO_LEVEL_SUFFIXES) & (n >= 3),
                F.concat_ws(".", F.element_at(labels, -3), last2),
            ).otherwise(last2)
        )
    )


def host_suffixes(host_col: Column | str) -> Column:
    """Array of ALL the host's dot-suffixes, single label up to the full
    host ('www.b.co.uk' → ['uk', 'co.uk', 'b.co.uk', 'www.b.co.uk']) —
    the candidate set a suffix-aware blocklist entry can match. Round 9:
    the ladder previously started at the registrable domain, so an entry
    AT or ABOVE the public-suffix grain ('co.uk') matched only a host
    exactly equal to it, never its subdomains — diverging from the
    documented "entry blocks the exact host and every subdomain"
    semantics (= ``host = e OR host LIKE '%.' || e``). Bounded by label
    count (hosts have a handful of labels), so the blocklist explode
    below fans out O(1) per row."""
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    labels = F.split(h, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(labels, -i, i)),
    )


def blocklist_filter(
    df: DataFrame,
    host_col: str,
    blocklist: DataFrame | list[str],
    id_col: str,
) -> DataFrame:
    """Drop rows whose host matches a blocklist entry suffix-aware: an
    entry blocks the exact host AND every subdomain under it (the
    standard domain-blocklist semantics — 'b.co.uk' blocks
    'www.b.co.uk'; 'cdn.b.com' blocks only that subtree).

    Two physical forms by blocklist type:

    - ``list[str]`` (small, driver-known): ``arrays_overlap`` of the
      row's suffix array with ONE literal array — map-only, zero joins,
      zero shuffles; the filter rides the scan.
    - ``DataFrame`` (large/managed blocklists): explode the bounded
      per-row suffix array, broadcast-semi-join against the blocklist,
      collect the BLOCKED ids (bounded by blocklist hit rate), and
      broadcast-anti-join them back — the corpus is scanned once and
      never shuffled; only the small hit set moves. A blocklist too big
      to broadcast would bucket-join on the suffix instead (same plan
      with the broadcast hints dropped).

    NULL hosts (malformed URLs — normal crawl data under the module's
    malformed→NULL contract) are KEPT by BOTH forms: a blocklist names
    what to drop, and a row with no parseable host can't match any
    entry. (Round 9: the list form's bare ``~arrays_overlap`` evaluated
    to NULL for NULL hosts and silently dropped them while the DataFrame
    form kept them — the two forms now agree, test-asserted.)

    ``id_col`` must be unique per row (the anti-join key). ``host_col``
    is expected lower-cased (:func:`url_host` output); blocklist entries
    are lowered here.
    """
    sfx = host_suffixes(host_col)
    host = F.col(host_col) if isinstance(host_col, str) else host_col
    if isinstance(blocklist, list):
        lit_arr = F.array(*[F.lit(e.lower()) for e in blocklist])
        return df.filter(host.isNull() | ~F.arrays_overlap(sfx, lit_arr))
    bl = blocklist.select(F.lower(F.col(blocklist.columns[0])).alias("__e"))
    blocked = (
        df.select(id_col, F.explode(sfx).alias("__s"))
        .join(F.broadcast(bl), F.col("__s") == F.col("__e"), "leftsemi")
        .select(id_col)
        .distinct()
    )
    return df.join(F.broadcast(blocked), id_col, "left_anti")


def domain_dedup_stats(
    df: DataFrame, domain_col: str, text_col: str
) -> DataFrame:
    """Per-domain exact-duplication census: (domain, n_docs,
    n_unique_texts, dup_rate) where dup_rate = (n_docs − distinct
    normalized-text fingerprints) / n_docs — the crawl-curation signal
    for boilerplate-heavy sites (a domain serving the same page under
    many URLs dedups away; its dup_rate prices that before sampling).

    Two-level aggregation, both map-side combined: (domain, md5(norm
    text)) grain first, then the domain rollup — the fingerprint grain
    is the only big intermediate and it shrinks monotonically, never a
    row-grain join. Portable fingerprint (md5 of the shared norm_text
    canonical form) so a SQL oracle rebuilds it bit-for-bit.

    NULL texts and NULL domains carry no duplication evidence and are
    EXCLUDED (round 9 — previously groupBy collapsed every NULL-text doc
    of a domain into one "unique text", manufacturing duplicate evidence
    out of missing data; same contract as :func:`domain_mirror_pairs`).
    """
    from ..functions.rounding import portable_round

    fp = df.select(
        F.col(domain_col).alias("domain"),
        F.md5(norm_text(text_col)).alias("__fp"),
    ).filter(F.col("__fp").isNotNull() & F.col("domain").isNotNull())
    per_fp = fp.groupBy("domain", "__fp").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    return per_fp.groupBy("domain").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
        portable_round(
            (F.sum("__c") - F.count(F.lit(1)))
            / F.sum("__c").cast("double"),
            6,
        ).alias("dup_rate"),
    )


def domain_mirror_pairs(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    min_shared: int = 2,
    max_fp_domains: int = 64,
) -> DataFrame:
    """Cross-domain mirror/syndication detection: domain pairs ranked by
    content overlap — the complement of :func:`domain_dedup_stats`
    (duplication ACROSS sites instead of within one). For every pair of
    domains sharing ≥ ``min_shared`` distinct normalized-text
    fingerprints, emit (domain_a, domain_b, shared_texts, overlap) with
    overlap = shared / min(|A|, |B|) — the containment coefficient, 1.0
    when one site is a full mirror of the other.

    Scale shape (an inverted-index pair join): pair candidates are generated PER
    FINGERPRINT, so the fan-out is Σ_fp C(d_fp, 2) with d_fp capped by
    ``max_fp_domains`` — a fingerprint present on more than that many
    domains is universal boilerplate (cookie banners, empty pages) that
    says nothing about mirroring and would otherwise explode the join
    (the hot-shingle guard rule). Never an all-pairs domain join; the
    per-domain size table joins back by broadcast (domain grain is
    small by definition).

    NULL texts carry no content evidence and are EXCLUDED outright
    (from pair evidence AND the |domain| sizes) — found by the high-null
    fuzz: Spark's groupBy groups NULL fingerprints together, which
    manufactured cross-site "shared" texts out of missing data, while a
    SQL equi-join twin drops them; excluding NULL is the one semantics
    both engines state explicitly.
    """
    from ..functions.rounding import portable_round
    from ..operators.partitioning import checkpoint_for_reuse

    # fp is consumed twice (sizes + the pair index) and its lineage is
    # the expensive part — normalize+md5 over every corpus row. The
    # materialized frame is the operator's OWN grain (distinct (domain,
    # fingerprint) pairs — small relative to the corpus exactly when
    # mirroring exists), so pinning it is bounded; recomputing instead
    # measured 280 s vs (post-fix) one corpus pass at the 1000x/5M-doc
    # smoke.
    fp = checkpoint_for_reuse(
        df.select(
            F.col(domain_col).alias("domain"),
            F.md5(norm_text(text_col)).alias("__fp"),
        )
        .filter(F.col("__fp").isNotNull())
        .distinct()
    )
    sizes = fp.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # hot-fp guard: collect the (capped) domain set per fingerprint, then
    # enumerate ordered pairs by a double explode of the SAME row — no
    # fp-keyed self-join, so the only exchanges are the fp groupBy and
    # the pair groupBy
    fp_d = fp.groupBy("__fp").agg(
        F.collect_set("domain").alias("__ds"),
        F.count(F.lit(1)).alias("__d"),
    ).filter(F.col("__d") <= max_fp_domains)
    pairs = (
        fp_d.select(F.explode("__ds").alias("domain_a"), "__ds")
        .select("domain_a", F.explode("__ds").alias("domain_b"))
        .filter(F.col("domain_a") < F.col("domain_b"))
        .groupBy("domain_a", "domain_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_texts"))
        .filter(F.col("shared_texts") >= min_shared)
    )
    na = sizes.select(
        F.col("domain").alias("domain_a"), F.col("__n").alias("__na")
    )
    nb = sizes.select(
        F.col("domain").alias("domain_b"), F.col("__n").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(na), "domain_a")
        .join(F.broadcast(nb), "domain_b")
        .select(
            "domain_a",
            "domain_b",
            "shared_texts",
            portable_round(
                F.col("shared_texts")
                / F.least("__na", "__nb").cast("double"),
                6,
            ).alias("overlap"),
        )
    )


def domain_balanced_sample(
    df: DataFrame, domain_col: str, id_col: str, quota: int
) -> DataFrame:
    """Deterministic exact-quota sample per domain: the ``quota``
    smallest-md5-hash rows of each domain (the hash-rank idiom — stable
    across runs and engines, unlike rand()). Hot domains are the norm in
    web corpora (a head domain can hold 1e9 docs); the per-domain rank
    is still safe because Spark's WindowGroupLimit pre-prunes each map
    task to ``quota`` rows per domain BELOW the exchange (see the skew
    note in ``operators.topk``) — a head domain ships at most
    quota·input_partitions rows to its reduce task, never its corpus.

    Returns the input rows + ``rnk`` (1..quota within domain).
    """
    from ..operators.topk import top_k_per_group

    hashed = df.withColumn(
        "__h", md5_hash64(F.col(id_col).cast("string"))
    )
    out = top_k_per_group(
        hashed, [domain_col], [F.col("__h"), F.col(id_col)], quota
    )
    return out.drop("__h")


# --------------------------------------------------------------------------
# Crawl-frontier incremental URL dedup (round 9): ties canonical_url
# into the incremental plane — "of this batch of discovered URLs, which
# resources have we NEVER fetched?"
# --------------------------------------------------------------------------


def frontier_batch_reps(
    batch: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(id, canonical_url) — one representative per DISTINCT canonical
    resource in a discovered-URL batch: canonicalize (malformed→NULL
    URLs dropped — an unparseable URL can't be fetched), then keep the
    smallest id per canonical form. The within-batch half of frontier
    dedup: a crawl batch routinely carries the same resource under many
    spellings (tracking params, fragments, case). One map-side-combined
    aggregate; the batch is small by construction (a frontier batch,
    not the corpus)."""
    canon = batch.select(
        F.col(id_col), canonical_url(url_col).alias("canonical_url")
    ).filter(F.col("canonical_url").isNotNull())
    return canon.groupBy("canonical_url").agg(
        F.min(id_col).alias(id_col)
    )


FRONTIER_SEEN_BUCKETS = 256


def frontier_seen_bucket(col, n_buckets: int = FRONTIER_SEEN_BUCKETS):
    """Bucket id of a canonical URL: ``pmod(md5_hash64(url), n_buckets)``
    — the portable hash family, so any engine (and the DuckDB oracle)
    routes a URL to the same bucket."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(md5_hash64(c), F.lit(n_buckets)).cast("int")


def frontier_seen_write(
    seen: DataFrame,
    path: str,
    n_buckets: int = FRONTIER_SEEN_BUCKETS,
    seen_col: str = "canonical_url",
) -> None:
    """Persist the seen set PARTITIONED by a hash bucket of the URL, so
    per-batch exact rescues prune to the candidate buckets instead of
    scanning the whole corpus (round-10 verdict item 3): a micro-batch
    of c candidates touches ≤ min(c, n_buckets) partitions ≈
    min(c, n_buckets)/n_buckets of |seen| bytes — per-batch wall bounded
    by candidate-bucket volume, not corpus size. The bucket is a real
    partition column (directory), so the ``IN (candidate buckets)``
    filter is partition PRUNING at file-listing time — pruned buckets
    are never opened. n_buckets trades pruning grain against small-file
    pressure: at 100 TB-scale seen sets use enough buckets that one
    bucket ≈ a few GB."""
    seen.select(
        F.col(seen_col).alias("canonical_url"),
        frontier_seen_bucket(seen_col, n_buckets).alias("bucket"),
    ).write.partitionBy("bucket").mode("overwrite").parquet(path)
    # sidecar metadata: the bucket count is part of the layout's
    # identity — a reader probing with a DIFFERENT modulus silently
    # prunes away valid seen rows and re-crawls duplicates (r10 review).
    # frontier_seen_read stamps it on the frame and the bucket prune
    # in _novel_canonicals checks it; loud-fail contract.
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_frontier_meta.json"), "w") as f:
        _json.dump({"n_buckets": int(n_buckets)}, f)


def frontier_seen_layout_buckets(path: str) -> int | None:
    """The ``n_buckets`` the layout at ``path`` was written with (from
    the :func:`frontier_seen_write` sidecar), or None for a pre-sidecar
    layout."""
    import json as _json
    import os as _os

    meta = _os.path.join(path, "_frontier_meta.json")
    if not _os.path.exists(meta):
        return None
    with open(meta) as f:
        return int(_json.load(f)["n_buckets"])


def frontier_seen_read(spark, path: str) -> DataFrame:
    """The bucketed seen set back as (canonical_url, bucket) — feed it
    to :func:`frontier_novel_urls` / ``novel_in_batch`` with
    ``seen_bucket_col="bucket"`` to activate pruning. The frame is
    stamped with the layout's bucket count (sidecar metadata), which the
    pruning path verifies against its ``n_buckets`` argument — a
    modulus mismatch would silently prune valid seen rows and re-crawl
    duplicates, so it raises instead."""
    df = spark.read.parquet(path)
    nb = frontier_seen_layout_buckets(path)
    if nb is not None:
        df._frontier_n_buckets = nb
    return df


def frontier_novel_urls(
    batch: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    seen_col: str = "canonical_url",
    n_words: int | None = None,
    k: int | None = None,
    seen_bucket_col: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """(id, canonical_url) — the members of a discovered-URL ``batch``
    whose canonical form is NOT in the crawled ``seen`` set (and not a
    duplicate spelling within the batch): the crawl-frontier dedup step
    that decides what actually gets fetched.

    Scale shape — the seen set is the big side (every URL ever fetched;
    billions of rows at crawl scale) and must never shuffle per batch:

    1. within-batch rep per canonical (:func:`frontier_batch_reps`) —
       one map-side-combined aggregate over the SMALL batch;
    2. a Bloom filter of the batch's canonicals is built distributed
       (``bloom_build``), collected (≤ ``n_words`` (idx, word) longs —
       bounded by the FILTER size, not the data), and ridden down the
       seen-set scan as a MAP-ONLY literal expression
       (``bloom_filter_expr``): the corpus-side prescreen. Seen rows
       surviving it number ≈ |batch ∩ seen| + FP·|seen| — size
       ``n_words`` to the batch (keys/3 words for ~1% FP at k=5) so the
       survivor set stays join-small;
    3. broadcast anti-join of the batch reps against the survivors —
       novel = reps that miss. No false negatives in the prescreen ⇒
       every true duplicate survives to the exact join, so the result
       is EXACT; false positives only cost survivor rows.

    The seen set is scanned once (canonical column only — column
    pruning reaches the parquet scan), never exploded, never joined in
    full, never shuffled. Returns one row per novel canonical with the
    smallest discovering id.
    """
    from ..operators.partitioning import checkpoint_for_reuse

    # reps is consumed twice (bloom build + final anti-join): checkpoint
    # so the canonicalization + rep aggregate runs once, not per consumer
    reps = checkpoint_for_reuse(frontier_batch_reps(batch, url_col, id_col))
    if n_buckets is None:
        # default to the seen layout's own modulus (sidecar stamp from
        # frontier_seen_read) — never a constant that can drift from
        # what the layout was written with (r10 review)
        n_buckets = getattr(
            seen, "_frontier_n_buckets", FRONTIER_SEEN_BUCKETS
        )
    return _novel_canonicals(
        reps, seen, id_col, seen_col, n_words, k,
        seen_bucket_col=seen_bucket_col, n_buckets=n_buckets,
    )


def _novel_canonicals(
    reps: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    seen_col: str = "canonical_url",
    n_words: int | None = None,
    k: int | None = None,
    broadcast_budget_rows: int = 500_000,
    seen_bucket_col: str | None = None,
    n_buckets: int = FRONTIER_SEEN_BUCKETS,
) -> DataFrame:
    """The bloom-prescreened exact anti-join core of
    :func:`frontier_novel_urls`: ``reps`` (small,
    one row per canonical, already checkpointed by callers when
    multi-consumed) vs ``seen`` (huge; scanned with a MAP-ONLY literal
    Bloom of ``reps``, never shuffled or joined in full — only the
    survivor set reaches the anti-join). Broadcasting ``seen`` itself
    would be the classic collect-the-corpus driver OOM.

    When ``seen`` is the bucket-partitioned layout of
    :func:`frontier_seen_write`, pass ``seen_bucket_col`` and the scan
    is PRUNED to the candidates' buckets before the bloom probe (an
    ``IN`` literal over ≤ ``n_buckets`` ints — partition pruning at
    file-listing time), bounding per-batch reads by candidate-bucket
    volume instead of |seen|.

    Survivor cardinality is ≈ |batch ∩ seen| + fpr·|seen| — the second
    term scales with the SEEN SET, not the batch (r9 ADVICE), so an
    unconditional broadcast of survivors is itself a driver OOM when
    the filter is undersized relative to |seen|: size ``n_words`` so
    fpr·|seen| stays join-small, not merely to the batch's key count.
    Defensively, the survivors are materialized once (at runtime the
    seen scan runs exactly once — the count reads the checkpoint, not
    the scan), counted, and BROADCAST only under
    ``broadcast_budget_rows``; past it the anti-join falls back to
    shuffle_hash, which repartitions only reps + survivors (both ≪
    seen), never the driver."""
    from ..operators.partitioning import checkpoint_for_reuse
    from .sketches import BLOOM_HASHES, BLOOM_WORDS, bloom_build, bloom_filter_expr

    nw = BLOOM_WORDS if n_words is None else n_words
    kk = BLOOM_HASHES if k is None else k
    words = {
        r["word_idx"]: r["word"]
        for r in bloom_build(reps, "canonical_url", nw, kk).collect()
    }
    if seen_bucket_col is not None:
        # layout-identity guard (r10 review): a caller modulus that
        # differs from the one the seen layout was WRITTEN with makes
        # the prune drop valid seen rows — duplicates silently re-enter
        # the crawl. frontier_seen_read stamps the sidecar value; when
        # present it must agree.
        layout_nb = getattr(seen, "_frontier_n_buckets", None)
        if layout_nb is not None and int(layout_nb) != int(n_buckets):
            raise ValueError(
                f"seen layout was written with n_buckets={layout_nb} but "
                f"the prune was asked to use n_buckets={n_buckets} — a "
                f"modulus mismatch silently misclassifies seen URLs as "
                f"novel; pass the layout's value (or omit n_buckets and "
                f"let frontier_novel_urls default to it)"
            )
        # bounded collect: ≤ n_buckets ints, one tiny job over reps
        cand_buckets = [
            r["__b"]
            for r in reps.select(
                frontier_seen_bucket("canonical_url", n_buckets).alias("__b")
            )
            .distinct()
            .collect()
        ]
        seen = seen.filter(F.col(seen_bucket_col).isin(cand_buckets))
    survivors = checkpoint_for_reuse(
        seen.select(F.col(seen_col).alias("canonical_url")).filter(
            bloom_filter_expr(words, "canonical_url", nw, kk)
        )
    )
    if survivors.count() <= broadcast_budget_rows:
        right = F.broadcast(survivors)
    else:
        right = survivors.hint("shuffle_hash")
    return reps.join(right, "canonical_url", "left_anti").select(
        id_col, "canonical_url"
    )
