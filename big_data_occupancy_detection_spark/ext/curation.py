"""Training-data curation operators: PII redaction, benchmark
contamination, repetition (Gopher-style) filters, deterministic
stratified sampling, sequence packing, and export shuffling.

These extend the engine beyond the reference's occupancy workload into
the operations a large-scale LLM training-data pipeline needs (the
reference has no text pipeline at all — its closest surface is the
feature engineering in ``eda/merge_datasets.py``). Every operator is
pure Catalyst expressions / windows — no Python UDFs — and every
random-looking choice (sample ranks, shuffle order) is a deterministic
hash so the DuckDB oracles can replay it byte-identically.

Scale notes (100 TB):
- redaction/repetition/contamination are map-side or one-shuffle;
- sampling is a per-stratum window (shuffle on the strata key);
- packing and shuffling need a GLOBAL order — both go through the
  range-repartition + per-partition prefix + broadcast-offset pattern
  (``operators.relational.global_row_number`` / ``global_cumsum``)
  instead of a single-task ``Window.orderBy``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..functions.text_fns import md5_hash64, norm_text, seeded_hash64, tokens
from ..operators.generate import explode_fused
from ..operators.partitioning import checkpoint_for_reuse, repartition_for_compute
from ..operators.relational import global_cumsum, global_row_number
from .dedup import first_owner_encode

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround, no \b.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
}

# Keep-rule thresholds; the repetition_filter and c4_quality_filter
# oracles read the same values.
GOPHER_MAX_TOP_TOKEN_FRAC, GOPHER_MAX_DUP_BIGRAM_FRAC = 0.12, 0.55
C4_WORDS = (10, 100_000)
C4_MEAN_WORD_LEN = (3.0, 10.0)
C4_MIN_ALPHA_RATIO = 0.6


def pii_counts(text_col: Column | str) -> dict[str, Column]:
    """One count column per PII class (whole-match occurrences)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(text_col: Column | str) -> Column:
    """Replace every PII occurrence with a ``[CLASS]`` placeholder.

    Order matters: ipv4 before phone would not collide, but email must
    run before the generic patterns so ``user@host`` isn't half-eaten;
    we apply in the fixed dict order on both engines.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


def shingle_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    flag_threshold: float = 0.2,
) -> DataFrame:
    """(doc, n_shingles, n_hit, contamination, contaminated) — fraction of
    each corpus document's distinct word ``n``-grams that appear anywhere
    in the benchmark set. The standard eval-decontamination check run
    before training (n-gram overlap against benchmark suites).

    Plan: ONE tokenize+explode pass over the corpus (``explode_fused`` —
    plain ``explode`` would duplicate the tokenization into an inferred
    pre-repartition filter, see ``operators.generate``), a broadcast hit
    mark against the benchmark's distinct shingle set, and one map-side-
    combined aggregation back to doc grain carrying (count, hit-count)
    partials — so the only full-data movement is the compute repartition.
    At 100 TB the join keys are uniform hash-partitioned strings (no
    skew: shingles heavier than ``max_df``-style caps are a dedup
    concern, not a containment one — a hit is a hit).
    """
    from .dedup import with_shingles

    shingled = with_shingles(docs, text_col=text_col, n=n).select(
        F.col(id_col).alias("doc"), "shingles"
    )
    bench_sh = (
        with_shingles(benchmark, text_col=text_col, n=n)
        .select(F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        explode_fused(shingled, "shingles", "shingle", keep=["doc"])
        .join(F.broadcast(bench_sh), "shingle", "left_outer")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "doc",
            "n_shingles",
            "n_hit",
            portable_round(F.col("n_hit") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
            (F.col("n_hit") / F.col("n_shingles") > flag_threshold).alias(
                "contaminated"
            ),
        )
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, n_tok, top_token_frac, dup_bigram_frac, keep) — Gopher-style
    within-document repetition signals (Rae et al. 2021 §A1.1: fraction
    of the document made of the most frequent token / of duplicated
    n-grams), with a keep flag under the ``GOPHER_*`` thresholds.

    top-token counting goes explode → (doc, token) count → doc max: two
    map-side-combinable aggregations rather than any per-doc loop, so the
    shuffle carries one row per DISTINCT (doc, token). The bigram ratio
    needs no shuffle at all — ``array_distinct`` over the in-row bigram
    array."""
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col).alias("doc"),
        toks.alias("__t"),
        F.size(toks).alias("n_tok"),
    )
    bigrams = F.expr(
        "transform(slice(__t, 1, size(__t) - 1), (x, i) -> concat(x, ' ', __t[i + 1]))"
    )
    bigram_side = base.select(
        "doc",
        "n_tok",
        F.when(F.col("n_tok") < 2, F.lit(0.0))
        .otherwise(
            portable_round(
                1.0 - F.size(F.array_distinct(bigrams)) / (F.col("n_tok") - 1), 6
            )
        )
        .alias("dup_bigram_frac"),
    )
    top_tok = (
        explode_fused(base, "__t", "tok", keep=["doc"])
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc")
        .agg(F.max("__c").alias("__top"))
    )
    return (
        bigram_side.join(top_tok, "doc")
        .select(
            "doc",
            F.col("n_tok").cast("long").alias("n_tok"),
            portable_round(F.col("__top") / F.col("n_tok"), 6).alias("top_token_frac"),
            "dup_bigram_frac",
            (
                (F.col("__top") / F.col("n_tok") <= GOPHER_MAX_TOP_TOKEN_FRAC)
                & (F.col("dup_bigram_frac") <= GOPHER_MAX_DUP_BIGRAM_FRAC)
            ).alias("keep"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows inside each stratum
    by ``md5(id)`` (a uniform, engine-portable pseudo-random order) and
    keep the first ``k``. Unlike ``sampleBy`` this is exactly replayable
    (oracle-able) and gives exact per-stratum quotas — the quota sampling
    a curriculum/data-mixture builder needs. One shuffle on the strata
    key; skewed strata are bounded by the window's streaming rank."""
    w = Window.partitionBy(*strata_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    token_count_col: Column | str = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, n_tok, start_offset, bin_start, bin_end) — concat-and-chunk
    sequence packing: documents are laid out contiguously in ``id``
    order and cut into fixed ``budget``-token training sequences; each
    doc reports the bins it lands in (straddling is the standard
    pretraining packing; bin_end - bin_start > 0 marks a straddle).

    The global token offset is an EXCLUSIVE running sum in a total
    order — computed scalably via range repartition + per-partition
    prefix sums + broadcast partition offsets (``global_cumsum``), not a
    one-task ``Window.orderBy``."""
    n_tok = (
        F.size(tokens(text_col))
        if token_count_col is None
        else (
            F.col(token_count_col)
            if isinstance(token_count_col, str)
            else token_count_col
        )
    )
    base = docs.select(F.col(id_col).alias("doc"), n_tok.cast("long").alias("n_tok"))
    summed = global_cumsum(base, order_cols=["doc"], value_col="n_tok", out_col="__cum")
    start = F.col("__cum") - F.col("n_tok")
    return summed.select(
        "doc",
        "n_tok",
        start.alias("start_offset"),
        F.floor(start / budget).cast("long").alias("bin_start"),
        F.floor((F.col("__cum") - 1) / budget).cast("long").alias("bin_end"),
    )


def export_shuffle(
    df: DataFrame, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """(doc, shuffle_pos) — deterministic global shuffle for training
    export: total order by ``md5(seed || id)`` (uniform, seeded,
    engine-portable), positions assigned 1..N with the scalable
    range-repartition numbering. Changing ``seed`` reshuffles; the same
    seed replays byte-identically on any engine."""
    keyed = df.select(
        F.col(id_col).alias("doc"),
        F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string"))).alias(
            "__shufkey"
        ),
    )
    return global_row_number(
        keyed, order_cols=["__shufkey", "doc"], id_col="shuffle_pos"
    ).select("doc", "shuffle_pos")


def c4_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, n_words, mean_word_len, alpha_ratio, has_curly, has_boilerplate,
    keep) — C4-style heuristic quality battery (Raffel et al. 2020 §2.2,
    applied at document grain): word-count bounds, mean word length in a
    human-language band, alphabetic-character ratio, and the curly-brace /
    "lorem ipsum" boilerplate rejects.

    Map-only: every signal is a whole-stage-codegen expression over the
    normalized text; zero shuffles, so at 100 TB this is scan-bound."""
    toks = tokens(text_col)
    norm = norm_text(text_col)
    n_words = F.size(toks)
    # single-space normalization => token chars = len(norm) - (n_words - 1).
    # Degenerate (empty/whitespace) docs: NULL ratios on both engines —
    # DuckDB's x/0 is NULL while Spark's ANSI mode RAISES, so the divisor
    # must be nulled out here (found by the full-registry regeneration fuzz)
    mean_wl = (F.length(norm) - (n_words - 1)) / F.when(
        n_words > 0, n_words
    )
    alpha = F.length(F.regexp_replace(norm, "[^a-z]", "")) / F.when(
        F.length(norm) > 0, F.length(norm)
    )
    has_curly = F.col(text_col).contains("{") | F.col(text_col).contains("}")
    has_boiler = norm.contains("lorem ipsum")
    return docs.select(
        F.col(id_col).alias("doc"),
        n_words.cast("long").alias("n_words"),
        portable_round(mean_wl, 6).alias("mean_word_len"),
        portable_round(alpha, 6).alias("alpha_ratio"),
        has_curly.alias("has_curly"),
        has_boiler.alias("has_boilerplate"),
        (
            n_words.between(*C4_WORDS)
            & mean_wl.between(*C4_MEAN_WORD_LEN)
            & (alpha >= C4_MIN_ALPHA_RATIO)
            & ~has_curly
            & ~has_boiler
        ).alias("keep"),
    )


def hashed_token_weight(tok: Column, dim: int = 1024, seed: int = 11) -> Column:
    """Deterministic pseudo-weight in [-0.5, 0.5] for a token: the token is
    hashed into one of ``dim`` feature buckets, and the bucket's weight is
    itself a portable hash — a fixed random-looking linear model both
    engines can replay (the shape of a fasttext-style quality scorer with
    hashed features; the weights here are synthetic stand-ins for a
    trained vector)."""
    bucket = seeded_hash64(tok, seed) % dim
    return (seeded_hash64(bucket.cast("string"), seed + 1) % 1001) / 1000.0 - 0.5


def hashed_quality_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    seed: int = 11,
) -> DataFrame:
    """(doc, n_tok, score, prob, keep) — linear quality score over hashed
    token features: mean bucket weight over the document's tokens, squashed
    through a logistic. The classifier-filter shape (CCNet / fasttext
    quality scoring) with a deterministic weight table.

    Map-only: the per-token weights are folded inside ``F.aggregate`` over
    the in-row token array — no explode, no shuffle; scan-bound at scale."""
    toks = tokens(text_col)
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, x: acc + hashed_token_weight(x, dim, seed),
    )
    score = portable_round(total / F.size(toks), 9)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6)
    return docs.select(
        F.col(id_col).alias("doc"),
        F.size(toks).cast("long").alias("n_tok"),
        portable_round(score, 6).alias("score"),
        prob.alias("prob"),
        (prob >= 0.5).alias("keep"),
    )


def domain_mixture(
    docs: DataFrame,
    strata_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """(strata..., n_docs, n_tokens, token_share, target_share,
    sampling_weight) — the data-mixture planning table: each domain's
    actual token share vs a uniform target, and the per-domain sampling
    weight (target/actual) a mixture-aware sampler would apply (the
    DoReMi/Pile-style domain-reweighting precursor).

    One map-side-combined aggregation on the strata key; the global totals
    join back as a broadcast of a 1-row aggregate."""
    per = docs.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_tokens").alias("__tot"), F.count(F.lit(1)).alias("__groups")
    )
    return per.crossJoin(F.broadcast(totals)).select(
        *strata_cols,
        "n_docs",
        "n_tokens",
        portable_round(F.col("n_tokens") / F.col("__tot"), 6).alias("token_share"),
        portable_round(F.lit(1.0) / F.col("__groups"), 6).alias("target_share"),
        portable_round(
            (F.lit(1.0) / F.col("__groups")) / (F.col("n_tokens") / F.col("__tot")), 6
        ).alias("sampling_weight"),
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int | None = None,
) -> DataFrame:
    """(doc, n_par, n_kept, clean_text) — corpus-level paragraph
    deduplication (the RefinedWeb/CCNet recipe): every paragraph that
    already occurred earlier in the corpus (smaller (doc, position)) is
    removed, and each document's text is reassembled from its surviving
    paragraphs in order.

    Paragraphs are ``\\n``-separated blocks; for corpora without newline
    structure pass ``chunk_tokens`` to use fixed token windows instead.

    Id contract (r10, stricter than the r9 struct form which accepted
    any long): ``id_col`` must be an integral type with ``0 ≤ id <
    2³¹`` — the hash-aggregable scalar encode's domain, gated loudly by
    ``first_owner_encode`` (dtype at plan build, bound at execution).
    For hashed-id corpora (xxhash64-style ids, negative or ≥ 2³¹),
    densify first — ``operators.relational.global_row_number`` assigns
    compact ids in one pass and any dense id order is a valid
    "first-occurrence" order for the dedup policy.

    Plan (round 10 — hot-paragraph-safe AND hash-aggregable): the
    global first owner of each paragraph is
    ``groupBy(md5(par)).agg(min(doc·2³² + pos))`` — a MAP-SIDE-COMBINED
    **HashAggregate**, so a universal boilerplate paragraph ("subscribe
    to our newsletter" in half the corpus) collapses to ONE candidate
    row per map task before the exchange and its reducer sees
    ≤ n_map_partitions rows, never the corpus. The winner is a SCALAR
    long, not ``min(struct(doc, pos, par))``: struct-min has no mutable
    fixed-width buffer, so the r9 struct form silently ran as
    SortAggregate on the exploded paragraph stream — the heaviest frame
    of the pipeline, full string bytes sorted per partition (the exact
    trap the despan encode measured at 291 s vs 174 s at 100×). The
    encode's bounds are gated by ``first_owner_encode`` (id dtype at
    plan build; ``doc < 2³¹`` at execution; ``pos < 2³²`` by
    posexplode's int type). Winner TEXT never rides a shuffle: the
    decoded winners collapse to (doc, surviving positions) — all
    scalars — and each document re-derives its own clean text by
    re-splitting and picking those positions after a doc-grain join, so
    the only frame that ever ships document bytes is the corpus itself,
    once, on its unique (hence perfectly uniform) doc key. The wins
    frame scales with corpus docs, so it rides a shuffle_hash hint,
    never a driver-collected broadcast (the despan r9 lesson:
    Catalyst's post-aggregation estimate guesses tiny and would plan a
    broadcast that collects ~GBs at scale). Earlier forms, for the
    record: ``row_number over Window.partitionBy(par)`` funneled every
    occurrence of each hot paragraph into one window task (r8's named
    100 TB failure mode; WindowGroupLimit cannot rescue it because the
    rank feeds an aggregate, not a ``rnk <= k`` filter); the r9
    struct-min paid a corpus-wide per-partition sort; a
    paragraph-grain winner-reattach join shuffles the whole exploded
    stream raw (measured 29.6 s / 3.5 GB vs 21.2 s / 1.8 GB for
    struct-min at 1000× — worse than the thing it replaced). Budget:
    one skew-immune combined shuffle of (32-hex-char hash, long), one
    int-only shuffle to doc grain, one corpus shuffle on the unique doc
    key. md5 (128-bit) keys the grouping: at corpus scale a 64-bit hash
    would birthday-collide and silently merge distinct paragraphs."""
    # NULL-text docs are excluded, matching every prior form: the
    # exploded-frame variants emitted zero rows for them, so they never
    # appeared in the output — the r10 doc-grain join keeps the full
    # docs frame and would otherwise emit them with NULL n_par (caught
    # by the r10 high-null full-registry fuzz, seed=1 us nr=0.25)
    docs = docs.filter(F.col(text_col).isNotNull())
    if chunk_tokens is None:
        pars = F.split(F.col(text_col), r"\n+")
    else:
        toks = tokens(text_col)
        n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
        pars = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
            ),
        )
    ex = docs.select(
        F.col(id_col).alias("doc"), F.posexplode(pars).alias("pos0", "par")
    ).select("doc", (F.col("pos0") + 1).alias("pos"), "par")
    # global first owner per distinct paragraph as ONE long (scalar min
    # = HashAggregate; struct-min would fall to SortAggregate over the
    # raw paragraph stream — see docstring). Column pruning means the
    # partial rows entering the exchange are (32-hex-char key, long):
    # paragraph TEXT never rides this shuffle at all.
    owners = ex.groupBy(F.md5("par").alias("__h")).agg(
        F.min(first_owner_encode(ex, "doc", "pos")).alias("__w")
    )
    # decode each winner back to (doc, pos) and collapse to DOC grain:
    # (doc, sorted surviving positions) — still all-scalar, one
    # uniform-key shuffle of ints
    wins = (
        owners.select(
            F.shiftright("__w", 32).alias("doc"),
            F.col("__w").bitwiseAND(F.lit((1 << 32) - 1)).cast("int").alias("pos"),
        )
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("pos")).alias("__wins"))
    )
    # winner TEXT is re-derived at doc grain, not joined back at
    # paragraph grain: each doc re-splits its own text and picks its
    # surviving positions, so the only frame that ever ships document
    # bytes is the corpus itself, once, on its unique doc key (the r10
    # first cut reattached par via a paragraph-grain join and shuffled
    # the whole exploded stream raw — measured 29.6 s / 3.5 GB read vs
    # 21.2 s / 1.8 GB for the struct form at 1000×; this form beats
    # both). wins scales with corpus docs — shuffle_hash, never a
    # driver-collected broadcast (Catalyst's post-agg estimate guesses
    # tiny).
    return docs.join(
        wins.hint("shuffle_hash"),
        docs[id_col].cast("long") == wins["doc"],
        "left",
    ).select(
        docs[id_col].cast("long").alias("doc"),
        F.size(pars).cast("long").alias("n_par"),
        F.coalesce(F.size("__wins"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(F.col("__wins"), lambda p: F.element_at(pars, p)),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


def mixture_resample(
    docs: DataFrame,
    strata_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, strata..., n_copies, copy_idx) — EXECUTE the mixture plan:
    each document is replicated ``floor(w)`` times plus one more when its
    deterministic md5-uniform draw falls under the fractional remainder,
    where ``w`` is the stratum's :func:`domain_mixture` sampling weight.
    Expected copy count per doc equals exactly ``w`` (stochastic rounding),
    so the output token mixture converges to the target share per stratum.

    All randomness is ``md5_hash64('mix|' || id) / 2^60`` — reproducible
    across engines and runs, which is what makes a 100 TB resample both
    restartable (no RNG state) and oracle-verifiable.
    """
    mix = domain_mixture(docs, strata_cols, text_col=text_col)
    w = F.col("sampling_weight")
    u = md5_hash64(
        F.concat(F.lit("mix|"), F.col(id_col).cast("string"))
    ) / F.lit(float(1 << 60))
    n_copies = (
        F.floor(w) + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    keyed = docs.select(id_col, *strata_cols).join(
        F.broadcast(mix.select(*strata_cols, "sampling_weight")), strata_cols
    )
    return (
        keyed.select(
            id_col, *strata_cols, n_copies.alias("n_copies")
        )
        .filter(F.col("n_copies") > 0)
        .select(
            id_col,
            *strata_cols,
            "n_copies",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
    )


def dsir_log_weights(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    seed: int = 17,
) -> DataFrame:
    """(doc_id, n_tok, log_weight, keep) — DSIR-style importance weights
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much more likely its hashed
    bag-of-words is under the TARGET domain's unigram distribution than
    under the RAW pool's, ``log w(d) = Σ_k c_dk · (ln p_k − ln q_k)``,
    with add-one smoothing on both distributions over ``dim`` hashed
    feature buckets. Documents with ``log_weight ≥ 0`` look more
    target-like than pool-like (the resampling step keeps a
    weight-proportional sample; the sign split is the hard-threshold
    variant).

    ``target_pred`` is a boolean column over ``docs`` marking the target
    domain (e.g. ``source ∈ {curated sources}``).

    Physical shape for 100 TB: the token stream is hashed to bucket ids
    inside whole-stage codegen and reduced ONCE, map-side combined, to
    the (doc, target-flag, bucket, count) grain — that reduced frame is
    eagerly checkpointed because it feeds two consumers (the ``dim``-row
    global count table and the per-doc scores); without the pin Catalyst
    would re-run the corpus-dominating tokenize+hash pass per consumer
    (the exact 3×-recompute the bloom pre-screen hit, PERF.md). The
    global λ table is O(dim) regardless of corpus size and rides back as
    a broadcast. The per-document score folds ``c_k · λ_k`` terms in
    bucket order via a sorted-array ``F.aggregate`` — a deterministic
    left fold the DuckDB oracle replays with ``list_reduce`` over the
    identically-ordered list, so the float sum is bit-identical across
    engines.
    """
    base = repartition_for_compute(
        docs.select(F.col(id_col), target_pred.alias("__is_target"), text_col)
    )
    toks = explode_fused(
        base.select(id_col, "__is_target", tokens(text_col).alias("__t")),
        "__t",
        "tok",
        keep=[id_col, "__is_target"],
    ).filter(F.col("tok") != "")
    # the md5 hash is non-negative, so pmod equals the oracle's %
    bucketed = toks.select(
        F.col(id_col),
        "__is_target",
        F.pmod(seeded_hash64(F.col("tok"), seed), F.lit(dim)).alias("bucket"),
    )
    # ONE pass over the token stream; everything below reads this
    # compact (≤ dim rows per doc, all longs) frame.
    dc = checkpoint_for_reuse(
        bucketed.groupBy(id_col, "__is_target", "bucket").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    bc = dc.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_target"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("__is_target"), 0).otherwise(F.col("c"))).alias("cq"),
    )
    tot = bc.agg(
        F.sum("ct").cast("double").alias("tct"),
        F.sum("cq").cast("double").alias("tcq"),
    )
    lam = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log((F.col("ct") + F.lit(1.0)) / (F.col("tct") + F.lit(float(dim))))
                - F.log((F.col("cq") + F.lit(1.0)) / (F.col("tcq") + F.lit(float(dim))))
            ).alias("lam"),
        )
    )
    terms = dc.join(F.broadcast(lam), "bucket").select(
        F.col(id_col),
        "c",
        "bucket",
        (F.col("c") * F.col("lam")).alias("term"),
    )
    folded = terms.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bucket", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x.getField("term"),
        ).alias("__lw"),
    )
    lw6 = portable_round(F.col("__lw"), 6)
    return folded.select(
        F.col(id_col),
        "n_tok",
        lw6.alias("log_weight"),
        (lw6 >= F.lit(0.0)).alias("keep"),
    )


def temperature_mixture_sqrt(
    docs: DataFrame,
    strata_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Temperature-sampled mixture shares at α = 0.5 (the multilingual
    up-sampling rule of mBERT/XLM-R/UniMax lineage): a stratum's target
    share is ``n_tokens^α / Σ_m n_tokens_m^α``, flattening the natural
    token distribution so low-resource strata are over-sampled. α is
    fixed at 0.5 because ``sqrt`` is IEEE-754 correctly rounded on every
    engine — the oracle reproduces it bit-identically, which a general
    ``pow(x, α)`` (libm, last-ulp divergence risk) cannot promise.

    One map-side-combined aggregation to stratum grain (the frame is
    |strata| rows — tiny at any corpus size), eagerly checkpointed
    because the denominator fold and the output both read it; the
    denominator folds ``sqrt(n_tokens)`` in stratum order so the float
    sum is deterministic and oracle-replayable.
    """
    toks = docs.select(*strata_cols, F.size(tokens(text_col)).alias("__n_tok"))
    per = toks.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n_tok").cast("long").alias("n_tokens"),
    )
    return temperature_shares_from_partials(per, strata_cols)


def temperature_shares_from_partials(
    per: DataFrame, strata_cols: list[str]
) -> DataFrame:
    """The α=0.5 share/weight math over (strata..., n_docs, n_tokens)
    partials — one row per stratum. Shared by
    :func:`temperature_mixture_sqrt` and the training-mix manifest so
    the sqrt-fold determinism contract (stratum-ordered ``F.aggregate``
    mirroring DuckDB ``list_reduce ... ORDER BY``) lives in one place.
    The partials are eagerly checkpointed here (|strata| rows) because
    the denominator fold and the output both read them."""
    per = checkpoint_for_reuse(per)
    sq = F.sqrt(F.col("n_tokens").cast("double"))
    denom = per.agg(
        F.sum("n_tokens").cast("double").alias("tot"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(*strata_cols, sq.alias("sq")))),
            F.lit(0.0),
            lambda acc, x: acc + x.getField("sq"),
        ).alias("sden"),
    )
    share = F.col("n_tokens").cast("double") / F.col("tot")
    tshare = F.sqrt(F.col("n_tokens").cast("double")) / F.col("sden")
    return per.crossJoin(F.broadcast(denom)).select(
        *strata_cols,
        "n_docs",
        "n_tokens",
        portable_round(share, 6).alias("token_share"),
        portable_round(tshare, 6).alias("temp_share"),
        portable_round(tshare / share, 6).alias("sampling_weight"),
    )


def datacard_from_docs(docs: DataFrame) -> DataFrame:
    """Datasheet census over a (lang, source, n_tok, n_chars)-bearing
    frame: ROLLUP to (lang × source / lang / grand) with doc/token/char
    totals, mean doc length and token share, one input row per doc.
    Backs the ``corpus_datacard`` plan.
    """
    docs = docs.withColumn("n_docs", F.lit(1))
    rolled = checkpoint_for_reuse(
        docs.rollup("lang", "source").agg(
            F.grouping_id().alias("gid"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    tot = rolled.filter(F.col("gid") == 3).select(
        F.col("n_tokens").cast("double").alias("tot")
    )
    return rolled.crossJoin(F.broadcast(tot)).select(
        F.coalesce("lang", F.lit("ALL")).alias("lang"),
        F.coalesce("source", F.lit("ALL")).alias("source"),
        F.col("gid").cast("int").alias("gid"),
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        portable_round(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("avg_doc_tokens"),
        portable_round(F.col("n_tokens").cast("double") / F.col("tot"), 6).alias(
            "token_share"
        ),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    payload_col: str = "text",
) -> DataFrame:
    """Corpus version diff: (key, status, chars_old, chars_new) for every
    document ADDED, REMOVED or CHANGED between two snapshots — the
    dataset-versioning primitive behind incremental training-data releases
    (what changed since the corpus the last model trained on?).

    Scale shape: each side reduces to (key, fingerprint, length) BEFORE
    the exchange — the full-outer join moves ~50 bytes/doc, never document
    payloads — and unchanged keys (the overwhelming majority of a
    production diff) are dropped immediately after. Fingerprint is md5 of
    the payload (null-safe via '' coalesce), so equal text always
    diffs-equal cross-engine.
    """
    def _slim(df: DataFrame, f: str, c: str) -> DataFrame:
        p = F.coalesce(F.col(payload_col), F.lit(""))
        return df.select(
            F.col(key_col).alias("k"),
            F.md5(p).alias(f),
            F.length(p).cast("long").alias(c),
        )

    j = _slim(old, "__fo", "chars_old").join(
        _slim(new, "__fn", "chars_new"), "k", "full_outer"
    )
    status = (
        F.when(F.col("__fo").isNull(), F.lit("added"))
        .when(F.col("__fn").isNull(), F.lit("removed"))
        .when(F.col("__fo") != F.col("__fn"), F.lit("changed"))
    )
    return (
        j.select(
            F.col("k").alias(key_col),
            status.alias("status"),
            "chars_old",
            "chars_new",
        )
        .filter(F.col("status").isNotNull())
    )
