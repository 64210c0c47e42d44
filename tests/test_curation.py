"""Unit tests for the training-data curation operators.

The registry queries over these (pii_redaction, benchmark_contamination,
repetition_filter, stratified_sample_docs, pack_training_sequences,
export_shuffle_order) are hash-verified against DuckDB oracles in
``test_oracle_parity.py``; these tests pin the operator-level semantics
on hand-built inputs where the expected values are human-checkable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext import curation as C
from big_data_occupancy_detection_spark.operators.relational import (
    global_cumsum,
    weighted_percentiles,
)


def test_global_cumsum_matches_serial_prefix_sum(spark):
    rows = [Row(k=i, v=(i * 7) % 13 + 1) for i in range(500)]
    df = spark.createDataFrame(rows).repartition(13)
    out = {
        r.k: r.cumsum
        for r in global_cumsum(df, ["k"], "v", out_col="cumsum").collect()
    }
    acc = 0
    for r in rows:
        acc += r.v
        assert out[r.k] == acc


@pytest.mark.parametrize("keys", [["k"], ["neg", "k"]], ids=["numeric", "composite"])
def test_global_cumsum_matches_naive_window_without_exchange_reuse(
    spark, no_exchange_reuse, keys
):
    rows = [(i, -(i % 7), (i * 11) % 17 - 5) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, neg long, v long").repartition(7)
    got = {r.k: r.cs for r in global_cumsum(df, keys, "v", out_col="cs").collect()}
    w = Window.orderBy(*keys).rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.cs for r in df.withColumn("cs", F.sum("v").over(w)).collect()}
    assert got == want


def test_weighted_percentiles_match_naive_window_without_exchange_reuse(
    spark, no_exchange_reuse
):
    rows = [(float((i * 37) % 101), i % 5) for i in range(400)]
    df = spark.createDataFrame(rows, "v double, w long")
    pcts = [1, 25, 50, 75, 99, 100]
    got = {r.pct: r.value for r in weighted_percentiles(df, "v", "w", pcts).collect()}
    g = df.groupBy("v").agg(F.sum("w").alias("w"))
    c = g.select(
        "v",
        F.sum("w").over(Window.orderBy("v")).alias("cumw"),
        F.sum("w").over(Window.partitionBy()).alias("tot"),
    )
    want = {
        k: c.filter(F.col("cumw") * 100 >= k * F.col("tot")).agg(F.min("v")).first()[0]
        for k in pcts
    }
    assert got == want


def test_redact_pii_masks_all_classes(spark):
    df = spark.createDataFrame(
        [(1, "write a@b.co or call +1-555-0101 from 10.0.0.1 ok")], ["id", "t"]
    )
    out = df.select(
        C.redact_pii("t").alias("r"), *C.pii_counts("t").values()
    ).collect()[0]
    assert out.r == "write [EMAIL] or call [PHONE] from [IPV4] ok"
    assert (out.n_email, out.n_phone, out.n_ipv4) == (1, 1, 1)


def test_repetition_stats_flags_degenerate_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),
            (2, " ".join(f"word{i}" for i in range(30))),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc: r for r in C.repetition_stats(df).collect()}
    assert out[1].top_token_frac == 1.0
    assert out[1].dup_bigram_frac == 0.75  # 4 bigrams, 1 distinct
    assert not out[1].keep
    assert out[2].keep


def test_stratified_sample_exact_quota(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, g=i % 3) for i in range(90)]
    )
    out = C.stratified_sample(df, ["g"], k=5)
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 5, 1: 5, 2: 5}
    # deterministic: same input -> same sample
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in C.stratified_sample(df, ["g"], k=5).collect())
    assert a == b


def test_pack_sequences_straddle_and_offsets(spark):
    # 3 docs of 100 tokens each at budget 256: doc 2 straddles bins 0->1.
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(100))) for i in range(1, 4)],
        ["doc_id", "text"],
    )
    out = {r.doc: r for r in C.pack_sequences(docs, budget=256).collect()}
    assert [out[i].start_offset for i in (1, 2, 3)] == [0, 100, 200]
    assert (out[1].bin_start, out[1].bin_end) == (0, 0)
    assert (out[2].bin_start, out[2].bin_end) == (0, 0)
    assert (out[3].bin_start, out[3].bin_end) == (0, 1)  # 200..299 straddles


def test_export_shuffle_is_seeded_permutation(spark):
    df = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    a = C.export_shuffle(df, seed=7).collect()
    assert sorted(r.shuffle_pos for r in a) == list(range(1, 201))
    b = {r.doc: r.shuffle_pos for r in C.export_shuffle(df, seed=7).collect()}
    assert {r.doc: r.shuffle_pos for r in a} == b  # replayable
    c = {r.doc: r.shuffle_pos for r in C.export_shuffle(df, seed=8).collect()}
    assert {r.doc: r.shuffle_pos for r in a} != c  # seed changes the order


def test_pagerank_star_graph(spark):
    # star: hub 0 <-> leaves 1..4 (undirected). Leaves are symmetric, hub
    # gets the most mass; ranks sum to ~1.
    from big_data_occupancy_detection_spark.ext.graph import pagerank

    pairs = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["src", "dst"]
    )
    out = {r.node: r.pagerank for r in pagerank(edges, n_iters=3).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    leaves = {out[i] for i in range(1, 5)}
    assert len(leaves) == 1  # symmetric leaves identical
    assert out[0] > max(leaves)


def test_pagerank_dangling_mass_conserved(spark):
    # 1 -> 2 -> 3, node 3 dangling: total rank stays 1.
    from big_data_occupancy_detection_spark.ext.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = {r.node: r.pagerank for r in pagerank(edges, n_iters=4).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert out[3] > out[2] > out[1]


def test_bfs_levels_matches_naive(spark):
    """BFS depths = shortest hop counts; cycles don't loop; disconnected
    nodes are absent; the cap truncates; multi-seed takes the min."""
    from big_data_occupancy_detection_spark.ext.graph import bfs_levels

    # 0-1-2-3-4 path with a 1-2-5-1 cycle; 9 isolated
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 5), (5, 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    out = {r.node: r.depth for r in bfs_levels(edges, seeds, max_depth=8).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 2}

    capped = {r.node: r.depth for r in bfs_levels(edges, seeds, max_depth=2).collect()}
    assert capped == {0: 0, 1: 1, 2: 2, 5: 2}

    two_seeds = spark.createDataFrame([(0,), (4,)], ["node"])
    both = {
        r.node: r.depth for r in bfs_levels(edges, two_seeds, max_depth=8).collect()
    }
    assert both == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2, 5: 2}


def test_semantic_dedup_drops_near_identical(spark):
    from big_data_occupancy_detection_spark.ext.similarity import semantic_dedup

    base = [1.0] + [0.0] * 7
    rows = [
        (1, base),
        (2, [0.999] + [0.001] * 7),          # near-dup of 1
        (3, [0.0] * 7 + [1.0]),              # orthogonal
        (4, [float(i) / 10 for i in range(8)]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {r.vid: r for r in semantic_dedup(emb, threshold=0.95, n_centroids=2).collect()}
    assert out[1].keep and out[1].dup_of is None
    assert not out[2].keep and out[2].dup_of == 1
    assert out[3].keep


def test_paragraph_dedup_newline_default(spark):
    from big_data_occupancy_detection_spark.ext.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\nshared para\ngamma"),
            (2, "shared para\ndelta"),        # 'shared para' seen in doc 1
            (3, "delta\nalpha beta"),          # both seen earlier
        ],
        ["doc_id", "text"],
    )
    out = {r.doc: r for r in paragraph_dedup(docs).collect()}
    assert (out[1].n_par, out[1].n_kept) == (3, 3)
    assert out[1].clean_text == "alpha beta shared para gamma"
    assert (out[2].n_par, out[2].n_kept) == (2, 1)
    assert out[2].clean_text == "delta"
    assert (out[3].n_par, out[3].n_kept) == (2, 0)
    assert out[3].clean_text == ""


def test_paragraph_dedup_plan_is_hot_key_safe(spark):
    # round-9 verdict item 1 + round-10 hardening: the first-owner
    # computation must be a map-side-combined aggregate (partial_min
    # visible), NEVER a window partitioned by the raw paragraph string
    # (a hot boilerplate paragraph would funnel its every occurrence
    # into one window task) — and it must stay a HASH aggregate:
    # the r9 min(struct(doc,pos,par)) form satisfied "partial_" but ran
    # as SortAggregate on both sides, sorting the raw paragraph stream
    # per partition (the despan 291s-vs-174s trap).
    from big_data_occupancy_detection_spark.ext.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "a b\nc d"), (2, "c d\ne f")], ["doc_id", "text"]
    )
    plan = (
        paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, "first-owner regressed to a window"
    assert "partial_min" in plan or "partial_" in plan, (
        "first-owner aggregate lost its map-side partial step"
    )
    assert "SortAggregate" not in plan, (
        "an aggregate fell off HashAggregate (struct/non-fixed-width "
        "buffer?) — the r9 SortAggregate trap is back"
    )
    assert "BroadcastExchange" not in plan, (
        "the owners frame (scales with distinct corpus content) must "
        "never be planned as a broadcast"
    )


def test_paragraph_dedup_rejects_non_integral_id(spark):
    # round-9 ADVICE: a string id implicit-cast to double loses
    # precision past 2^53 and silently elects a wrong first owner —
    # the encode must refuse at plan-build time.
    import pytest

    from big_data_occupancy_detection_spark.ext.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [("a", "x y\nz w")], ["doc_id", "text"]
    )
    with pytest.raises(TypeError, match="integral"):
        paragraph_dedup(docs)


def test_first_owner_encode_runtime_bound_gate(spark):
    # the doc < 2^31 execution-time gate: a violating id must raise
    # loudly, never silently overflow into a wrong winner.
    import pytest

    from big_data_occupancy_detection_spark.ext.dedup import first_owner_encode

    df = spark.createDataFrame([(1 << 31, 1)], ["doc", "pos"])
    with pytest.raises(Exception, match="2\\^31"):
        df.select(first_owner_encode(df, "doc", "pos").alias("e")).collect()
    ok = spark.createDataFrame([(5, 3), (2, 9)], ["doc", "pos"])
    got = sorted(
        r.e for r in ok.select(
            first_owner_encode(ok, "doc", "pos").alias("e")
        ).collect()
    )
    assert got == [2 * (1 << 32) + 9, 5 * (1 << 32) + 3]


def test_scd2_history_runs_and_versions(spark):
    from big_data_occupancy_detection_spark.operators.temporal import scd2_history

    rows = [
        (1, "a", 10, 100),
        (1, "a", 20, 101),  # same run
        (1, "b", 30, 102),  # change -> v2
        (1, "a", 40, 103),  # change back -> v3
        (2, "x", 15, 104),
    ]
    df = spark.createDataFrame(rows, ["uid", "attr", "ts", "eid"])
    out = sorted(
        scd2_history(df, ["uid"], "attr", "ts", ["eid"]).collect(),
        key=lambda r: (r.uid, r.version),
    )
    u1 = [r for r in out if r.uid == 1]
    assert [(r.attr, r.valid_from, r.valid_to, r.version) for r in u1] == [
        ("a", 10, 30, 1),
        ("b", 30, 40, 2),
        ("a", 40, None, 3),
    ]
    assert [r.is_current for r in u1] == [False, False, True]
    u2 = [r for r in out if r.uid == 2]
    assert len(u2) == 1 and u2[0].is_current


def test_hll_sketch_union_equals_direct_sketch(spark, sf_dir):
    """The rollup-tree property: union of per-group HLL sketches gives the
    SAME estimate as sketching the whole column directly (register-max
    merge is lossless), and the estimate is within rsd of exact."""
    from big_data_occupancy_detection_spark.sources.readers import table

    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0].e
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).collect()[0].e
    exact = ev.select("user_id").distinct().count()
    assert merged == direct
    assert abs(merged - exact) / exact < 0.05


def test_dsir_log_weights_matches_reference_fold(spark):
    """dsir_log_weights equals an independent Python reimplementation of
    the DSIR math (hashed bag-of-words, add-one smoothing, bucket-ordered
    left fold) and ranks target-like raw docs above pool-like ones."""
    import hashlib
    import math

    dim, seed = 64, 17
    corpus = {
        1: ("alpha beta gamma", True),
        2: ("alpha alpha beta", True),
        3: ("gamma beta delta", True),
        4: ("zed yankee xray", False),
        5: ("zed zed yankee", False),
        6: ("xray zed victor", False),
        7: ("alpha beta gamma", False),  # raw but target-like
        8: ("zed zed zed", False),
    }
    df = spark.createDataFrame(
        [(k, t, g) for k, (t, g) in corpus.items()], ["doc_id", "text", "is_t"]
    )
    out = {
        r.doc_id: r
        for r in C.dsir_log_weights(
            df, F.col("is_t"), dim=dim, seed=seed
        ).collect()
    }

    def h(tok: str) -> int:
        return int(hashlib.md5(f"{seed}|{tok}".encode()).hexdigest()[:15], 16)

    ct: dict[int, int] = {}
    cq: dict[int, int] = {}
    for text, is_t in corpus.values():
        for tok in text.split():
            b = h(tok) % dim
            d = ct if is_t else cq
            d[b] = d.get(b, 0) + 1
    tct, tcq = float(sum(ct.values())), float(sum(cq.values()))
    for doc_id, (text, _) in corpus.items():
        counts: dict[int, int] = {}
        for tok in text.split():
            b = h(tok) % dim
            counts[b] = counts.get(b, 0) + 1
        acc = 0.0
        for b in sorted(counts):
            lam = math.log((ct.get(b, 0) + 1.0) / (tct + dim)) - math.log(
                (cq.get(b, 0) + 1.0) / (tcq + dim)
            )
            acc += counts[b] * lam
        expected = math.floor(acc * 1e6 + 0.5) / 1e6
        assert out[doc_id].log_weight == expected, doc_id
        assert out[doc_id].n_tok == len(text.split())
        assert out[doc_id].keep == (expected >= 0.0)

    # target-like content scores identically whether in target or pool
    assert out[7].log_weight == out[1].log_weight
    # and strictly above pool-like content
    assert out[7].log_weight > out[8].log_weight
    assert out[1].keep and not out[8].keep


def test_corpus_datacard_grains_are_consistent(spark, sf_dir):
    from big_data_occupancy_detection_spark.plans.curation import corpus_datacard

    rows = corpus_datacard(spark, sf_dir).collect()
    grand = [r for r in rows if r.gid == 3]
    langs = [r for r in rows if r.gid == 1]
    leaves = [r for r in rows if r.gid == 0]
    assert len(grand) == 1
    g = grand[0]
    assert (g.lang, g.source) == ("ALL", "ALL")
    assert g.token_share == 1.0
    # every grain re-adds to the grand totals
    for grain in (langs, leaves):
        assert sum(r.n_docs for r in grain) == g.n_docs
        assert sum(r.n_tokens for r in grain) == g.n_tokens
        assert sum(r.n_chars for r in grain) == g.n_chars
    # shares are token-proportional
    for r in langs:
        import math

        assert r.token_share == math.floor(r.n_tokens / g.n_tokens * 1e6 + 0.5) / 1e6


def test_perplexity_buckets_split_is_ordered_partition(spark, sf_dir):
    from big_data_occupancy_detection_spark.plans.analytics import (
        doc_bigram_logprob,
        doc_perplexity_buckets,
    )

    buckets = {r.bucket: r for r in doc_perplexity_buckets(spark, sf_dir).collect()}
    assert set(buckets) == {1, 2, 3}
    n_docs = doc_bigram_logprob(spark, sf_dir).count()
    assert sum(r.n_docs for r in buckets.values()) == n_docs
    # ntile quota: first N % 3 buckets get one extra row
    base, extra = divmod(n_docs, 3)
    assert sorted((r.n_docs for r in buckets.values()), reverse=True) == [
        base + (1 if i < extra else 0) for i in range(3)
    ]
    # head scores strictly above middle above tail (desc LM score order)
    assert buckets[1].min_logprob >= buckets[2].max_logprob
    assert buckets[2].min_logprob >= buckets[3].max_logprob


def test_temperature_mixture_sqrt_flattens_shares(spark):
    # lang a: 1 doc x 100 tokens, lang b: 1 doc x 400 tokens
    df = spark.createDataFrame(
        [(1, "a", " ".join(["x"] * 100)), (2, "b", " ".join(["y"] * 400))],
        ["doc_id", "lang", "text"],
    )
    out = {
        r.lang: r
        for r in C.temperature_mixture_sqrt(df, ["lang"]).collect()
    }
    assert out["a"].n_tokens == 100 and out["b"].n_tokens == 400
    assert out["a"].token_share == 0.2 and out["b"].token_share == 0.8
    # sqrt temperature: 10 / (10+20) and 20 / (10+20)
    assert out["a"].temp_share == 0.333333
    assert out["b"].temp_share == 0.666667
    # low-resource stratum is up-sampled, high-resource down-sampled
    assert out["a"].sampling_weight > 1.0 > out["b"].sampling_weight
    assert out["a"].sampling_weight == 1.666667
    assert out["b"].sampling_weight == 0.833333


def test_training_mix_manifest_composes_curation_and_mixture(spark, sf_dir):
    import math

    from big_data_occupancy_detection_spark.plans.textops import (
        corpus_curation,
        training_mix_manifest,
    )

    kept = {r.doc_id for r in corpus_curation(spark, sf_dir).collect()}
    rows = training_mix_manifest(spark, sf_dir).collect()
    # manifest == survivors, one row each
    assert {r.doc_id for r in rows} == kept and len(rows) == len(kept)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
        # multiplicity is the stochastic rounding of the weight
        assert r.n_copies in (
            math.floor(r.sampling_weight),
            math.floor(r.sampling_weight) + 1,
        )
    # temperature flattening: the token-heaviest lang is down-weighted
    # relative to the lightest
    tokens_by_lang = {
        lang: sum(r.n_tokens for r in rs) for lang, rs in by_lang.items()
    }
    heavy = max(tokens_by_lang, key=tokens_by_lang.get)
    light = min(tokens_by_lang, key=tokens_by_lang.get)
    assert by_lang[light][0].sampling_weight > by_lang[heavy][0].sampling_weight


def test_dsir_matches_reference_on_random_corpora(spark):
    """Hypothesis twin of the fixed-corpus DSIR test: random small
    corpora (including empty docs and all-target / all-pool splits)
    against an independent Python fold."""
    import hashlib
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    dim, seed = 32, 17
    words = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", ""])
    docs_strategy = st.lists(
        st.tuples(st.lists(words, max_size=8), st.booleans()),
        min_size=1,
        max_size=12,
    )

    def h(tok: str) -> int:
        return int(hashlib.md5(f"{seed}|{tok}".encode()).hexdigest()[:15], 16)

    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus=docs_strategy)
    def run(corpus):
        rows = [
            (i, " ".join(toks), is_t) for i, (toks, is_t) in enumerate(corpus)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
        got = {
            r.doc_id: (r.n_tok, r.log_weight, r.keep)
            for r in C.dsir_log_weights(
                df, F.col("is_t"), dim=dim, seed=seed
            ).collect()
        }
        # reference fold (normalized tokenization: split on whitespace,
        # drop empties — matching functions.text_fns.tokens)
        ct: dict[int, int] = {}
        cq: dict[int, int] = {}
        toks_by_doc = {
            i: [t for t in text.split() if t] for i, text, _ in rows
        }
        for i, _, is_t in rows:
            for tok in toks_by_doc[i]:
                b = h(tok) % dim
                d = ct if is_t else cq
                d[b] = d.get(b, 0) + 1
        tct, tcq = float(sum(ct.values())), float(sum(cq.values()))
        for i, _, _ in rows:
            toks = toks_by_doc[i]
            if not toks:
                assert i not in got  # empty docs drop out on both sides
                continue
            counts: dict[int, int] = {}
            for tok in toks:
                b = h(tok) % dim
                counts[b] = counts.get(b, 0) + 1
            acc = 0.0
            for b in sorted(counts):
                lam = math.log((ct.get(b, 0) + 1.0) / (tct + dim)) - math.log(
                    (cq.get(b, 0) + 1.0) / (tcq + dim)
                )
                acc += counts[b] * lam
            expected = math.floor(acc * 1e6 + 0.5) / 1e6
            assert got[i] == (len(toks), expected, expected >= 0.0), i

    run()
