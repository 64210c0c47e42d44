"""Property-based checks for the dedup family: star-contraction CC must
equal a naive DFS labeling on arbitrary graphs, and the prefix-filtered
n-gram Jaccard operators must equal a brute-force all-pairs Jaccard over
the same shingle sets on arbitrary corpora."""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from big_data_occupancy_detection_spark.ext.dedup import (
    connected_components,
    cross_corpus_near_dups,
    ngram_jaccard_pairs,
    with_shingles,
)

nodes = st.integers(min_value=0, max_value=30)
edges = st.lists(
    st.tuples(nodes, nodes).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


def _naive_components(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        comp, stack = [], [start]
        seen = {start}
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x] - seen:
                seen.add(y)
                stack.append(y)
        lbl = min(comp)
        for x in comp:
            label[x] = lbl
    return label


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=edges)
def test_cc_matches_naive(spark, pairs):
    df = spark.createDataFrame(pairs, ["d1", "d2"])
    got = {r.doc: r.cluster for r in connected_components(df).collect()}
    assert got == _naive_components(pairs)


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
docs_strategy = st.lists(
    st.lists(words, min_size=1, max_size=12).map(lambda ws: " ".join(ws)),
    min_size=2,
    max_size=10,
)


def _round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _brute_jaccard(sh: dict, left, right, t: float, max_df=None) -> set:
    """(d1, d2, jaccard) for every (d1, d2) in ``left`` × ``right`` whose
    6-digit rounded Jaccard reaches ``t``; with ``max_df``, shingles in
    more than ``max_df`` docs leave the intersection but not the sizes."""
    dfreq = Counter(s for ss in sh.values() for s in ss)
    hot = {s for s, c in dfreq.items() if max_df is not None and c > max_df}
    out = set()
    for d1, d2 in ((a, b) for a in left for b in right):
        inter = len((sh[d1] & sh[d2]) - hot)
        if inter:
            j = _round6(inter / (len(sh[d1]) + len(sh[d2]) - inter))
            if j >= t:
                out.add((d1, d2, j))
    return out


# a 3-word vocabulary makes shared shingles, near-dups and hot shingles
# common, so every threshold and guard level sees pairs on both sides
near_dup_docs = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma"]), min_size=1, max_size=12
    ).map(" ".join),
    min_size=2,
    max_size=16,
)


@settings(
    max_examples=2,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=near_dup_docs, cross_t=st.sampled_from([0.3, 0.5, 0.8]))
@example(
    # docs 0 and 1 share one shingle that no other doc has; each also has
    # a shingle in two more docs. At max_shingle_df=2 their Jaccard is
    # 1/3 with full sizes, and 1.0 if the sizes counted kept shingles only
    texts=[
        "alpha beta gamma delta",
        "alpha beta gamma eps",
        "beta gamma delta",
        "beta gamma delta beta",
        "beta gamma eps",
        "beta gamma eps beta",
    ],
    cross_t=0.3,
)
def test_ngram_jaccard_matches_brute_force(spark, texts, cross_t):
    """Both exact Jaccard operators against brute force over the
    ``with_shingles`` sets: the self-join at every threshold and guard
    level, and the corpus (even ids) × new (odd ids) form at one drawn
    threshold (the two share one kernel)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    sh = {r.doc_id: set(r.shingles) for r in with_shingles(df).collect()}
    ids = sorted(sh)
    for t in (0.3, 0.5, 0.8):
        for max_df in (None, 1, 2):
            got = {
                tuple(r)
                for r in ngram_jaccard_pairs(
                    df, threshold=t, max_shingle_df=max_df
                ).collect()
            }
            want = {
                p for p in _brute_jaccard(sh, ids, ids, t, max_df) if p[0] < p[1]
            }
            assert got == want, (t, max_df)
    corpus, new = ids[::2], ids[1::2]
    dups = {}
    for c, n, _ in _brute_jaccard(sh, corpus, new, cross_t):
        dups[n] = min(c, dups.get(n, c))
    got = {
        tuple(r)
        for r in cross_corpus_near_dups(
            df.filter(df.doc_id % 2 == 0),
            df.filter(df.doc_id % 2 == 1),
            threshold=cross_t,
        ).collect()
    }
    assert got == {(n, dups.get(n), n not in dups) for n in new}


def test_ngram_jaccard_keeps_pairs_at_float_edges(spark):
    """0.55 * 100 is 55.00000000000001 in doubles, so bounds computed at
    t = 0.55 exactly would drop a pair whose Jaccard is exactly 0.55
    (the shared kernel; :func:`cross_corpus_near_dups` runs the same)."""
    words = [f"w{i}" for i in range(102)]
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(words[:57]))], ["doc_id", "text"]
    )
    got = [tuple(r) for r in ngram_jaccard_pairs(df, threshold=0.55).collect()]
    assert got == [(0, 1, 0.55)]


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, dup_factor=st.integers(min_value=1, max_value=3))
def test_staged_clusters_equal_direct(spark, texts, dup_factor):
    """Exact-dedup-first staging must return the same (doc, cluster) set as
    running CC over the full-corpus pair graph — including duplicate-heavy
    corpora (every doc replicated dup_factor times)."""
    from big_data_occupancy_detection_spark.ext.dedup import (
        near_dup_clusters_staged,
        ngram_jaccard_pairs,
    )

    rows = [
        (i + 1000 * rep, t)
        for i, t in enumerate(texts)
        for rep in range(dup_factor)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    direct_pairs = ngram_jaccard_pairs(df, threshold=0.5)
    direct = {
        (r.doc, r.cluster)
        for r in connected_components(direct_pairs).collect()
    }
    staged = {
        (r.doc, r.cluster)
        for r in near_dup_clusters_staged(df, threshold=0.5).collect()
    }
    assert staged == direct


@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_strategy, dup_factor=st.integers(min_value=1, max_value=3))
def test_staged_minhash_pairs_equal_direct(spark, texts, dup_factor):
    """Rep-level banding + output-linear group expansion must emit exactly
    the direct MinHash-LSH pair set, scores included."""
    from big_data_occupancy_detection_spark.ext.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_staged,
    )

    rows = [
        (i + 1000 * rep, t)
        for i, t in enumerate(texts)
        for rep in range(dup_factor)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    direct = {
        (r.d1, r.d2, r.jaccard)
        for r in minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    staged = {
        (r.d1, r.d2, r.jaccard)
        for r in minhash_lsh_pairs_staged(df, threshold=0.5).collect()
    }
    assert staged == direct


def test_remove_repeated_spans_surgery(spark):
    """The apply half of exact-substring dedup: shared spans are cut from
    every doc carrying them, unique docs pass through, full-duplicate
    docs empty out, and length(clean) + removed == length(normalized)."""
    from big_data_occupancy_detection_spark.ext.dedup import (
        remove_repeated_spans,
        repeated_substring_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 51 ch
    full_dup = "x" * 40
    rows = [
        (1, f"alpha beta gamma {shared} delta epsilon"),
        (2, f"one two three four five six {shared} seven eight"),
        (3, "completely unique content with nothing repeated anywhere here"),
        (4, full_dup),
        (5, full_dup),
        (6, "tiny doc"),  # < min_len: no grams, passes through
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_repeated_spans(df).collect()}

    assert len(out) == 6
    # the shared sentence is gone from both carriers, the rest remains
    for d in (1, 2):
        assert shared not in out[d]["clean_text"]
        assert out[d]["n_spans"] == 1
        assert out[d]["removed_chars"] >= len(shared)
    assert "alpha beta gamma" in out[1]["clean_text"]
    assert "seven eight" in out[2]["clean_text"]
    # unique and sub-min_len docs: byte-identical passthrough
    assert out[3]["clean_text"] == rows[2][1]
    assert out[3]["n_spans"] == 0 and out[3]["removed_chars"] == 0
    assert out[6]["clean_text"] == "tiny doc"
    # exact full duplicates empty out entirely
    for d in (4, 5):
        assert out[d]["clean_text"] == ""
        assert out[d]["removed_chars"] == 40
    # conservation: every char is either kept or removed
    spans = repeated_substring_spans(df).collect()
    norm = {r["doc_id"]: " ".join(t.split()).lower().strip()
            for r, t in zip(df.collect(), [x[1] for x in rows])}
    for d, r in out.items():
        assert len(r["clean_text"]) + r["removed_chars"] == len(norm[d])
    # spans and surgery agree per doc
    per_doc = {}
    for s in spans:
        per_doc[s["doc_id"]] = per_doc.get(s["doc_id"], 0) + 1
    for d, r in out.items():
        assert per_doc.get(d, 0) == r["n_spans"]


def test_remove_repeated_spans_keep_first(spark):
    """keep_first=True (round 9): exactly ONE copy of every duplicated
    region survives — the corpus-wide first occurrence (min (doc, pos))
    passes through untouched, later carriers are cut; within one doc the
    earlier occurrence wins."""
    from big_data_occupancy_detection_spark.ext.dedup import (
        remove_repeated_spans,
    )

    # NON-periodic duplicated strings: for self-overlapping content
    # (period < min_len, e.g. "y"*40) a window's own shifted copies are
    # "later occurrences", so keep-first still spans most of the first
    # region — window-grain semantics both engines share (oracle-parity
    # green); ordinary prose never self-overlaps at 30 chars
    shared = "the quick brown fox jumps over the lazy dog tonight"
    full_dup = "unique forty character padding abcdefgh"
    rep = "remarkable zebra quartz vexing jump"
    rows = [
        (1, f"alpha beta gamma {shared} delta"),   # first carrier: kept
        (2, f"one two three {shared} four five"),  # later carrier: cut
        (3, full_dup),                             # first full dup: kept
        (4, full_dup),                             # later full dup: emptied
        (5, f"{rep} middle words {rep}"),          # within-doc repeat:
                                                   # first stays, second cut
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(df, keep_first=True).collect()
    }
    assert shared in out[1]["clean_text"] and out[1]["removed_chars"] == 0
    assert shared not in out[2]["clean_text"]
    assert "one two three" in out[2]["clean_text"]
    assert out[3]["clean_text"] == full_dup and out[3]["n_spans"] == 0
    assert out[4]["clean_text"] == "" and out[4]["removed_chars"] == 39
    # within-doc: the first z-run survives, the second is spanned out
    assert out[5]["clean_text"].startswith(rep)
    assert out[5]["removed_chars"] >= len(rep)
    # every removal the keep-first pass makes, the remove-all pass also
    # makes (keep-first spans are a subset by construction)
    alln = {
        r["doc_id"]: r for r in remove_repeated_spans(df).collect()
    }
    for d in out:
        assert alln[d]["removed_chars"] >= out[d]["removed_chars"]


# ---------------------------------------------------------------------------
# Round-5 operators: frontier BFS and weighted percentiles vs naive
# references (same style as the as-of property suite).
# ---------------------------------------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=25
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=_edges, depth=st.integers(1, 4))
def test_bfs_levels_matches_python_bfs(spark, pairs, depth):
    from big_data_occupancy_detection_spark.ext.graph import bfs_levels

    pairs = [(a, b) for a, b in pairs if a != b]
    sym = pairs + [(b, a) for a, b in pairs]
    if not sym:
        return
    edges = spark.createDataFrame(sym, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {
        r.node: r.depth for r in bfs_levels(edges, seeds, max_depth=depth).collect()
    }

    # reference BFS
    adj = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)
    want, frontier = {0: 0}, {0}
    for d in range(1, depth + 1):
        nxt = set()
        for n in frontier:
            nxt |= adj.get(n, set())
        nxt -= want.keys()
        for n in nxt:
            want[n] = d
        frontier = nxt
        if not frontier:
            break
    assert got == want


_wrows = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 9)), min_size=1, max_size=25
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_wrows, ks=st.sets(st.integers(1, 99), min_size=1, max_size=4))
def test_weighted_percentiles_match_naive(spark, rows, ks):
    from big_data_occupancy_detection_spark.operators.relational import (
        weighted_percentiles,
    )

    df = spark.createDataFrame(
        [(float(v), int(w)) for v, w in rows], "v DOUBLE, w LONG"
    )
    got = {
        r.pct: r.value
        for r in weighted_percentiles(df, "v", "w", sorted(ks)).collect()
    }

    # naive: smallest value whose cumulative weight*100 >= k*total
    agg = {}
    for v, w in rows:
        agg[float(v)] = agg.get(float(v), 0) + w
    total = sum(agg.values())
    for k in ks:
        # when total == 0, cum*100 >= k*0 holds at the first value, so the
        # smallest value wins on both paths — no special case needed
        expect = None
        cum = 0
        for v in sorted(agg):
            cum += agg[v]
            if cum * 100 >= k * total:
                expect = v
                break
        assert got.get(k) == expect, (k, got, agg)


# Round-10: the scalar first-owner encode (doc·2³² + pos) must order
# IDENTICALLY to lexicographic (doc, pos) everywhere inside its gated
# bounds — the despan keep-first winner and paragraph_dedup's first
# owner both hang off this equivalence (a divergence silently elects a
# wrong winner; the runtime gate only catches out-of-bound ids, not an
# encode that mis-orders in-bound ones).
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 31) - 1),
            st.integers(min_value=0, max_value=(1 << 32) - 1),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(deadline=None, max_examples=200)
def test_first_owner_encode_orders_like_tuple(pairs):
    enc = lambda d, p: d * (1 << 32) + p
    by_enc = min(pairs, key=lambda t: enc(*t))
    by_tuple = min(pairs)
    assert enc(*by_enc) == enc(*by_tuple)
    # strict monotonicity on distinct pairs
    s = sorted(set(pairs))
    encs = [enc(*t) for t in s]
    assert encs == sorted(encs) and len(set(encs)) == len(s)
