"""Property tests for the round-3 pipeline operators: chunking, vocab
coverage, count-min heavy hitters, fuzzy (edit-distance-1) pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext import dedup as D
from big_data_occupancy_detection_spark.ext import sketches as SK
from big_data_occupancy_detection_spark.ext import text as TX
from big_data_occupancy_detection_spark.sources.readers import table


def test_chunk_documents_covers_every_token(spark, sf_dir):
    """Stride < window ⇒ every token position of every doc falls inside at
    least one chunk, and chunk k starts exactly at k·stride."""
    docs = table(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(docs, window=32, stride=24).collect()
    n_toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("n")
        ).collect()
    }
    per_doc = {}
    for c in chunks:
        assert c.start_tok == c.chunk_id * 24
        assert 1 <= c.n_toks <= 32
        assert len(c.chunk_text.split(" ")) == c.n_toks
        per_doc.setdefault(c.doc_id, []).append(c)
    assert set(per_doc) == set(n_toks)
    for doc_id, cs in per_doc.items():
        covered = set()
        for c in cs:
            covered.update(range(c.start_tok, c.start_tok + c.n_toks))
        assert covered == set(range(n_toks[doc_id])), doc_id
        # last chunk reaches the end; no chunk starts past the end
        assert max(c.start_tok + c.n_toks for c in cs) == n_toks[doc_id]
        assert all(c.start_tok < n_toks[doc_id] for c in cs)


def test_chunk_documents_single_chunk_short_doc(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    rows = TX.chunk_documents(df, window=10, stride=5).collect()
    assert len(rows) == 1
    assert (rows[0].start_tok, rows[0].n_toks, rows[0].chunk_text) == (0, 3, "a b c")


def test_vocab_coverage_monotone_and_bounded(spark, sf_dir):
    rows = sorted(
        TX.vocab_coverage(table(spark, sf_dir, "documents"), top_n=50).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    shares = [r.cum_share for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert shares[-1] <= 1.0 + 1e-9


def test_cms_estimates_never_undercount(spark, sf_dir):
    """The count-min overestimate bound: est >= exact for EVERY key, and
    each grid row sums to the total row count."""
    ev = table(spark, sf_dir, "events")
    hh = SK.cms_heavy_hitters(ev, "user_id", k=10_000_000)
    bad = hh.filter(F.col("est") < F.col("exact")).count()
    assert bad == 0
    n = ev.count()
    grid = SK.cms_build(ev, "user_id")
    sums = grid.groupBy("seed").agg(F.sum("cnt").alias("s")).collect()
    assert len(sums) == SK.CMS_DEPTH
    assert all(r.s == n for r in sums)


def test_cms_top_estimates_match_exact_on_low_collision_grid(spark, sf_dir):
    """With width >> distinct keys, collisions vanish and every estimate
    is exact."""
    ev = table(spark, sf_dir, "events").limit(2000)
    hh = SK.cms_heavy_hitters(ev, "user_id", k=50, width=65536).collect()
    assert hh and all(r.est == r.exact for r in hh)


def test_fuzzy_pairs_edit1_known_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "kitten"),   # dist 0 (duplicate)
            (3, "kittes"),   # substitution → dist 1 to kitten
            (4, "kitte"),    # deletion → dist 1 to kitten, 1 to kittes
            (5, "mitten"),   # substitution → dist 1 to kitten
            (6, "sitting"),  # dist 3 to kitten — must NOT appear
            (7, "xkitten"),  # insertion → dist 1 to kitten
        ],
        ["id", "name"],
    )
    pairs = {(r.a_id, r.b_id): r.dist for r in D.fuzzy_pairs_edit1(df, "name", "id").collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
    assert pairs[(1, 4)] == 1 and pairs[(3, 4)] == 1
    assert pairs[(1, 5)] == 1
    assert pairs[(1, 7)] == 1
    assert all(not (a == 6 or b == 6) for a, b in pairs)
    # mitten↔kittes is distance 2: blocked or verified away either way
    assert (5, 3) not in pairs and (3, 5) not in pairs


def test_repetition_features_discriminate_boilerplate(spark):
    """Gopher-style within-doc repetition: crafted docs must separate
    cleanly (the synthetic corpus is single-line and non-repetitive, so
    the discrimination contract lives here, the bit-exactness in the
    registry oracle)."""
    nav = "home about contact\n" * 5
    spam = " ".join(["buy cheap pills now today"] * 10)
    clean = "the quick brown fox jumps over the lazy dog near a river bank"
    docs = spark.createDataFrame(
        [
            (1, nav + "unique article body here"),
            (2, spam),
            (3, clean),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.repetition_features(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # nav-bar doc: 5 identical lines out of 6 -> 4/6 duplicate lines
    assert out[1].n_lines == 6
    assert abs(out[1].dup_line_frac - 4 / 6) < 1e-6
    assert out[1].dup_line_char_frac > 0.5
    # spam doc: every 5-gram window repeats; one bigram dominates
    assert out[2].dup_5gram_frac > 0.9
    assert out[2].top_bigram_cover_frac > 0.3
    # clean doc: no repeated lines or 5-grams
    assert out[3].dup_line_frac == 0.0
    assert out[3].dup_5gram_frac == 0.0
    # empty / NULL docs: all-zero row, never dropped
    for d in (4, 5):
        assert out[d].n_lines == 0
        assert out[d].dup_line_frac == 0.0
        assert out[d].dup_5gram_frac == 0.0


def test_repetition_oracle_parity_on_multiline_docs(spark, tmp_path):
    """The shipped corpus is single-line, so the fuzz sweep never
    exercises the dup-line half of the repetition oracle; this pins
    Spark-vs-DuckDB parity on crafted MULTI-line documents (padded
    lines, tabs, duplicates, empties, NULLs)."""
    import duckdb
    import importlib.util

    docs = spark.createDataFrame(
        [
            (1, "home about contact\nhome about contact\nbody text here"),
            (2, "  padded line \n\tpadded line\npadded line"),
            (3, "a b c d e f a b c d e f a b c d e f"),
            (4, "\n\n\n"),
            (5, ""),
            (6, None),
            (7, "one line only"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    spec = importlib.util.spec_from_file_location(
        "e", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    got = sorted(
        tuple(r)
        for r in m.queries()["doc_repetition_features"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            m.oracle_sql()["doc_repetition_features"]
        ).fetchall()
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[1][2] > 0  # dup_line_frac nonzero on the nav-bar doc
    assert by_id[2][2] > 0  # trim makes the padded lines duplicates
