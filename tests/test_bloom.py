"""Bloom membership filter: the dedup-ingest pre-screen sketch.

Contracts under test:
- NO FALSE NEGATIVES, ever: every built key probes true, at any sizing.
- False positives exist (it is a Bloom filter, not a set) under a
  deliberately undersized filter, and only ever inflate candidates.
- Mergeability: union two filters' word tables + re-bit_or == filter
  built over the union of keys.
- The registry query's visible contract: is_dup ⇒ bloom_candidate,
  with both candidate and definitely-new rows present on real data.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext.sketches import (
    bloom_build,
    bloom_contains,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def test_no_false_negatives_at_any_sizing(spark):
    built = _keys(spark, 0, 300)
    for n_words in (8, 64, 1024):
        bloom = bloom_build(built, "k", n_words=n_words)
        flags = bloom_contains(bloom, built, "k", n_words=n_words)
        assert flags.filter(~F.col("might_contain")).count() == 0, n_words


def test_false_positives_only_under_pressure_and_never_false_negatives(spark):
    built = _keys(spark, 0, 300)
    fresh = _keys(spark, 1000, 1300)  # disjoint from built
    # undersized: 8 words = 256 bits for 300 keys -> filter saturates
    tiny = bloom_build(built, "k", n_words=8)
    fp_tiny = bloom_contains(tiny, fresh, "k", n_words=8).filter(
        F.col("might_contain")
    )
    assert fp_tiny.count() > 0  # saturated filter must show FPs
    # well-sized: 1024 words = 32768 bits for 300 keys -> FPs vanish
    big = bloom_build(built, "k", n_words=1024)
    fp_big = bloom_contains(big, fresh, "k", n_words=1024).filter(
        F.col("might_contain")
    )
    assert fp_big.count() < 300 * 0.01


def test_merge_is_union_of_keys(spark):
    a, b = _keys(spark, 0, 200), _keys(spark, 150, 350)
    merged = (
        bloom_build(a, "k")
        .unionByName(bloom_build(b, "k"))
        .groupBy("word_idx")
        .agg(F.bit_or("word").cast("long").alias("word"))
    )
    direct = bloom_build(a.unionByName(b), "k")
    got = sorted(tuple(r) for r in merged.collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want


def test_registry_query_contract_on_real_documents(spark):
    from big_data_occupancy_detection_spark.plans.textops import (
        bloom_delta_prescreen,
    )

    rows = bloom_delta_prescreen(spark, SF_DIR).collect()
    assert len(rows) > 0
    # the visible Bloom contract: every exact dup is a candidate
    assert all(r.bloom_candidate for r in rows if r.is_dup)
    # the rolling-fingerprint key makes both outcomes appear on the
    # shipped corpus (near-dup clusters straddle the delta boundary)
    assert any(r.bloom_candidate for r in rows)
    assert any(not r.bloom_candidate for r in rows)


def test_contains_preserves_row_multiplicity(spark):
    """A raw ingest batch carries duplicates; the probe must return one
    output row per input row, not collapse them."""
    built = _keys(spark, 0, 50)
    bloom = bloom_build(built, "k")
    dup = spark.createDataFrame(
        [("key-1",), ("key-1",), ("key-1",), ("unseen",)], ["k"]
    )
    out = bloom_contains(bloom, dup, "k").collect()
    assert len(out) == 4
    assert sum(1 for r in out if r.k == "key-1" and r.might_contain) == 3


def test_bloom_null_keys_definitely_absent(spark):
    """NULL keys never enter the filter and probe as definitely-absent
    (r5 advice): concat_ws drops a null arg, so unguarded nulls would all
    share the bare-seed fingerprint — one null in the build making every
    null probe (and any ""-rendered key) a false positive."""
    from pyspark.sql import functions as F

    built = spark.createDataFrame(
        [("a",), (None,), ("b",)], "k string"
    )
    bloom = bloom_build(built, "k", n_words=64)
    probes = spark.createDataFrame(
        [("a",), (None,), ("zz-not-built",)], "k string"
    )
    got = {
        r["k"]: r["might_contain"]
        for r in bloom_contains(bloom, probes, "k", n_words=64).collect()
    }
    assert got["a"] is True
    assert got[None] is False  # definitely absent, never a bare-seed hit
    # row-preservation with nulls intact
    assert len(got) == 3
