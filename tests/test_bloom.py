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


def test_streaming_bloom_merge_equals_batch_build(spark, tmp_path):
    """Mergeability across micro-batches: a Bloom accumulated via
    foreachBatch must equal the filter built over all keys at once, and
    its driver-side probes must agree with the distributed
    bloom_contains verdicts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_occupancy_detection_spark.ext.sketches import (
        BloomAccumulator,
    )

    keys = [f"key-{i}" for i in range(400)]
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"k": keys[i * 140 : (i + 1) * 140]}),
            src / f"b{i}.parquet",
        )
    # 400 keys deliberately saturate a 2048-bit filter (~62% fill) to
    # exercise merge equality — lift the r10 saturation ceiling for it
    acc = BloomAccumulator(n_words=64, max_fill=1.0)
    q = (
        spark.readStream.schema("k string")
        .parquet(str(src))
        .writeStream.foreachBatch(acc.foreach_batch("k"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_keys = spark.createDataFrame([(k,) for k in keys], ["k"])
    batch_words = {
        r.word_idx: r.word
        for r in bloom_build(all_keys, "k", n_words=64).collect()
    }
    assert acc.words == batch_words

    probe = spark.createDataFrame(
        [(k,) for k in keys[:20] + [f"unseen-{i}" for i in range(20)]], ["k"]
    )
    dist = {
        r.k: r.might_contain
        for r in bloom_contains(
            acc.as_dataframe(spark), probe, "k", n_words=64
        ).collect()
    }
    for k, want in dist.items():
        assert acc.might_contain(k) == want
    assert all(dist[k] for k in keys[:20])  # no false negatives


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


def test_bloom_accumulator_saturation_guard(spark):
    """Round-10 verdict item 2: the accumulated filter must fail LOUDLY
    as it saturates (fpr -> 1 silently starves a bloom-prescreened
    crawl), with the rejected batch NOT applied — the max_keys contract
    on the bit axis — and warn past warn_fill."""
    import warnings

    import pytest

    from big_data_occupancy_detection_spark.ext.sketches import (
        BloomAccumulator,
    )

    # 2 words = 64 bits: a handful of keys saturates it
    acc = BloomAccumulator(n_words=2, k=5)
    b1 = spark.createDataFrame([("a",), ("b",)], "k string")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # under-threshold merge is silent
        # pyspark leaves collect sockets for the GC to close; a
        # ResourceWarning from that is not the accumulator's
        warnings.simplefilter("ignore", ResourceWarning)
        acc.merge_batch(b1, "k")
    words_before = dict(acc.words)
    fill_before = acc.fill_ratio()
    assert 0 < fill_before <= 0.25
    big = spark.createDataFrame([(f"k{i}",) for i in range(50)], "k string")
    with pytest.raises(ValueError, match="fill"):
        acc.merge_batch(big, "k")
    # state unchanged: the batch was NOT applied
    assert acc.words == words_before
    assert acc.fill_ratio() == fill_before
    # warn band: a merge that lands between warn_fill and max_fill warns
    warner = BloomAccumulator(n_words=2, k=5, warn_fill=0.01, max_fill=1.0)
    with pytest.warns(RuntimeWarning, match="fill"):
        warner.merge_batch(b1, "k")
    # fill accounting matches the popcount of the committed words
    assert warner.fill_ratio() == sum(
        w.bit_count() for w in warner.words.values()
    ) / (2 * 32)
    assert warner.estimated_fpr() == warner.fill_ratio() ** 5
