"""Operator properties of the portable md5 hash family (``md5_hash64`` /
``seeded_hash64``), the one hash of the oracle-verified dedup, sketch and
sampling operators:
- candidate verification is exact, so emitted LSH pairs are always a
  subset of the exact-Jaccard ground truth (precision 1.0 by construction);
- banding probability only moves RECALL, which must stay useful;
- SimHash is total, MinHash signatures match the DuckDB oracle term by
  term, and hash-keyed negative draws stay in range.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash32,
)
from big_data_occupancy_detection_spark.sources.readers import table

from conftest import SF_DIR

THRESHOLD = 0.5


def _pairs(df) -> set[tuple]:
    return {(r["d1"], r["d2"]) for r in df.select("d1", "d2").collect()}


def test_fast_hash_lsh_precision_and_recall(spark):
    docs = table(spark, SF_DIR, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, threshold=THRESHOLD))
    assert exact, "corpus should contain near-dup pairs at this threshold"

    lsh = _pairs(minhash_lsh_pairs(docs, threshold=THRESHOLD))

    # exact verification ⇒ every emitted pair is a true near-dup pair
    assert lsh <= exact, f"false positives from LSH: {lsh - exact}"
    # banding must still find most true pairs
    recall = len(lsh) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f} < 0.5"


def test_fast_hash_simhash_total(spark):
    docs = table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    sh = simhash32(docs)
    assert sh.count() == n_docs
    # signatures are real 32-bit values, not degenerate zeros
    n_nonzero = sh.filter(F.col("simhash") != 0).count()
    assert n_nonzero > n_docs * 0.9


def test_minhash_signature_lockstep_with_oracle(spark):
    """Byte-identical MinHash signatures, Spark vs DuckDB, term by term.

    Term 0 is seeded too: it must hash '0|'||c exactly like the oracle's
    term 0, not the unseeded hash (which once silently diverged band-0 LSH
    keys before exact verification masked it).
    """
    import duckdb

    from big_data_occupancy_detection_spark.ext import dedup as D
    from big_data_occupancy_detection_spark.plans.textops import (
        _SH_CTE,
        _TOKS_CTE,
        hash64_sql,
    )
    from big_data_occupancy_detection_spark.sources.readers import TABLE_NAMES

    docs = table(spark, SF_DIR, "documents").limit(50)
    spark_sig = {
        r["doc"]: list(r["sig"])
        for r in D.minhash_signatures(docs, num_hashes=D.DEFAULT_NUM_HASHES).collect()
    }

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    sig_terms = ", ".join(
        "list_min(list_transform(shingles, s -> " + hash64_sql(f"'{i}|' || s") + "))"
        for i in range(D.DEFAULT_NUM_HASHES)
    )
    oracle_sig = {
        row[0]: list(row[1])
        for row in con.execute(
            f"WITH {_TOKS_CTE}, {_SH_CTE} "
            f"SELECT doc_id, [{sig_terms}] AS sig FROM sh "
            f"WHERE doc_id IN (SELECT doc_id FROM documents LIMIT 50)"
        ).fetchall()
    }
    # compare on the intersection of ids (limit orders may differ); must be
    # a healthy sample and every shared id byte-identical across engines
    shared = set(spark_sig) & set(oracle_sig)
    assert len(shared) >= 25
    for doc in shared:
        assert spark_sig[doc] == oracle_sig[doc], f"signature diverges for {doc}"


def test_fast_hash_negative_samples_valid(spark):
    """Hash-keyed negative draws keep the pipeline invariants: draws stay
    in the 1..max-part range, no kept negative collides with a positive,
    and counts are consistent."""
    from big_data_occupancy_detection_spark.plans.mlplans import (
        _NEG_K,
        _implicit_examples,
    )

    sf = "/root/testdata/sf0.001"
    _, pos, kept = _implicit_examples(spark, sf)
    n_parts = (
        spark.read.parquet(f"{sf}/part.parquet").agg(F.max("p_partkey")).first()[0]
    )

    bad_range = kept.filter(
        (F.col("neg") < 1) | (F.col("neg") > n_parts)
    ).count()
    assert bad_range == 0

    leaked = kept.join(
        pos.select("user_id", F.col("item").alias("neg")), ["user_id", "neg"]
    ).count()
    assert leaked == 0

    n_pos, n_kept = pos.count(), kept.count()
    assert 0 < n_kept <= _NEG_K * n_pos
