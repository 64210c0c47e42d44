"""KMV (bottom-k / theta) sketch: prune exactness, estimator envelope,
set-algebra composition. The registry query `kmv_day_retention` carries
the oracle-parity gate; these pin the operator-level contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ext.sketches import (
    KMV_SPACE,
    kmv_distinct_estimate,
    kmv_sketch,
)


def _frame(spark):
    # group A: 40 keys (< k: sketch exhaustive), group B: 5000, group C:
    # 3000 overlapping B by 1000 — enough mass to exercise the estimator
    rows = (
        [("A", f"a{i}") for i in range(40)]
        + [("B", f"b{i}") for i in range(5000)]
        + [("C", f"b{i}") for i in range(4000, 7000)]
    )
    # duplicates must not matter (sketch is over distincts)
    rows += rows[:500]
    return spark.createDataFrame(rows, "g string, k string")


def test_kmv_prune_is_exact_k_smallest(spark):
    """The bucket prune must be invisible: sketch == the k smallest
    distinct hashes per group computed naively (and exhaustive when the
    group has fewer than k distincts)."""
    from big_data_occupancy_detection_spark.functions.text_fns import (
        md5_hash64,
    )

    df = _frame(spark)
    k = 64
    sk, counts = kmv_sketch(df, "k", "g", k=k)
    got = {
        g: [r["h"] for r in rows]
        for g, rows in _by_group(sk.orderBy("g", "r").collect()).items()
    }
    naive = (
        df.select("g", md5_hash64(F.col("k")).alias("h"))
        .distinct()
        .collect()
    )
    want: dict[str, list[int]] = {}
    for r in naive:
        want.setdefault(r["g"], []).append(r["h"])
    for g in want:
        want[g] = sorted(want[g])[:k]
    assert got == want
    cnt = {r["g"]: r["n_distinct"] for r in counts.collect()}
    assert cnt == {"A": 40, "B": 5000, "C": 3000}
    assert len(got["A"]) == 40  # exhaustive below k


def _by_group(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["g"], []).append(r)
    return out


def test_kmv_estimator_envelope_and_union(spark):
    """Distinct estimates within the k=256 relative-error envelope
    (~1/sqrt(k-2) ≈ 6.3%; assert 4σ = 25%), exact below k, and the union
    sketch of two groups estimates |B ∪ C| from the two k-row sketches
    alone."""
    df = _frame(spark)
    k = 256
    sk, counts = kmv_sketch(df, "k", "g", k=k)
    est = {
        r["g"]: (r["n_distinct"], r["est"])
        for r in kmv_distinct_estimate(sk, counts, k=k).collect()
    }
    assert est["A"] == (40, 40.0)  # exhaustive → exact
    for g, exact in (("B", 5000), ("C", 3000)):
        n, e = est[g]
        assert n == exact
        assert abs(e - exact) / exact < 0.25, (g, e)

    # union composition: k smallest of the two sketches' hash union
    hb = sorted(r["h"] for r in sk.filter("g = 'B'").collect())
    hc = sorted(r["h"] for r in sk.filter("g = 'C'").collect())
    u = sorted(set(hb) | set(hc))[:k]
    union_est = (k - 1) * KMV_SPACE / u[-1]
    assert abs(union_est - 7000) / 7000 < 0.25
    # intersection via Jaccard on the union sketch
    rho = sum(1 for h in u if h in set(hb) and h in set(hc))
    inter_est = rho / k * union_est
    assert abs(inter_est - 1000) / 1000 < 0.5  # intersection noisier


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_kmv_frames = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2", "g3"]),
        st.text(alphabet="abcdef0123456789", min_size=0, max_size=8),
    ),
    min_size=1,
    max_size=300,
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_kmv_frames, k=st.sampled_from([1, 3, 16]))
def test_kmv_prune_property(spark, rows, k):
    """For ANY key multiset (duplicates, empty strings, tiny groups) and
    any k, the bucket-pruned sketch equals the naive per-group k smallest
    distinct hashes, and n_distinct is exact."""
    import hashlib

    df = spark.createDataFrame(rows, "g string, k string")
    sk, counts = kmv_sketch(df, "k", "g", k=k)
    got: dict[str, list[int]] = {}
    for r in sk.collect():
        got.setdefault(r["g"], []).append((r["r"], r["h"]))
    want: dict[str, list[int]] = {}
    exact: dict[str, int] = {}
    for g in {g for g, _ in rows}:
        hs = sorted(
            {
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                for gg, s in rows
                if gg == g
            }
        )
        exact[g] = len(hs)
        want[g] = [(i + 1, h) for i, h in enumerate(hs[:k])]
    assert {g: sorted(v) for g, v in got.items()} == want
    assert {r["g"]: r["n_distinct"] for r in counts.collect()} == exact
