"""Physical-plan regression gate over the bench headline queries.

Wall-clock catches regressions statistically; this catches them
deterministically: a code change that adds a shuffle, flips a broadcast
join to sort-merge, or introduces a cartesian product fails here at
sf0.001 before it costs anything at scale.

Regenerate after an INTENTIONAL plan change:
    python tools/regen_plan_baseline.py
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest

from bench import HEADLINE
from big_data_occupancy_detection_spark.planaudit import plan_metrics
from big_data_occupancy_detection_spark.plans import REGISTRY

BASELINE = json.loads(
    (Path(__file__).parent / "plan_baseline.json").read_text()
)

# Heavy shapes pinned BEYOND the bench headline (round-4 VERDICT item 4):
# the warehouse/BI/events batch-2 queries whose plan regressions would
# otherwise only surface as wall time. Kept in one place so the regen
# tool and the coverage gate agree.
EXTRA_PLAN_PINNED = [
    "segment_yoy_growth",        # year-shifted self-join growth
    "cohort_lifetime_value",     # cohort spine x month cross + cumsum
    "user_day_bitmaps",          # day-offset bitmap pack/popcount
    "priority_mix_shift",        # share-of-total window over grouped agg
    "supplier_part_coverage",    # bipartite coverage distinct counts
    "copurchase_components",     # star-contraction connected components
    "doc_train_test_split",      # hash-split with stratification check
    "event_lateness_profile",    # watermark-lateness percentile profile
    "monthly_seasonal_revenue",  # month-of-year seasonality index
    "user_churn_labels",         # activity-gap churn labeling windows
    "order_interarrival_stats",  # per-customer lag interarrival stats
    "events_hourly_anomalies",   # hour-of-week baseline z-score scan
    "user_value_cusum",          # ordered CUSUM fold (collect+aggregate)
    "event_type_transitions",    # Markov transition matrix (lag pairs)
    "doc_despanned_text",        # span surgery: gram explode + JVM fold
    "warehouse_conformance_report",  # census + unique/FK anti-joins
    "doc_repetition_features",   # line/2-gram/5-gram repetition censuses
    "training_mix_manifest",     # curation -> mixture -> resample capstone
    "embedding_cluster_outliers",  # k-means fit + per-cluster rank window
    "customer_survival_curve",   # KM product-limit fold over event times
    "doc_perplexity_buckets",    # bigram LM + global_ntile tertiles
    "lang_temperature_mixture",  # sqrt-fold temperature shares
    "daily_new_users",           # first-seen min + day-grain cumsum
    "lineitem_weighted_price_percentiles",  # global_cumsum weighted quantiles
    "user_features_point_in_time",  # cumulative features + as-of join
    "attribution_time_decay",    # banded self-join + exact share division
    "paragraph_dedup_docs",      # hot-paragraph-safe first-owner agg (r9)
    "doc_despanned_keep_first",  # keep-first span surgery, no extra shuffle (r9)
    "frontier_novel_urls_bucketed",  # bucket-pruned seen scan (r10)
]


def test_one_pinning_primitive():
    # every eager pin goes through operators.partitioning's
    # checkpoint_for_reuse, the only reader of SPARK_GRAFT_PLAN_AUDIT: a
    # raw localCheckpoint would ignore the flag and cut the pinned plans
    # below short, and a second flag reader would be a second policy.
    # Lazy .persist()/.cache() pins are held to a fixed set of enclosing
    # top-level functions: a new one must be added here on purpose.
    pkg = Path(__file__).parent.parent / "big_data_occupancy_detection_spark"
    home = pkg / "operators" / "partitioning.py"
    stray = []
    lazy = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                attr = (
                    node.func.attr
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    else None
                )
                if attr in ("persist", "cache"):
                    lazy.add(f"{rel}:{owner}")
                if path == home:
                    continue
                flag = (
                    isinstance(node, ast.Constant)
                    and node.value == "SPARK_GRAFT_PLAN_AUDIT"
                )
                if attr == "localCheckpoint" or flag:
                    stray.append(f"{rel}:{node.lineno}")
    assert not stray, f"pin outside checkpoint_for_reuse: {stray}"
    assert lazy == {
        "ext/similarity.py:ivf_topk",
        "ext/similarity.py:_pq_fit_subspaces",
        "ext/similarity_vec.py:fit_centroids_vectorized",
    }, f"lazy pin sites changed: {sorted(lazy)}"


def test_baseline_covers_headline():
    assert sorted(set(HEADLINE) | set(EXTRA_PLAN_PINNED)) == sorted(
        BASELINE
    )


@pytest.mark.parametrize("name", sorted(BASELINE))
def test_plan_matches_baseline(spark, sf_dir, name, monkeypatch):
    # measure the FULL lineage: checkpoint_for_reuse skips materialization
    # under this flag so pins cover the work upstream of eager checkpoints
    monkeypatch.setenv("SPARK_GRAFT_PLAN_AUDIT", "1")
    # cached frames persisted by earlier tests (e.g. ivf_topk's centroid
    # frame) get substituted into rebuilt plans by the cache manager and
    # inflate the exchange count in the plan string — measure clean plans
    spark.catalog.clearCache()
    got = plan_metrics(REGISTRY[name].fn(spark, sf_dir))
    want = BASELINE[name]
    # no NEW cartesian product; a baselined one is an intentional shape
    # (MLlib ALS recommendForUserSubset scores user-block x item-block
    # via a bounded blocked cross-join by design). Pin the COUNT, not the
    # boolean: the boolean gate couldn't catch a SECOND CartesianProduct
    # creeping into an already-cartesian plan (r5 advice).
    assert got["joins"].get("CartesianProduct", 0) <= want["joins"].get(
        "CartesianProduct", 0
    ), f"{name} grew a CartesianProduct: {want['joins']} -> {got['joins']}"
    assert got["exchanges"] <= want["exchanges"], (
        f"{name}: shuffles grew {want['exchanges']} -> {got['exchanges']}"
    )
    # per-kind: a new range/single-partition exchange must not appear even
    # if the total stayed flat (e.g. a hash exchange traded for a sort)
    for kind, n in got["exchange_kinds"].items():
        assert n <= want["exchange_kinds"].get(kind, 0), (
            f"{name}: exchange kind {kind} grew "
            f"{want['exchange_kinds'].get(kind, 0)} -> {n}"
        )
    # a broadcast join degrading to a shuffle join is a regression; the
    # reverse (more broadcasts, fewer shuffle joins) is an improvement
    shuffly = lambda j: j.get("SortMergeJoin", 0) + j.get("ShuffledHashJoin", 0)
    assert shuffly(got["joins"]) <= shuffly(want["joins"]), (
        f"{name}: shuffle-join count grew {want['joins']} -> {got['joins']}"
    )
