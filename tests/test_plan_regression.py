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
ROOT = Path(__file__).parent.parent
PKG = ROOT / "big_data_occupancy_detection_spark"

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


def _caller_nodes(tests: bool):
    """(path, node) for every AST node of the package, scripts/, tools/,
    perfbench/, bench.py and __spark_entry__.py, plus tests/ if asked."""
    files = sorted(PKG.rglob("*.py"))
    for sub in ("scripts", "tools", "perfbench") + (("tests",) if tests else ()):
        files += sorted((ROOT / sub).rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            yield path, node


def _ref_name(node):
    """The identifier an AST node refers to (a name, an attribute or an
    import), or None: strings and comments never count, f-string
    expressions do."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rpartition(".")[2]
    return None


def _public_defs(kinds):
    """(path, node) for every public top-level def of the package."""
    for path in sorted(PKG.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            if isinstance(top, kinds) and not top.name.startswith("_"):
                yield path, top


def test_every_public_def_has_a_caller():
    # a public top-level def or class stays only if it is @register'ed
    # or referenced outside its own body by the package, scripts/,
    # tools/, perfbench/, bench.py or __spark_entry__.py — tests do not
    # count. Anything kept without a caller is listed here on purpose,
    # with the SURVEY §2 row (COVERAGE.md) it backs.
    refs = {}
    for path, node in _caller_nodes(tests=False):
        name = _ref_name(node)
        if name is not None:
            refs.setdefault(name, []).append((path, node.lineno))
    kept = {
        # §2.1 "+" rows: IO surface beyond the reference
        "sources/readers.py:read_jsonl_declared",
        "sources/readers.py:read_orc",
        "sources/readers.py:read_parquet_evolved",
        "sources/sinks.py:write_bucketed",
        "sources/sinks.py:write_jsonl",
        "sources/sinks.py:write_orc",
        "sources/sinks.py:write_parquet",
        "sources/sinks.py:write_range_sorted_parquet",
        # §2.9 T4 (checkpointed sink) and "+" (upsert snapshot sink)
        "streaming/inference.py:memory_sink",
        "streaming/upsert.py:upsert_sink",
        "streaming/upsert.py:read_snapshot",
        # §2.9 T2→+ (watermarked windows, stream dedup and joins)
        "streaming/windows.py:tumbling_counts",
        "streaming/windows.py:session_counts",
        "streaming/windows.py:dedup_stream",
        "streaming/windows.py:interval_join_streams",
        "streaming/windows.py:enrich_stream_static",
        "streaming/windows.py:sliding_distinct_counts",
        # §2.8 (Python UDTF surface)
        "functions/udtf_fns.py:register_udtfs",
        # test references: the twin or decoder a live path is checked by
        "ext/similarity.py:pq_topk",  # fit-per-call twin of the PQ index
        "ext/text_vec.py:bigram_pairs_jvm",  # twin of hashed_bigram_pairs
        "ext/png_codec.py:decode_png",  # decodes the §2.1 S7 report PNGs
    }
    orphans = set()
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for path, top in _public_defs(kinds):
        if any(
            isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
            for d in top.decorator_list
        ):
            continue
        body = range(top.lineno, top.end_lineno + 1)
        if not any(
            p != path or line not in body for p, line in refs.get(top.name, [])
        ):
            orphans.add(f"{path.relative_to(PKG).as_posix()}:{top.name}")
    assert orphans == kept, (
        f"no caller: {sorted(orphans - kept)}; "
        f"caller found, drop from the kept set: {sorted(kept - orphans)}"
    )


def test_every_option_has_a_caller():
    # a defaulted parameter of a public top-level def is an option: it
    # stays only if some call in the package, scripts/, tools/,
    # perfbench/, bench.py, __spark_entry__.py or tests/ passes it, by
    # keyword or by position. Tests count here: small keyword values
    # reach multi-bucket and guard paths at tiny scale. A ** splat sets
    # every parameter and a * splat every positional one. *_col/*_cols
    # parameters bind the caller's schema and are exempt.
    calls = {}
    for _, node in _caller_nodes(tests=True):
        if isinstance(node, ast.Call):
            name = _ref_name(node.func)
            if name is not None:
                calls.setdefault(name, []).append(node)
    unset = []
    for path, top in _public_defs((ast.FunctionDef, ast.AsyncFunctionDef)):
        a = top.args
        pos = a.posonlyargs + a.args
        options = [
            (i, p.arg) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)
        ] + [
            (None, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for i, arg in options:
            if arg.endswith(("_col", "_cols")):
                continue
            if not any(
                any(k.arg in (None, arg) for k in c.keywords)
                or (
                    i is not None
                    and (
                        len(c.args) > i
                        or any(isinstance(x, ast.Starred) for x in c.args)
                    )
                )
                for c in calls.get(top.name, [])
            ):
                unset.append(f"{path.relative_to(PKG).as_posix()}:{top.name}:{arg}")
    assert not unset, f"options no call sets: {unset}"


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
