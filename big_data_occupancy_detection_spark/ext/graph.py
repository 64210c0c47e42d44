"""Graph analytics over edge DataFrames: PageRank and frontier BFS.

Complements the connected-components operator in ``ext.dedup`` (which
clusters a similarity graph) with a centrality measure over the same kind
of graph — e.g. ranking documents inside a near-duplicate neighborhood
to pick the canonical copy, or weighting a citation/link graph for
curriculum sampling.

Scale notes (100 TB): each iteration is one shuffle (contributions
grouped by destination) plus a broadcast-joined damping term; the rank
frame is O(|V|) rows of (node, double). Iterations are separated by tiny
eager ``checkpoint_for_reuse`` pins so Catalyst analysis cost stays
constant per round instead of re-optimizing an ever-deeper lineage (the
same pattern as ``ext.similarity._fit_centroids``). Dangling mass is
redistributed uniformly each round, so ranks sum to 1 regardless of
graph shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import portable_round
from ..operators.partitioning import checkpoint_for_reuse

# PageRank rounds every iteration's ranks to this many decimals; the
# doc_pagerank oracle rounds the same way.
PAGERANK_DIGITS = 12
# kcore's runaway backstop on peeling rounds.
KCORE_MAX_ROUNDS = 100


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, pagerank) after ``n_iters`` synchronous power iterations.

    ``edges`` is a directed edge list; for an undirected graph pass both
    orientations. Nodes = every id appearing as a source or destination.
    Per-iteration ranks are rounded to ``PAGERANK_DIGITS`` decimals so two
    engines summing contributions in different orders stay byte-identical
    (float addition is not associative; 1e-12 is far below any rank gap
    of interest and far above double ulp drift).

    PR_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} PR_t(u)/outdeg(u) + dangling/N)
    """
    # The edge list feeds every iteration; without materializing it, each
    # round re-executes the caller's (possibly expensive) edge-discovery
    # plan — e.g. a Jaccard self-join — from scratch. O(|E|) id pairs.
    e = checkpoint_for_reuse(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # (node, outdeg) with 0 for dangling nodes; this frame is reused every
    # iteration, so materialize it once and cut its lineage.
    base = checkpoint_for_reuse(
        nodes.join(outdeg, nodes.node == outdeg.src, "left_outer")
        .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
    )
    n = base.count()
    # portable rounding: 1/n and the damped update are exact rationals,
    # where native round() can flip between engines on half-ulp boundaries.
    # ranks CARRIES outdeg through the loop: the rebuild join below
    # restores it each round, so no per-iteration ranks⋈base join is
    # needed to re-attach degrees — one full-|V| shuffle per round
    # removed vs the naive formulation.
    ranks = base.select(
        "node",
        "outdeg",
        portable_round(F.lit(1.0) / F.lit(float(n)), PAGERANK_DIGITS).alias("pr"),
    )
    for i in range(n_iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("inflow"))
        )
        dangling = ranks.filter(F.col("outdeg") == 0).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass")
        )
        ranks = (
            base.join(contrib, "node", "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                portable_round(
                    (1.0 - damping) / n
                    + damping
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dmass") / n),
                    PAGERANK_DIGITS,
                ).alias("pr"),
            )
        )
        if i < n_iters - 1:
            # O(|V|) rows; keeps per-round plan size constant.
            ranks = checkpoint_for_reuse(ranks)
    return ranks.select("node", F.col("pr").alias("pagerank"))


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """(node, depth) — minimum hop count from any seed, breadth-first,
    bounded at ``max_depth`` (unreached nodes are absent).

    The missing third distributed-graph primitive next to
    :func:`pagerank` and ``ext.dedup.connected_components`` (star
    contraction): frontier expansion. ``edges`` is directed (pass both
    orientations for an undirected graph); ``seeds`` is a one-column frame
    of start nodes.

    Scale notes (100 TB): each round costs ONE hash join of the current
    frontier against the edge list plus an anti-join against the visited
    set — both O(|frontier| + |E_touched|), never O(|V|²). The frontier
    and visited frames are node-grain; per-round eager
    ``checkpoint_for_reuse`` pins keep plan depth constant (the pagerank
    pattern above) and stop each round's join from re-executing the
    caller's edge-discovery plan. Early exit on an empty frontier, so the
    bound is a cap, not a fixed cost.
    """
    e = checkpoint_for_reuse(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    visited = checkpoint_for_reuse(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0))
    )
    frontier = visited
    for d in range(1, max_depth + 1):
        nbrs = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = checkpoint_for_reuse(
            nbrs.join(visited, "node", "left_anti").withColumn("depth", F.lit(d))
        )
        if fresh.isEmpty():
            break
        visited = checkpoint_for_reuse(visited.unionByName(fresh))
        frontier = fresh
    return visited


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """(node, core_degree): the k-core of an undirected graph — the
    maximal subgraph in which every node has degree ≥ k — by iterative
    peeling (round 7; completes the graph family beside connected
    components, PageRank, degree-ordered triangles and frontier BFS).

    ``edges`` is one row per undirected edge (either orientation; no
    self-loops). Each round removes every node whose CURRENT degree is
    below k and drops its incident edges; the loop stops when no node
    falls below k (the fixpoint IS the k-core, independent of removal
    order — the standard peeling invariant). ``core_degree`` is the
    node's degree inside the k-core (≥ k by construction).

    Scale shape: per round, one map-side-combined degree aggregation
    over the live edge list plus two broadcast anti-joins against the
    (shrinking, usually tiny) low-degree node set; the live edge frame
    is eagerly checkpointed per round so Catalyst analysis stays
    constant-depth (the ``pagerank`` pattern). Rounds are bounded by
    the graph's degeneracy ordering depth — small for real co-purchase
    / similarity graphs; ``KCORE_MAX_ROUNDS`` is a runaway backstop.

    Iterative, but SQL-expressible after all: DuckDB 1.0 evaluates
    aggregates over the recursive reference (each step sees the previous
    iteration's working table), so the registry's ``copurchase_kcore``
    is oracle-paired since round 9 (one synchronous peel round per
    recursion step — see ``plans/warehouse._KCORE_ORACLE``); the pytest
    peeling-reference property test gates the operator directly.
    """
    cur = checkpoint_for_reuse(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    )
    for _ in range(KCORE_MAX_ROUNDS):
        deg = (
            cur.select(F.col("u").alias("node"))
            .unionAll(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        low = checkpoint_for_reuse(deg.filter(F.col("deg") < k).select("node"))
        if low.isEmpty():
            return deg.select(
                "node", F.col("deg").cast("long").alias("core_degree")
            )
        cur = checkpoint_for_reuse(
            cur.join(F.broadcast(low), cur.u == low.node, "left_anti")
            .join(F.broadcast(low), F.col("v") == low.node, "left_anti")
        )
    raise RuntimeError(
        f"kcore did not converge in {KCORE_MAX_ROUNDS} rounds — raise "
        "KCORE_MAX_ROUNDS"
    )
