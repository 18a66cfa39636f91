"""DAG lineage over dbt depends_on edges (SURVEY.md §2 A12-A13).

The reference exposes the raw edge list (parse_depends_on,
explore.R:98-128); the queries you run on it are closure, depth,
PageRank and critical-path ones.  All four are iterative self-joins
with the same shape:

- Inputs are decoded once.  The plan keys (plans/dbt.py) read the
  manifest through one narrow ``manifest_graph`` scan.
- Loop invariants are materialized once.  Each operator
  ``localCheckpoint``s the inputs every round reads (edges, node ids),
  so a round never re-runs the input plan, and releases them on exit.
- One Spark action per round.  A round's result is ``localCheckpoint``ed
  (eager, and plan-truncating, so round N's plan does not embed round
  N-1's).  Where the loop tests convergence (closure, critical path),
  it reads a ``DataFrame.observe`` metric that the same checkpoint job
  fills, so there is no separate probe job; PageRank runs fixed rounds.

One materialized round result is alive at a time: the previous one is
released as soon as its successor exists.  Iteration count is the DAG
depth (dbt graphs: < 30), and each step is a hash join on the parent
key; AQE picks broadcast when the frontier is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import observed, release_iter_handle


def _parent_edges(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("child_unique_id").alias("c"), F.col("parent_unique_id").alias("p")
    ).distinct()


def transitive_closure(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """edges(child_unique_id, parent_unique_id) → (descendant, ancestor,
    depth) for every path, depth = path length.

    The distinct depth-1 edges (``base``) are materialized once and held
    until exit.  Round d extends the depth-d paths by one base edge and
    checkpoints the closure with the new depth-d+1 rows; the observed
    count of those rows is the exit test.  New rows all carry a depth
    the closure does not hold yet, so they never duplicate an existing
    triple and the iteration stays finite on DAGs."""
    base = edges.select(
        F.col("child_unique_id").alias("descendant"),
        F.col("parent_unique_id").alias("ancestor"),
        F.lit(1).alias("depth"),
    ).distinct().localCheckpoint()
    closure = base
    for depth in range(1, max_iters + 1):
        grown = (
            closure.filter(F.col("depth") == depth)
            .alias("f")
            .join(base.alias("e"), F.col("f.ancestor") == F.col("e.descendant"))
            .select(
                F.col("f.descendant").alias("descendant"),
                F.col("e.ancestor").alias("ancestor"),
                (F.col("f.depth") + 1).alias("depth"),
            )
            .distinct()
        )
        grown, new = observed(grown, "new_paths", F.count(F.lit(1)).alias("n"))
        nxt = closure.union(grown).localCheckpoint()
        if not new.get["n"]:
            release_iter_handle(nxt)
            break
        if closure is not base:
            release_iter_handle(closure)
        closure = nxt
    if closure is not base:
        release_iter_handle(base)
    return closure


PR_SCALE = 1_000_000_000
PR_BASE = 150_000_000  # 0.15 · SCALE


def pagerank(all_nodes: DataFrame, edges: DataFrame, iters: int = 10) -> DataFrame:
    """Fixed-point integer PageRank over the dependency DAG: each
    child's rank flows to the nodes it depends on, so heavily-depended-
    upon upstream models rank highest — the 'blast radius' score.

    All arithmetic is 60-bit-safe integer (rank div outdeg per edge,
    ·17 div 20 for the 0.85 damping): byte-identical across engines and
    partitionings, where float accumulation would drift with shuffle
    order.  Fixed ``iters`` (not convergence-tested) keeps the result a
    pure function of the graph.  The node ids and the out-degree-weighted
    edges are materialized once; each round is one checkpoint."""
    ids = all_nodes.select(F.col("unique_id").alias("id")).localCheckpoint()
    e = _parent_edges(edges)
    ew = e.join(e.groupBy("c").agg(F.count(F.lit(1)).alias("outdeg")), "c").localCheckpoint()
    ranks = ids.select("id", F.lit(PR_SCALE).cast("long").alias("rank"))
    for i in range(iters):
        contribs = (
            ew.join(ranks, ew.c == ranks.id)
            .select(F.col("p").alias("id"), F.expr("rank div outdeg").alias("contrib"))
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib_sum"))
        )
        nxt = (
            ids.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(PR_BASE).cast("long")
                    + F.expr(
                        "(coalesce(contrib_sum, CAST(0 AS BIGINT)) * 17) div 20"
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if i:  # round 0 read the lazy initial ranks, which hold no blocks
            release_iter_handle(ranks)
        ranks = nxt
    out = ranks.select(F.col("id").alias("unique_id"), F.col("rank").alias("rank_fp"))
    if iters:  # with no rounds, ``out`` still reads ids
        release_iter_handle(ids)
    release_iter_handle(ew)
    return out


def critical_path(nodes_w: DataFrame, edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """nodes_w(unique_id, wt_fp) + edges(child_unique_id,
    parent_unique_id) → (unique_id, wt_fp, critical_cost_fp): the
    longest node-weighted dependency chain ending at each node
    (inclusive of the node itself) — the dbt scheduling critical path
    when wt is execution time.

    Bellman-Ford-style relaxation: cost(child) = wt(child) +
    max(cost(parent)).  The distinct edges are materialized once; a
    round is one join + max-agg (edges ⋈ cost) and one join back onto
    ``cost``, which carries wt_fp, checkpointed in one job that also
    counts the rows whose cost changed.  The loop exits on the first
    round with no change, after at most DAG-depth + 1 rounds; the fixed
    point is unique on a DAG, so the early exit cannot change the
    result.  All integer arithmetic — byte-stable across engines."""
    e = _parent_edges(edges).localCheckpoint()
    cost = nodes_w.select(
        "unique_id",
        F.col("wt_fp").cast("long").alias("wt_fp"),
        F.col("wt_fp").cast("long").alias("critical_cost_fp"),
    )
    for i in range(max_iters):
        pmax = (
            e.join(cost, e.p == cost.unique_id)
            .groupBy("c")
            .agg(F.max("critical_cost_fp").alias("pmax"))
        )
        relaxed = F.col("wt_fp") + F.coalesce("pmax", F.lit(0).cast("long"))
        joined, changed = observed(
            cost.join(pmax, cost.unique_id == pmax.c, "left"),
            "changed_costs",
            # NULL on an empty graph
            F.sum((relaxed != F.col("critical_cost_fp")).cast("long")).alias("n"),
        )
        nxt = joined.select(
            "unique_id", "wt_fp", relaxed.alias("critical_cost_fp")
        ).localCheckpoint()
        if i:  # round 0 read the lazy nodes_w projection, which holds no blocks
            release_iter_handle(cost)
        cost = nxt
        if not changed.get["n"]:
            break
    release_iter_handle(e)
    return cost


def lineage_closure(edges: DataFrame) -> DataFrame:
    """(descendant, ancestor, min path length) — 'does A depend on B, how
    directly'."""
    return (
        transitive_closure(edges)
        .groupBy("descendant", "ancestor")
        .agg(F.min("depth").cast("int").alias("depth"))
    )


def lineage_depth(all_nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Topological depth per node: longest path to any ancestor, 0 for
    roots.  This is dbt's scheduling level."""
    depths = (
        transitive_closure(edges)
        .groupBy("descendant")
        .agg(F.max("depth").cast("int").alias("depth"))
    )
    return (
        all_nodes.join(depths, all_nodes.unique_id == depths.descendant, "left")
        .select("unique_id", F.coalesce("depth", F.lit(0)).cast("int").alias("depth"))
    )
