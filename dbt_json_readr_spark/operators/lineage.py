"""DAG lineage over dbt depends_on edges (SURVEY.md §2 A12-A13).

The reference exposes the raw edge list (parse_depends_on,
explore.R:98-128); the queries you run on it are closure, depth,
PageRank and critical-path ones.  Closure, PageRank and the critical
path are round loops: a round reads the previous round's result and
the edges, and the loop stops at a cap or at the first round whose
result no later round would change.  Depth has no loop of its own: it
is the critical path with 0/1 weights (below).  The inputs are decoded
once: the dbt keys (plans/dbt.py) read the manifest through one narrow
``manifest_graph`` scan.  The loop comes in two shapes:

- **Spark rounds** (``transitive_closure``, ``pagerank``,
  ``critical_path``): iterative self-joins.
  - Loop invariants are materialized once.  Each operator
    ``localCheckpoint``s the inputs every round reads (edges, node
    ids), so a round never re-runs the input plan, and releases them
    on exit.
  - One Spark action per round.  A round's result is
    ``localCheckpoint``ed (eager, and plan-truncating, so round N's
    plan does not embed round N-1's).  The loop's exit test reads a
    ``DataFrame.observe`` metric that the same checkpoint job fills
    (new paths, changed costs, changed ranks), so there is no separate
    probe job.  One materialized round result is alive at a time.
  - Each round's joins broadcast one side on purpose: the current
    costs or ranks (one row per node), PageRank's per-node
    contributions (at most one row per edge), in the closure the
    distinct edges joined to the paths, and in the critical path's
    first round, before any node count is known, the edges.  The
    planner cannot pick the broadcast itself: a checkpoint keeps the
    row estimate of the plan it materialized, and a join's estimate is
    the product of its inputs', so from the second round on every
    estimate is far past the threshold and the planner shuffles both
    sides.  AQE would switch to a broadcast only after running those
    shuffles, a job each.  So the checkpoints also observe the row
    count and string bytes of the frame they hold (``_footprint``),
    and the hint is applied only while that size fits under the
    session's ``spark.sql.autoBroadcastJoinThreshold``
    (``session.fits_broadcast``).  Above it, or
    with the threshold at -1, the join is left to the planner.
- **In memory** (``critical_path_local``, ``pagerank_local``,
  ``lineage_depth_local``): pure functions over collected rows that
  repeat the Spark rounds exactly: the same caps, exits and integer
  arithmetic, and the same handling of ghost parents, non-node
  children, duplicate edges and duplicate node rows, so the two shapes
  agree on any graph, cyclic ones included.  ``session.local_frame``
  returns their rows as a local relation, whose collect runs no job.

The critical path, depth and PageRank keys pick the shape.  They
materialize the graph once, with a checkpoint that observes its
``_footprint``.  While that fits the same bound, a broadcast of the
graph would have collected it to the driver anyway, so they collect it
and relax it in memory: at dbt scale a round is mostly job overhead,
and the in-memory loop runs no job at all.  Above the bound, or with
the threshold at -1, the Spark rounds run.  The closure stays on Spark
rounds: its output can grow with the square of the node count.

**Depth is the critical path with 0/1 weights** (``lineage_depth``,
``lineage_depth_local``).  A node's depth is its longest dependency
path, counting a last edge into a parent that is not a node (a macro,
or an id the manifest does not list), and 0 for a node with no
parents.  Give every vertex weight 1 when it has at least one parent
entry and 0 otherwise.  Along a walk v0 → … → vk every vertex after v0
has a parent, so the walk costs k + [v0 has a parent]: exactly the
longest path, its last edge included.  A vertex of weight 0 has no
parents, so its cost stays 0 and it offers what a ghost parent offers:
the vertices are the children of the edges, which takes in every macro
with parents of its own.  A path that runs through a macro's parents
counts only because the macro is a vertex; only node rows are
returned.  On a cyclic graph, ``max_iters`` rounds give the longest
walk of at most ``max_iters + 1`` edges, which is
``transitive_closure``'s cap.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import fits_broadcast, observed, release_iter_handle, rotate_cached


def _footprint(*strings: str | Column, rows: Column | None = None):
    """Observed metrics sizing a frame as a broadcast side: its row
    count (or the sum of ``rows``, rows a row stands for) and the bytes
    of its ``strings`` columns."""
    total = sum((F.octet_length(c) for c in strings[1:]), F.octet_length(strings[0]))
    return (
        F.coalesce(F.sum(F.lit(1) if rows is None else rows), F.lit(0)).alias("rows"),
        F.coalesce(F.sum(total), F.lit(0)).alias("string_bytes"),
    )


def _broadcast_if_fits(df: DataFrame, bound) -> DataFrame:
    """``df`` hinted for broadcast when ``bound`` fits; ``df`` unchanged
    otherwise.  ``bound`` is the observed ``_footprint`` of ``df`` or of
    a frame with at least as many rows and string bytes."""
    fits = fits_broadcast(df.sparkSession, bound["string_bytes"], bound["rows"])
    return F.broadcast(df) if fits else df


def transitive_closure(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """edges(child_unique_id, parent_unique_id) → (descendant, ancestor,
    depth) for every path, depth = path length.

    The distinct depth-1 edges (``base``) are materialized once and held
    until exit; they are the broadcast side of every round.  Round d
    extends the depth-d paths by one base edge and checkpoints the
    closure with the new depth-d+1 rows; the observed count of those
    rows is the exit test.  New rows all carry a depth the closure does
    not hold yet, so they never duplicate an existing triple and the
    iteration stays finite on DAGs."""
    base, base_size = observed(
        edges.select(
            F.col("child_unique_id").alias("descendant"),
            F.col("parent_unique_id").alias("ancestor"),
            F.lit(1).alias("depth"),
        ).distinct(),
        "edge_footprint",
        *_footprint("descendant", "ancestor"),
    )
    base = base.localCheckpoint()
    step = _broadcast_if_fits(base, base_size.get)
    closure = base
    for depth in range(1, max_iters + 1):
        grown = (
            closure.filter(F.col("depth") == depth)
            .alias("f")
            .join(step.alias("e"), F.col("f.ancestor") == F.col("e.descendant"))
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
PAGERANK_SCHEMA = "unique_id string, rank_fp bigint"


def pagerank(all_nodes: DataFrame, edges: DataFrame, iters: int = 10) -> DataFrame:
    """Fixed-point integer PageRank over the dependency DAG: each
    child's rank flows to the nodes it depends on, so heavily-depended-
    upon upstream models rank highest — the 'blast radius' score.

    All arithmetic is 60-bit-safe integer (rank div outdeg per edge,
    ·17 div 20 for the 0.85 damping): byte-identical across engines and
    partitionings, where float accumulation would drift with shuffle
    order.  At most ``iters`` rounds (not a tolerance test) keep the
    result a pure function of the graph.  The node ids and the
    out-degree-weighted edges are materialized once; each round is one
    checkpoint.  The ranks (node-sized) are broadcast into the edge join
    and the per-parent contributions (at most one row per edge) into
    the join back onto the ranks.  A node row listed twice passes its
    rank twice and is listed twice in the result.

    The round's job also counts the ranks that changed, and the loop
    exits on the first round where that count is 0: a round reads only
    the previous ranks, so a round that reproduces its input would be
    repeated by every later one.  On a DAG the ranks stop moving after
    height + 1 rounds, so the exit is one round later; the result is
    the one ``iters`` rounds give."""
    ids, ids_size = observed(
        all_nodes.select(F.col("unique_id").alias("id")), "node_footprint", *_footprint("id")
    )
    ids = ids.localCheckpoint()
    e = edges.select(
        F.col("child_unique_id").alias("c"), F.col("parent_unique_id").alias("p")
    ).distinct()
    ew, ew_size = observed(
        e.join(e.groupBy("c").agg(F.count(F.lit(1)).alias("outdeg")), "c"),
        "edge_footprint",
        *_footprint("p"),
    )
    ew = ew.localCheckpoint()
    ids_size, ew_size = ids_size.get, ew_size.get
    ranks = ids.select("id", F.lit(PR_SCALE).cast("long").alias("rank"))
    stepped = F.lit(PR_BASE).cast("long") + F.expr(
        "(coalesce(contrib_sum, CAST(0 AS BIGINT)) * 17) div 20"
    )
    for i in range(iters):
        side = _broadcast_if_fits(ranks, ids_size)
        contribs = (
            ew.join(side, ew.c == side.id)
            .select(F.col("p").alias("id"), F.expr("rank div outdeg").alias("contrib"))
            .groupBy("id")
            .agg(F.sum("contrib").alias("contrib_sum"))
        )
        joined, moved = observed(
            ranks.join(_broadcast_if_fits(contribs, ew_size), "id", "left"),
            "moved_ranks",
            F.sum((stepped != F.col("rank")).cast("long")).alias("n"),  # NULL with no nodes
        )
        nxt = joined.select("id", stepped.alias("rank")).localCheckpoint()
        if i:  # round 0 read the lazy initial ranks, which hold no blocks
            release_iter_handle(ranks)
        ranks = nxt
        if not moved.get["n"]:
            break
    out = ranks.select(F.col("id").alias("unique_id"), F.col("rank").alias("rank_fp"))
    if iters:  # with no rounds, ``out`` still reads ids
        release_iter_handle(ids)
    release_iter_handle(ew)
    return out


def pagerank_local(
    all_nodes: Iterable[str], edges: Iterable[tuple[str, str]], iters: int = 10
) -> list[tuple]:
    """``pagerank`` on the driver, over the node ids and the (child,
    parent) edges: [(unique_id, rank_fp)], the same rows."""
    ids = list(all_nodes)
    rows_of = Counter(ids)
    e = {(c, p) for c, p in edges if c is not None}
    outdeg = Counter(c for c, _ in e)
    # SQL joins match no NULL key: a NULL id neither passes nor gets rank
    flows = [(c, p, outdeg[c]) for c, p in e if c in rows_of and p in rows_of and p is not None]
    rank = dict.fromkeys(rows_of, PR_SCALE)
    for _ in range(iters):
        got = dict.fromkeys(rows_of, 0)
        for c, p, d in flows:
            got[p] += rows_of[c] * (rank[c] // d)
        nxt = {n: PR_BASE + got[n] * 17 // 20 for n in rows_of}
        moved = nxt != rank
        rank = nxt
        if not moved:
            break
    return [(n, rank[n]) for n in ids]


CRITICAL_PATH_SCHEMA = "unique_id string, wt_fp bigint, critical_cost_fp bigint"


def critical_path(
    nodes_w: DataFrame,
    edges: DataFrame,
    max_iters: int = 30,
    slot: str | None = None,
    keep: Iterable[DataFrame] = (),
) -> DataFrame:
    """nodes_w(unique_id, wt_fp), one row per node, + edges(child_unique_id,
    parent_unique_id) → (unique_id, wt_fp, critical_cost_fp): the
    longest node-weighted dependency chain ending at each node
    (inclusive of the node itself) — the dbt scheduling critical path
    when wt is execution time.

    Bellman-Ford-style relaxation: cost(child) = wt(child) +
    max(cost(parent)).  The edges are materialized once, one row per
    parent with its distinct children.  A round offers each parent's
    cost to its children and pools the offers with the node rows of
    ``cost``; one aggregate per node then takes the max offer
    (``pmax``), so there is no join back onto ``cost``.  The round is
    checkpointed in one job.  ``cost`` carries wt_fp and a
    ``has_children`` flag.  The first round reads the lazy ``nodes_w``,
    of unknown size, so it left-joins the nodes to the broadcast edges,
    which also sets the flag; later rounds broadcast ``cost``, sized by
    the previous round, into the edges.

    The round's job also counts the nodes whose cost changed and that
    have children.  The loop exits on the first round where that count
    is 0: a node's next cost reads only its parents' costs, so when no
    parent's cost moved the next round would reproduce this one, which
    is therefore the fixed point.  Costs at the end of a chain of d
    edges are final after round d, so in a DAG of depth D the nodes with
    children (depth at most D - 1) stop moving after round D - 1, and
    round D is the last one: there is no confirming round.  The fixed
    point is unique on a DAG, so the early exit cannot change the
    result.  All integer arithmetic — byte-stable across engines.

    The result reads the last round's checkpoint.  With ``slot``, that
    checkpoint and the frames in ``keep`` (checkpoints the caller's
    result reads besides) are pinned latest-wins in that
    ``rotate_cached`` slot: the next call with the same slot releases
    them."""
    e, e_size = observed(
        edges.groupBy(F.col("parent_unique_id").alias("p")).agg(
            F.collect_set("child_unique_id").alias("cs")
        ),
        "edge_footprint",
        # a row per parent and per child in its array
        *_footprint("p", F.concat_ws("", "cs"), rows=F.size("cs") + 1),
    )
    e = e.localCheckpoint()
    e_size = e_size.get
    wt = F.col("wt_fp").cast("long")
    cost = nodes_w.join(_broadcast_if_fits(e, e_size), nodes_w.unique_id == e.p, "left").select(
        "unique_id",
        wt.alias("wt_fp"),
        F.col("cs").isNotNull().alias("has_children"),
        wt.alias("critical_cost_fp"),
        "cs",
    )
    for i in range(max_iters):
        if i:
            side = _broadcast_if_fits(cost, cost_size)
            fed = e.join(side, e.p == side.unique_id)
        else:  # the lazy first cost already holds each node's children
            fed = cost
        # each parent's cost, offered to its children, pooled with the
        # node rows: one aggregate per node gives the max offer, so no
        # join back onto ``cost``.  explode_outer, not explode: with
        # explode the optimizer makes the first round's read of ``cost``
        # an inner join, so it no longer matches the read of the node
        # rows and the edges are broadcast twice.  The filter drops the
        # rows explode_outer adds for nodes without children.
        offers = fed.select(
            F.explode_outer("cs").alias("unique_id"), F.col("critical_cost_fp").alias("offer")
        ).where(F.col("unique_id").isNotNull())
        pooled = (
            cost.select(
                "unique_id", "wt_fp", "has_children", "critical_cost_fp", F.lit(True).alias("node")
            )
            .unionByName(offers, allowMissingColumns=True)
            .groupBy("unique_id")
            .agg(
                F.max("node").alias("node"),
                F.max("wt_fp").alias("wt_fp"),
                F.max("has_children").alias("has_children"),
                F.max("critical_cost_fp").alias("critical_cost_fp"),
                F.max("offer").alias("pmax"),
            )
            .where("node")
        )
        relaxed = F.col("wt_fp") + F.coalesce("pmax", F.lit(0).cast("long"))
        joined, stats = observed(
            pooled,
            "round_costs",
            # NULL on an empty graph
            F.sum(
                ((relaxed != F.col("critical_cost_fp")) & F.col("has_children")).cast("long")
            ).alias("changed"),
            *_footprint("unique_id"),
        )
        nxt = joined.select(
            "unique_id", "wt_fp", "has_children", relaxed.alias("critical_cost_fp")
        ).localCheckpoint()
        if i:  # round 0 read the lazy nodes_w join, which holds no blocks
            release_iter_handle(cost)
        cost = nxt
        cost_size = stats.get
        if not cost_size["changed"]:
            break
    release_iter_handle(e)
    if slot is not None:
        rotate_cached(slot, [*keep, cost])
    return cost.select("unique_id", "wt_fp", "critical_cost_fp")


def critical_path_local(
    nodes_w: Iterable[tuple[str, int]], edges: Iterable[tuple[str, str]], max_iters: int = 30
) -> list[tuple]:
    """``critical_path`` on the driver, over the (unique_id, wt_fp) node
    rows and the (child, parent) edges: [(unique_id, wt_fp,
    critical_cost_fp)], the same rows.  A node listed twice keeps its
    largest weight, as the Spark rounds' per-node aggregate does."""
    wt: dict = {}
    for n, w in nodes_w:
        wt[n] = max(w, wt.get(n, w))
    children: dict = {}
    for c, p in edges:
        if p is not None:  # a NULL parent joins no node
            kids = children.setdefault(p, set())
            if c is not None:
                kids.add(c)
    cost = dict(wt)
    for _ in range(max_iters):
        offer: dict = {}
        for p, kids in children.items():
            if p in cost:
                for c in kids:
                    offer[c] = max(cost[p], offer.get(c, cost[p]))
        nxt = {n: w + offer.get(n, 0) for n, w in wt.items()}
        changed = any(nxt[n] != cost[n] for n in wt if n in children)
        cost = nxt
        if not changed:
            break
    return [(n, w, cost[n]) for n, w in wt.items()]


DEPTH_SCHEMA = "unique_id string, depth int"


def lineage_depth(all_nodes: DataFrame, edges: DataFrame, slot: str | None = None) -> DataFrame:
    """Topological depth per row of ``all_nodes``: its longest path to
    any ancestor, 0 for roots and for a NULL id.  This is dbt's
    scheduling level, the ``critical_path`` with weight 1 on every child
    of ``edges`` (module docstring).  The result joins ``all_nodes``
    lazily; with ``slot``, it is pinned there with the critical path's
    last round."""
    ones = edges.select(F.col("child_unique_id").alias("unique_id"), F.lit(1).cast("long").alias("wt_fp"))
    cost = critical_path(ones, edges, slot=slot, keep=[all_nodes])
    cost = cost.select(F.col("unique_id").alias("d"), "critical_cost_fp")
    return all_nodes.join(cost, all_nodes.unique_id == cost.d, "left").select(
        "unique_id", F.coalesce("critical_cost_fp", F.lit(0)).cast("int").alias("depth")
    )


def lineage_depth_local(
    nodes: Iterable[str], edges: Iterable[tuple[str, str]], max_iters: int = 30
) -> list[tuple]:
    """``lineage_depth`` on the driver, over the node ids and the
    (child, parent) edges: [(unique_id, depth)], a row per id."""
    edges = list(edges)
    ones = [(c, 1) for c, _ in edges if c is not None]
    cost = {n: c for n, _, c in critical_path_local(ones, edges, max_iters)}
    return [(n, cost.get(n, 0)) for n in nodes]


def lineage_closure(edges: DataFrame) -> DataFrame:
    """(descendant, ancestor, min path length) — 'does A depend on B, how
    directly'."""
    return (
        transitive_closure(edges)
        .groupBy("descendant", "ancestor")
        .agg(F.min("depth").cast("int").alias("depth"))
    )
