"""Physical-plan assertions: the perf contract.

The plan tests use these to pin the *plan shape*, not just the result:
filters must reach the parquet scan, small dims must broadcast, and no
row-at-a-time Python may appear in a hot path.  A refactor that keeps
results but regresses the plan fails the suite.
"""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from dbt_json_readr_spark import session as _session


def formatted_plan(df: DataFrame) -> str:
    """The physical plan of ``df`` as ``EXPLAIN FORMATTED`` prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if at least one scan carries a non-empty PushedFilters list."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "PushedFilters: []" not in line:
            return True
    return False


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def broadcast_hint_subtrees(df: DataFrame) -> list[str]:
    """Text of the logical subtree under each broadcast ResolvedHint in
    the ANALYZED plan (pre-optimizer, so hints are still visible as
    nodes).  Used to audit hint *placement*: a scale-dependent side
    (customer, orders, fact-derived aggregates) must never carry a
    forced broadcast hint — AQE decides from runtime stats instead."""
    plan = df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
    lines = plan.splitlines()

    def depth(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        d = depth(line)
        sub: list[str] = []
        for nxt in lines[i + 1 :]:
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Row-at-a-time Python operators present in the plan (should be
    empty everywhere; Arrow nodes are reported separately)."""
    plan = formatted_plan(df)
    return [n for n in ("BatchEvalPython",) if n in plan]


def arrow_eval_nodes(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return [n for n in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas") if n in plan]


def scan_read_schema(df: DataFrame, table: str) -> str:
    """The ReadSchema line for the scan of `table` (column-pruning check)."""
    plan = formatted_plan(df)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        # detail block header: "(1) Scan parquet"; the table name appears
        # in the Location: line a few lines below
        if ") Scan parquet" not in line:
            continue
        block = lines[i : i + 15]
        if not any("Location:" in x and f"/{table}.parquet" in x for x in block):
            continue
        for follow in block:
            if "ReadSchema:" in follow:
                return follow.split("ReadSchema:", 1)[1].strip()
    return ""


def live_parquet_scan_count(df: DataFrame) -> int:
    """Number of parquet scans the execution will ACTUALLY run.

    The formatted explain prints, inside every InMemoryRelation, the
    stored REBUILD plan for that cache entry — including its parquet
    scan — so a regex over the text over-counts whenever a result
    reuses a cache entry pinned by an earlier operator in the session
    (semdedup_prune reusing embedding_kmeans's Lloyd centroids shows 2
    scans in the text while the execution reads parquet zero times).
    The JVM physical-plan tree stops at InMemoryTableScan, so traversing
    it counts only live scans; the AQE wrapper is unwrapped explicitly
    (it is a leaf node whose real plan hangs off executedPlan)."""

    seen_caches: set[int] = set()

    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            # AQE stage wrappers are LEAVES whose real subtree hangs
            # off .plan() — treating them as scan-free undercounted
            # every scan below an exchange once AQE re-planned.
            return walk(node.plan())
        if cls == "InMemoryTableScanExec":
            # a cache entry whose buffers are not yet materialized WILL
            # run its stored rebuild plan (incl. its scans) on first
            # action; only a loaded entry truly stops the traversal.
            try:
                builder = node.relation().cacheBuilder()
                loaded = builder.isCachedColumnBuffersLoaded()
            except Exception:
                # probe degraded (Spark API drift): fall back to the
                # old loaded-assumption, but LOUDLY — a silent default
                # turns every <=N-scan regression guard into a
                # vacuous pass.
                import warnings

                warnings.warn(
                    "live_parquet_scan_count: cache-materialization "
                    "probe failed; treating InMemoryTableScan as "
                    "loaded (may undercount)",
                    stacklevel=2,
                )
                return 0
            if loaded:
                return 0
            # the same unloaded relation referenced from several
            # subtrees builds its buffers ONCE on first action — count
            # its rebuild scans once, not per reference (case-class
            # hashCode identifies the builder across proxies).
            key = builder.hashCode()
            if key in seen_caches:
                return 0
            seen_caches.add(key)
            return walk(node.relation().cachedPlan())
        n = 1 if cls == "FileSourceScanExec" else 0
        try:
            subs = node.subqueries()
            for i in range(subs.length()):
                n += walk(subs.apply(i))
        except Exception:
            pass
        cs = node.children()
        for i in range(cs.length()):
            n += walk(cs.apply(i))
        return n

    return walk(df._jdf.queryExecution().executedPlan())  # type: ignore[attr-defined]


_LOCATION = re.compile(r"Location: \w+\(\d+ paths\)\[([^\]]*)\]")


def file_scans(executions: list, fmt: str = "text") -> Counter:
    """Scans of ``fmt`` files across ``executions`` (a ``profile.run``
    record's): location → number of ``Scan <fmt>`` plan nodes that read
    it.  A checkpointed input shows no scan, so this counts the file
    reads made.  A cached relation's build plan stays in the graph, so
    its scan counts even when the cache is already loaded:
    ``live_parquet_scan_count`` tells those apart."""
    out: Counter = Counter()
    for e in executions:
        for node in e.nodes:
            if node.name.strip() == f"Scan {fmt}":
                m = _LOCATION.search(node.desc)
                out[m.group(1) if m else node.desc] += 1
    return out


def live_cached(slot: str, session) -> list:
    """The frames ``rotate_cached`` currently pins for (session, slot),
    for the ≤N-live-handles contracts."""
    return list(_session._CACHE_SLOTS.get(session, {}).get(slot, []))


@contextmanager
def broadcast_threshold(spark: SparkSession, value: int):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` at
    ``value``: -1 keeps every shape gated on the broadcast bound off
    the driver."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, saved)
