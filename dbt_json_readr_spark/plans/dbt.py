"""Flat, oracle-comparable query surfaces over the dbt artifact readers
(SURVEY.md §2 A1-A13).

Each function matches a key in the registry and returns scalar columns
only (nested depends_on/columns are surfaced by the dedicated
``dbt_manifest_columns`` / ``dbt_manifest_edges`` queries, mirroring how
the reference keeps them as nested list-columns)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..operators import lineage
from ..session import fits_broadcast, local_frame, observed, prep, release_iter_handle
from ..sources import artifacts as A

FIXTURE_TARGET = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "dbt" / "target")

_FLAT = [
    "unique_id",
    "manifest_group",
    "resource_type",
    "database",
    "schema",
    "name",
    "description",
    "is_enabled",
    "materialized_as",
    "sha256",
]


def _flatten(df: DataFrame) -> DataFrame:
    return df.select(
        *_FLAT,
        F.size("depends_on").alias("n_depends_on"),
        F.size("columns").alias("n_columns"),
    )


def _manifest(target: str) -> str:
    return f"{target}/manifest.json"


def dbt_manifest_nodes(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return _flatten(A.manifest_nodes(spark, _manifest(target)))


def dbt_manifest_sources(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return _flatten(A.manifest_sources(spark, _manifest(target)))


def dbt_manifest_macros(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return _flatten(A.manifest_macros(spark, _manifest(target)))


def dbt_manifest_unified(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return _flatten(A.manifest_unified(spark, _manifest(target)))


def dbt_manifest_columns(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return A.manifest_columns(spark, _manifest(target)).select(
        "unique_id",
        "manifest_group",
        "column_name",
        "description",
        "data_type",
        F.array_join("tags", ",").alias("tags_csv"),
    )


def dbt_manifest_edges(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return A.manifest_edges(spark, _manifest(target))


def dbt_catalog_objects(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return A.catalog_objects(spark, f"{target}/catalog.json").select(
        "unique_id",
        "manifest_group",
        "materialized_as",
        "database",
        "schema",
        "name",
        F.size("columns").alias("n_columns"),
    )


def dbt_catalog_columns(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return A.catalog_columns(spark, f"{target}/catalog.json")


def dbt_schema_drift(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Catalog↔manifest column reconciliation: documented-but-not-built,
    built-but-not-documented, and type drift — the query a dbt operator
    actually runs with both artifacts loaded."""
    prep(spark)
    man = A.manifest_columns(spark, _manifest(target)).select(
        "unique_id", "column_name", F.col("data_type").alias("manifest_type")
    )
    cat = A.catalog_columns(spark, f"{target}/catalog.json").select(
        "unique_id", "column_name", F.col("data_type").alias("catalog_type")
    )
    return (
        man.join(cat, ["unique_id", "column_name"], "full_outer")
        .select(
            "unique_id",
            "column_name",
            F.col("manifest_type").isNotNull().alias("in_manifest"),
            F.col("catalog_type").isNotNull().alias("in_catalog"),
            "manifest_type",
            "catalog_type",
            F.when(
                F.col("manifest_type").isNotNull() & F.col("catalog_type").isNotNull(),
                F.lower(F.col("catalog_type")) == F.col("manifest_type"),
            ).alias("type_match"),
        )
    )


def dbt_run_results(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return A.run_results(spark, f"{target}/run_results.json").drop("artifact_path")


def dbt_source_freshness(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return A.source_freshness(spark, f"{target}/sources.json").drop("artifact_path")


# The lineage keys read the DAG through one A.manifest_graph decode; a key
# whose plan reads the graph more than once materializes it first.


def _edges(graph: DataFrame) -> DataFrame:
    """Node-to-node dependency edges; nodes and macros both contribute."""
    return graph.select(
        F.col("unique_id").alias("child_unique_id"),
        F.explode("parents").alias("parent_unique_id"),
    )


def _nodes(graph: DataFrame, *cols: str) -> DataFrame:
    """DAG nodes: manifest nodes and sources, not macros."""
    return graph.filter(F.col("manifest_group") != "macros").select("unique_id", *cols)


def _graph_footprint():
    """Observed size of manifest_graph rows as a broadcast would hold
    them: a row per node and per parent, and their strings."""
    return lineage._footprint(
        "unique_id", "manifest_group", F.concat_ws("", "parents"), rows=F.size("parents") + 1
    )


def _relax(graph: DataFrame, schema: str, in_memory, rounds) -> DataFrame:
    """The lineage result of ``graph`` (manifest_graph rows, maybe with
    weights) in the shape its size picks: the one relaxation switch of
    the critical path, depth and PageRank keys.  The graph is
    materialized once, by a checkpoint that observes its
    ``_graph_footprint``.  While that fits the broadcast bound the rows
    are collected, and ``in_memory(rows)`` gives the result's rows, of
    ``schema``; otherwise ``rounds(graph)`` runs the Spark rounds.  The
    checkpoint is released on return, so ``rounds`` must not read it
    lazily: what its result reads after the rounds it materializes
    itself, and pin in its key's ``rotate_cached`` slot."""
    graph, size = observed(graph, "graph_footprint", *_graph_footprint())
    graph = graph.localCheckpoint()
    spark, bound = graph.sparkSession, size.get
    if fits_broadcast(spark, bound["string_bytes"], bound["rows"]):
        out = local_frame(spark, in_memory(graph.collect()), schema)
    else:
        out = rounds(graph)
    release_iter_handle(graph)
    return out


def _edge_rows(rows: list[Row]) -> list[tuple]:
    """``_edges`` of collected graph rows."""
    return [(r.unique_id, p) for r in rows for p in r.parents or ()]


def _node_rows(rows: list[Row]) -> list[Row]:
    """``_nodes`` of collected graph rows."""
    return [r for r in rows if r.manifest_group != "macros"]


def dbt_lineage_closure(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    prep(spark)
    return lineage.lineage_closure(_edges(A.manifest_graph(spark, _manifest(target))))


def dbt_lineage_closure_rcte(
    spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET
) -> DataFrame:
    """The same (descendant, ancestor, min-depth) closure as A12, but
    computed by Spark 4's NATIVE recursive CTE (``WITH RECURSIVE``,
    new in 4.0) instead of the hand-rolled iterative self-join in
    operators/lineage.py — the planner owns the fixed-point loop, so
    each recursion level is a distributed join with AQE, no driver-side
    iteration or persist/unpersist choreography.  The DuckDB oracle
    runs its OWN ``WITH RECURSIVE`` over an independently parsed edge
    list, so two engines' recursive evaluators (plus A12's stdlib BFS
    oracle and iterative-join operator) must all agree on the closure.

    Same capability surface the reference's edge list enables
    (parse_depends_on, explore.R:98-128); UNION ALL + final min()
    terminates on a DAG because path depth is bounded by graph depth.
    Every recursion level reads the edge view, so the edges are
    materialized once and the result keeps reading them."""
    prep(spark)
    edges = (
        _edges(A.manifest_graph(spark, _manifest(target)))
        .select(
            F.col("child_unique_id").alias("descendant"),
            F.col("parent_unique_id").alias("ancestor"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges.createOrReplaceTempView("dbt_edges_rcte")
    return spark.sql(
        """
        WITH RECURSIVE paths (descendant, ancestor, depth) AS (
          SELECT descendant, ancestor, 1 AS depth FROM dbt_edges_rcte
          UNION ALL
          SELECT p.descendant, e.ancestor, p.depth + 1
          FROM paths p JOIN dbt_edges_rcte e ON p.ancestor = e.descendant
        )
        SELECT descendant, ancestor, CAST(min(depth) AS INT) AS depth
        FROM paths
        GROUP BY descendant, ancestor
        """
    )


def dbt_lineage_depth(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """dbt's scheduling level: per node row, its longest dependency path,
    counting a last edge into a macro or a missing parent; 0 for a node
    with no parents.  It is the critical path with 0/1 weights, macros
    included as vertices (operators/lineage.py has why), so it relaxes
    in the shape ``_relax`` picks."""
    prep(spark)
    return _relax(
        A.manifest_graph(spark, _manifest(target)).select("unique_id", "manifest_group", "parents"),
        lineage.DEPTH_SCHEMA,
        lambda rows: lineage.lineage_depth_local([r.unique_id for r in _node_rows(rows)], _edge_rows(rows)),
        # the result joins the node ids after ``_relax`` releases the graph
        lambda graph: lineage.lineage_depth(
            _nodes(graph).localCheckpoint(), _edges(graph), slot="dbt_lineage_depth"
        ),
    )


def dbt_pagerank(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Blast-radius ranking of the dependency DAG via fixed-point
    integer PageRank (operators/lineage.py): the models most of the
    project depends on, directly or transitively, float to the top.
    A query surface the reference's flat edge list (explore.R:105-138)
    enables but never computes."""
    prep(spark)
    return _relax(
        A.manifest_graph(spark, _manifest(target)).select("unique_id", "manifest_group", "parents"),
        lineage.PAGERANK_SCHEMA,
        lambda rows: lineage.pagerank_local([r.unique_id for r in _node_rows(rows)], _edge_rows(rows)),
        lambda graph: lineage.pagerank(_nodes(graph), _edges(graph)),
    )


def dbt_critical_path(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Execution-time-weighted critical path through the dependency DAG
    (operators/lineage.py critical_path): per node, the longest chain
    of upstream execution time that must complete before it — the
    wall-clock floor for a fully parallel dbt run, and the chain to
    optimize first.  Weights are run_results execution times in
    fixed-point microseconds (floor(t·1e6); 0 for sources and unrun
    nodes), so the costs are byte-exact.  A scheduling query the
    reference's edge list (explore.R:98-128) + run_results load
    (explore.R:252-256) jointly enable but never compute.

    The graph joined to its weights is materialized once; the node
    weights and the edges both read it (``_relax``)."""
    prep(spark)
    rr = A.run_results(spark, f"{target}/run_results.json").select(
        "unique_id",
        F.floor(F.col("execution_time") * 1_000_000).cast("long").alias("wt_fp"),
    )
    graph = (
        A.manifest_graph(spark, _manifest(target))
        .join(rr, "unique_id", "left")
        .select(
            "unique_id",
            "manifest_group",
            "parents",
            F.coalesce("wt_fp", F.lit(0).cast("long")).alias("wt_fp"),
        )
    )
    return _relax(
        graph,
        lineage.CRITICAL_PATH_SCHEMA,
        lambda rows: lineage.critical_path_local(
            [(r.unique_id, r.wt_fp) for r in _node_rows(rows)], _edge_rows(rows)
        ),
        lambda graph: lineage.critical_path(
            _nodes(graph, "wt_fp"), _edges(graph), slot="dbt_critical_path"
        ),
    )


def dbt_run_summary(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Invocation health rollup over run_results: per-status node count,
    decimal-exact total runtime, slowest node time, rows touched."""
    prep(spark)
    rr = A.run_results(spark, f"{target}/run_results.json")
    return (
        rr.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("execution_time").cast("decimal(18,4)")).cast("double").alias("total_time"),
            F.max("execution_time").alias("max_time"),
            F.sum("rows_affected").alias("total_rows"),
        )
        .orderBy("status")
    )


def dbt_model_fanout(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Blast-radius ranking: direct downstream dependents per node —
    the impact-analysis primitive on the depends_on edge list."""
    prep(spark)
    return (
        _edges(A.manifest_graph(spark, _manifest(target)))
        .groupBy("parent_unique_id")
        .agg(F.count(F.lit(1)).alias("n_children"))
        .orderBy(F.desc("n_children"), "parent_unique_id")
    )


def dbt_description_coverage(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Documentation hygiene: share of documented objects per
    resource_type across the unified manifest."""
    prep(spark)
    uni = dbt_manifest_unified(spark, sf_dir, target)
    documented = (F.col("description").isNotNull() & (F.col("description") != "")).cast("long")
    return (
        uni.groupBy("resource_type")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum(documented).alias("n_documented"),
            (F.sum(documented).cast("double") / F.count(F.lit(1))).alias("coverage"),
        )
        .orderBy("resource_type")
    )


def dbt_tag_usage(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """Tag taxonomy rollup over the unified manifest (nodes ∪ sources ∪
    macros carry `tags` per explore.R:139-241's parsed surface): objects
    and distinct resource types per tag — the governance query behind
    `dbt run --select tag:x`."""
    prep(spark)
    # the raw unified reader keeps the nested `tags` array that the
    # flat query surface projects away
    uni = A.manifest_unified(spark, _manifest(target))
    return (
        uni.select("resource_type", F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.countDistinct("resource_type").alias("n_resource_types"),
        )
        .orderBy("tag")
    )


def dbt_test_coverage(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """A21: schema-test coverage per non-test node — how many tests
    depend on each model, and which models ship untested (the dbt
    governance dashboard's first column).  Relationship tests attach to
    BOTH endpoints, so a two-parent test counts once per model."""
    prep(spark)
    nodes = A.manifest_nodes(spark, _manifest(target))
    tests = nodes.filter(F.col("resource_type") == "test").select(
        F.col("unique_id").alias("test_id")
    )
    edges = A.manifest_edges(spark, _manifest(target)).filter(
        F.col("dep_type") == "nodes"
    )
    per_model = (
        edges.join(F.broadcast(tests), edges["child_unique_id"] == tests["test_id"])
        .groupBy("parent_unique_id")
        .agg(F.count_distinct("test_id").alias("n_tests"))
    )
    models = nodes.filter(F.col("resource_type") != "test").select(
        "unique_id", "resource_type"
    )
    return (
        models.join(per_model, models["unique_id"] == per_model["parent_unique_id"], "left")
        .select(
            "unique_id",
            "resource_type",
            F.coalesce("n_tests", F.lit(0)).alias("n_tests"),
            (F.coalesce("n_tests", F.lit(0)) > 0).alias("is_tested"),
        )
        .orderBy("unique_id")
    )


def dbt_source_coverage(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """A22: dead-source audit — declared sources with NO downstream
    consumer are ingestion cost with zero value (the first cleanup a
    lake governance pass makes).  Direct consumers counted per source
    from the full edge list."""
    prep(spark)
    sources = A.manifest_sources(spark, _manifest(target)).select(
        F.col("unique_id").alias("source_id")
    )
    edges = A.manifest_edges(spark, _manifest(target)).filter(
        F.col("dep_type") == "nodes"
    )
    consumers = edges.groupBy("parent_unique_id").agg(
        F.count_distinct("child_unique_id").alias("n_consumers")
    )
    return (
        sources.join(
            consumers, sources["source_id"] == consumers["parent_unique_id"], "left"
        )
        .select(
            F.col("source_id").alias("unique_id"),
            F.coalesce("n_consumers", F.lit(0)).alias("n_consumers"),
            (F.coalesce("n_consumers", F.lit(0)) == 0).alias("is_dead"),
        )
        .orderBy("unique_id")
    )


def dbt_macro_usage(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """A23: dead-macro audit — macros referenced by zero nodes are
    copy-paste debt (the fixture plants ``unused_macro`` exactly for
    this).  Reference counts come from the macro-edge slice of the
    SAME exploded edge list the node lineage uses."""
    prep(spark)
    macros = A.manifest_macros(spark, _manifest(target)).select(
        F.col("unique_id").alias("macro_id")
    )
    edges = A.manifest_edges(spark, _manifest(target)).filter(
        F.col("dep_type") == "macros"
    )
    refs = edges.groupBy("parent_unique_id").agg(
        F.count_distinct("child_unique_id").alias("n_referencing_nodes")
    )
    return (
        macros.join(refs, macros["macro_id"] == refs["parent_unique_id"], "left")
        .select(
            F.col("macro_id").alias("unique_id"),
            F.coalesce("n_referencing_nodes", F.lit(0)).alias("n_referencing_nodes"),
            (F.coalesce("n_referencing_nodes", F.lit(0)) == 0).alias("is_unused"),
        )
        .orderBy("unique_id")
    )


def dbt_column_name_lineage(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """A24: name-match column lineage — the heuristic real dbt doc
    tools use when explicit column provenance is absent: a child
    column whose name also exists on a direct parent is a candidate
    flow edge.  Derived entirely from the manifest (edge list ⋈
    exploded column inventories on both endpoints); `n_parents` > 1
    flags ambiguous provenance (same-named column on several
    parents)."""
    prep(spark)
    cols = A.manifest_unified(spark, _manifest(target)).select(
        "unique_id", F.explode(F.col("columns.name")).alias("column_name")
    )
    edges = A.manifest_edges(spark, _manifest(target)).filter(
        F.col("dep_type") == "nodes"
    )
    child_cols = cols.select(
        F.col("unique_id").alias("child_unique_id"), "column_name"
    )
    parent_cols = cols.select(
        F.col("unique_id").alias("parent_unique_id"), "column_name"
    )
    return (
        edges.join(child_cols, "child_unique_id")
        .join(parent_cols, ["parent_unique_id", "column_name"])
        .groupBy("child_unique_id", "column_name")
        .agg(
            F.count(F.lit(1)).alias("n_parents"),
            F.min("parent_unique_id").alias("first_parent"),
        )
        .orderBy("child_unique_id", "column_name")
    )


def dbt_test_results_rollup(spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET) -> DataFrame:
    """A25: per-MODEL test outcomes — A21 says which models HAVE
    tests; this says how those tests WENT on the last run.  Test-run
    rows (run_results over the r4-extended fixture: pass/fail/warn
    statuses, failing-row counts) route to the models they guard via
    the manifest's test→parent edges, so a two-parent relationship
    test reports into BOTH endpoints."""
    prep(spark)
    rr = A.run_results(spark, f"{target}/run_results.json").filter(
        F.col("unique_id").startswith("test.")
    )
    edges = A.manifest_edges(spark, _manifest(target)).filter(
        F.col("dep_type") == "nodes"
    )
    routed = rr.join(
        edges.select(
            F.col("child_unique_id").alias("unique_id"),
            F.col("parent_unique_id").alias("model_unique_id"),
        ),
        "unique_id",
    )
    return (
        routed.groupBy("model_unique_id")
        .agg(
            F.count(F.lit(1)).alias("n_tests_run"),
            F.sum((F.col("status") == "pass").cast("long")).alias("n_passed"),
            F.sum(F.col("status").isin("fail", "error").cast("long")).alias("n_failed"),
            F.sum((F.col("status") == "warn").cast("long")).alias("n_warn"),
            # per-row coalesce: tests with no adapter_response (errored
            # runs) must sum as 0, matching the oracle, not NULL the group
            F.sum(F.coalesce("rows_affected", F.lit(0))).alias("total_failing_rows"),
        )
        .orderBy("model_unique_id")
    )


# ------------------------------------------------------------- A26
# Schema-drift CLASSIFICATION — from A9's raw column diff to the page
# a dbt operator actually triages: which drifts are benign widenings
# and which break consumers, scored per model.

# additive type lattices (case-insensitive).  A manifest→catalog change
# that climbs WITHIN one lattice is a safe widening; any other type
# change is breaking.
_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "integer": 3, "bigint": 4}
_FLOAT_RANK = {"real": 1, "float": 1, "double": 2, "double precision": 2}


def _rank_col(col: F.Column, ranks: dict[str, int]) -> F.Column:
    m = F.create_map(*[F.lit(x) for kv in ranks.items() for x in kv])
    return m[F.lower(col)]


def dbt_schema_drift_classes(
    spark: SparkSession, sf_dir: str, target: str = FIXTURE_TARGET
) -> DataFrame:
    """Per-model drift triage over the manifest↔catalog column diff:
    each column classifies as match / safe_widening (type climbed
    within the int or float lattice — consumers keep working) /
    breaking (any other type change) / missing_in_catalog (documented,
    never built) / missing_in_manifest (built, undocumented), and the
    model's drift_score = 3·breaking + 2·missing_in_catalog +
    1·missing_in_manifest + 1·safe_widening — the paging severity
    order.  The r5-extended fixtures plant every class (int→bigint,
    real→double, varchar→bigint, double→bigint, one unbuilt column,
    one undocumented column).

    Scale posture: artifact-sized inputs; one full-outer join on
    (unique_id, column) + one rollup — same shape as A9.
    """
    prep(spark)
    man = A.manifest_columns(spark, _manifest(target)).select(
        "unique_id", "column_name", F.col("data_type").alias("manifest_type")
    )
    cat = A.catalog_columns(spark, f"{target}/catalog.json").select(
        "unique_id", "column_name", F.col("data_type").alias("catalog_type")
    )
    mt, ct = F.col("manifest_type"), F.col("catalog_type")
    int_w = (
        _rank_col(mt, _INT_RANK).isNotNull()
        & _rank_col(ct, _INT_RANK).isNotNull()
        & (_rank_col(mt, _INT_RANK) < _rank_col(ct, _INT_RANK))
    )
    float_w = (
        _rank_col(mt, _FLOAT_RANK).isNotNull()
        & _rank_col(ct, _FLOAT_RANK).isNotNull()
        & (_rank_col(mt, _FLOAT_RANK) < _rank_col(ct, _FLOAT_RANK))
    )
    cls = (
        F.when(mt.isNull(), F.lit("missing_in_manifest"))
        .when(ct.isNull(), F.lit("missing_in_catalog"))
        .when(F.lower(ct) == F.lower(mt), F.lit("match"))
        .when(int_w | float_w, F.lit("safe_widening"))
        .otherwise(F.lit("breaking"))
    )
    classed = man.join(cat, ["unique_id", "column_name"], "full_outer").select(
        "unique_id", cls.alias("drift_class")
    )

    def n_of(c: str) -> F.Column:
        return F.sum((F.col("drift_class") == c).cast("long")).alias(f"n_{c}")

    return (
        classed.groupBy("unique_id")
        .agg(
            F.count(F.lit(1)).alias("n_columns"),
            n_of("match"),
            n_of("safe_widening"),
            n_of("breaking"),
            n_of("missing_in_catalog"),
            n_of("missing_in_manifest"),
        )
        .withColumn(
            "drift_score",
            3 * F.col("n_breaking")
            + 2 * F.col("n_missing_in_catalog")
            + F.col("n_missing_in_manifest")
            + F.col("n_safe_widening"),
        )
        .orderBy(F.desc("drift_score"), "unique_id")
    )


# ----------------------------------------------------------------- A27
# The many-file artifact-lake path: SURVEY §4's 100× of
# import_manifest_json (explore.R:223-259), which reads ONE file.  A
# fleet writes one manifest.json per dbt invocation; per-model history
# questions (how often does this model ship? how fast does its code
# churn?) are glob-the-lake rollups.


def dbt_manifest_lake(spark: SparkSession, sf_dir: str, lake: str | None = None) -> DataFrame:
    """Per-model rollup over a 1,200-invocation manifest lake.

    Scale shape: one glob → ``wholetext`` (one row per file, files packed
    into splits by openCostInBytes, so 1,200 tiny files still fan out
    across executors) → ``from_json`` with the NARROW ``LAKE_MANIFEST_
    SCHEMA`` (metadata + per-node checksum only — the JSON analogue of
    column pruning; the full MANIFEST_SCHEMA would deserialize every
    depends_on/columns map in every file for nothing) → explode →
    groupBy(unique_id).  Zero driver-side JSON parsing; the rollup is a
    single shuffle at model-key cardinality (8 keys), not file
    cardinality.  ``n_files`` is a broadcast 1-row scalar.
    """
    prep(spark)
    from ..session import rotate_cached
    from ..sources.lake_fixture import LAKE_DIR, ensure_lake

    root = str(ensure_lake(lake or LAKE_DIR))
    doc = A.read_artifact(spark, f"{root}/run_*/manifest.json", A.LAKE_MANIFEST_SCHEMA)
    nodes = doc.select(
        "artifact_path",
        F.to_timestamp(F.col("doc.metadata")["generated_at"]).alias("generated_at"),
        F.explode("doc.nodes").alias("map_uid", "node"),
    ).persist()
    # two aggregations (per-model rollup + file count) consume the
    # parsed-nodes frame; without the persist each re-runs the whole
    # glob scan + from_json (measured 2× the wall time at 1,200 files).
    # Latest-wins rotation: repeated calls pin ≤1 cached frame.
    rotate_cached("manifest_lake", [nodes])
    # distinct-paths over parsed nodes == file count because every
    # invocation writes ≥1 node (the generator guarantees ≥7; an
    # empty-manifest lake would need the doc-level count back, and the
    # stdlib oracle's n_files would flag the drift immediately)
    n_files = nodes.agg(F.countDistinct("artifact_path").alias("n_files"))
    return (
        nodes.groupBy(F.col("node.unique_id").alias("unique_id"))
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.countDistinct("node.checksum.checksum").alias("n_versions"),
            F.min("generated_at").alias("first_seen_at"),
            F.max("generated_at").alias("last_seen_at"),
        )
        .crossJoin(F.broadcast(n_files))
        .select(
            "unique_id", "n_runs", "n_files", "n_versions", "first_seen_at", "last_seen_at"
        )
        .orderBy("unique_id")
    )
