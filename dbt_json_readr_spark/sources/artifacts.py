"""Spark-native readers for dbt artifact JSON (manifest.json, catalog.json,
run_results.json, sources.json) — the reference-parity surface.

Reference: aecoleman/dbt-json-readr ``explore.R``
- import_catalog_json / read_catalog_objects   explore.R:8-60
- parse_columns / parse_depends_on             explore.R:66-128
- read_manifest_nodes                          explore.R:139-174
- read_manifest_sources                        explore.R:176-205
- read_manifest_macros                         explore.R:207-226
- import_manifest_json                         explore.R:228-241
- sources.json / run_results.json loads        explore.R:245-256

Scale design: the reference reads ONE artifact on a laptop; a lake holds
millions (one per dbt invocation).  So readers take a path/glob, read each
file as one row (``wholetext``), and parse with ``from_json`` + explicit
schemas — all JVM-side, parallel across executors, no driver JSON work.
Dynamic-key JSON objects (``nodes``/``sources``/``macros`` keyed by
unique_id) are modeled as ``MAP<STRING, STRUCT>`` and exploded; that is
the Spark-idiomatic equivalent of the reference's ``purrr::imap_dfr``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- schemas

_META = T.MapType(T.StringType(), T.StringType())
_TAGS = T.ArrayType(T.StringType())

_MANIFEST_COLUMN = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("meta", _META),
        T.StructField("tags", _TAGS),
    ]
)

_DEPENDS_ON = T.StructType(
    [
        T.StructField("nodes", T.ArrayType(T.StringType())),
        T.StructField("macros", T.ArrayType(T.StringType())),
    ]
)

_CHECKSUM = T.StructType(
    [T.StructField("name", T.StringType()), T.StructField("checksum", T.StringType())]
)

_CONFIG = T.StructType(
    [
        T.StructField("enabled", T.BooleanType()),
        T.StructField("materialized", T.StringType()),
    ]
)

_MANIFEST_NODE = T.StructType(
    [
        T.StructField("unique_id", T.StringType()),
        T.StructField("resource_type", T.StringType()),
        T.StructField("database", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("alias", T.StringType()),
        T.StructField("identifier", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("config", _CONFIG),
        T.StructField("depends_on", _DEPENDS_ON),
        T.StructField("columns", T.MapType(T.StringType(), _MANIFEST_COLUMN)),
        T.StructField("meta", _META),
        T.StructField("tags", _TAGS),
        T.StructField("checksum", _CHECKSUM),
        T.StructField("macro_sql", T.StringType()),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("nodes", T.MapType(T.StringType(), _MANIFEST_NODE)),
        T.StructField("sources", T.MapType(T.StringType(), _MANIFEST_NODE)),
        T.StructField("macros", T.MapType(T.StringType(), _MANIFEST_NODE)),
    ]
)

# Narrow projection of MANIFEST_SCHEMA for LAKE-wide rollups: when a glob
# matches thousands/millions of manifests, from_json should only pay for
# the fields the query needs (metadata + per-node checksum identity) —
# the JSON-parse analogue of parquet column pruning.  from_json skips
# unlisted fields entirely.
LAKE_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "nodes",
            T.MapType(
                T.StringType(),
                T.StructType(
                    [
                        T.StructField("unique_id", T.StringType()),
                        T.StructField("resource_type", T.StringType()),
                        T.StructField("checksum", _CHECKSUM),
                    ]
                ),
            ),
        ),
    ]
)

# Narrow projection of MANIFEST_SCHEMA for the DAG queries: only the
# identity and node-dependency fields of nodes, sources and macros.
_GRAPH_NODE = T.StructType(
    [
        T.StructField("unique_id", T.StringType()),
        T.StructField(
            "depends_on",
            T.StructType([T.StructField("nodes", T.ArrayType(T.StringType()))]),
        ),
    ]
)

GRAPH_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField(group, T.MapType(T.StringType(), _GRAPH_NODE))
        for group in ("nodes", "sources", "macros")
    ]
)

_CATALOG_COLUMN = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("index", T.IntegerType()),
        T.StructField("type", T.StringType()),
    ]
)

_CATALOG_NODE = T.StructType(
    [
        T.StructField("unique_id", T.StringType()),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("database", T.StringType()),
                    T.StructField("schema", T.StringType()),
                    T.StructField("name", T.StringType()),
                ]
            ),
        ),
        T.StructField("columns", T.MapType(T.StringType(), _CATALOG_COLUMN)),
    ]
)

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("nodes", T.MapType(T.StringType(), _CATALOG_NODE)),
        T.StructField("sources", T.MapType(T.StringType(), _CATALOG_NODE)),
    ]
)

RUN_RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("elapsed_time", T.DoubleType()),
        T.StructField(
            "results",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("unique_id", T.StringType()),
                        T.StructField("status", T.StringType()),
                        T.StructField("thread_id", T.StringType()),
                        T.StructField("execution_time", T.DoubleType()),
                        T.StructField(
                            "adapter_response",
                            T.StructType([T.StructField("rows_affected", T.LongType())]),
                        ),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

SOURCES_SCHEMA = T.StructType(
    [
        T.StructField("elapsed_time", T.DoubleType()),
        T.StructField(
            "results",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("unique_id", T.StringType()),
                        T.StructField("status", T.StringType()),
                        T.StructField("max_loaded_at", T.StringType()),
                        T.StructField("snapshotted_at", T.StringType()),
                        T.StructField("max_loaded_at_time_ago_in_s", T.DoubleType()),
                        T.StructField(
                            "criteria",
                            T.StructType(
                                [
                                    T.StructField(
                                        "warn_after",
                                        T.StructType(
                                            [
                                                T.StructField("count", T.IntegerType()),
                                                T.StructField("period", T.StringType()),
                                            ]
                                        ),
                                    ),
                                    T.StructField(
                                        "error_after",
                                        T.StructType(
                                            [
                                                T.StructField("count", T.IntegerType()),
                                                T.StructField("period", T.StringType()),
                                            ]
                                        ),
                                    ),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)

# ---------------------------------------------------------------- readers


def read_artifact(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """One row per artifact file (glob-able), parsed JVM-side."""
    return (
        spark.read.text(path, wholetext=True)
        .withColumn("artifact_path", F.input_file_name())
        .select("artifact_path", F.from_json("value", schema).alias("doc"))
    )


def _explode_group(doc: DataFrame, group: str) -> DataFrame:
    return doc.select(
        "artifact_path", F.explode(F.col(f"doc.{group}")).alias("map_uid", "node")
    )


def _edge_array(prefix: Column | None = None) -> Column:
    """depends_on → ARRAY<STRUCT<type, unique_id>> (parse_depends_on,
    explore.R:98-128; empty lists → empty array, not null rows)."""
    nodes = F.coalesce(F.col("node.depends_on.nodes"), F.array())
    macros = F.coalesce(F.col("node.depends_on.macros"), F.array())
    return F.concat(
        F.transform(nodes, lambda x: F.struct(F.lit("nodes").alias("type"), x.alias("unique_id"))),
        F.transform(macros, lambda x: F.struct(F.lit("macros").alias("type"), x.alias("unique_id"))),
    )


def _columns_array() -> Column:
    """columns map → ordered ARRAY<STRUCT> (parse_columns, explore.R:66-96)."""
    return F.transform(
        F.map_values(F.coalesce(F.col("node.columns"), F.create_map().cast("map<string,struct<name:string,description:string,data_type:string,meta:map<string,string>,tags:array<string>>>"))),
        lambda c: F.struct(
            c["name"].alias("name"),
            c["description"].alias("description"),
            c["data_type"].alias("data_type"),
            c["meta"].alias("meta"),
            c["tags"].alias("tags"),
        ),
    )


def manifest_nodes(spark: SparkSession, manifest_path: str) -> DataFrame:
    """read_manifest_nodes (explore.R:139-174): models/tests/seeds with
    alias-coalesced name, config flags, sha256 only when checksum algo is
    sha256, nested depends_on + columns."""
    out = _explode_group(read_artifact(spark, manifest_path, MANIFEST_SCHEMA), "nodes")
    return out.select(
        "artifact_path",
        F.col("node.unique_id").alias("unique_id"),
        F.lit("nodes").alias("manifest_group"),
        F.col("node.resource_type").alias("resource_type"),
        F.col("node.database").alias("database"),
        F.col("node.schema").alias("schema"),
        F.coalesce(F.col("node.alias"), F.col("node.name")).alias("name"),
        F.col("node.description").alias("description"),
        F.col("node.config.enabled").alias("is_enabled"),
        F.col("node.config.materialized").alias("materialized_as"),
        _edge_array().alias("depends_on"),
        _columns_array().alias("columns"),
        F.col("node.meta").alias("meta"),
        F.col("node.tags").alias("tags"),
        F.when(F.col("node.checksum.name") == "sha256", F.col("node.checksum.checksum")).alias("sha256"),
    )


def manifest_sources(spark: SparkSession, manifest_path: str) -> DataFrame:
    """read_manifest_sources (explore.R:176-205): name = identifier,
    materialized_as/sha256 are NULL, no depends_on."""
    out = _explode_group(read_artifact(spark, manifest_path, MANIFEST_SCHEMA), "sources")
    return out.select(
        "artifact_path",
        F.col("node.unique_id").alias("unique_id"),
        F.lit("sources").alias("manifest_group"),
        F.col("node.resource_type").alias("resource_type"),
        F.col("node.database").alias("database"),
        F.col("node.schema").alias("schema"),
        F.col("node.identifier").alias("name"),
        F.col("node.description").alias("description"),
        F.col("node.config.enabled").alias("is_enabled"),
        F.lit(None).cast("string").alias("materialized_as"),
        F.array().cast("array<struct<type:string,unique_id:string>>").alias("depends_on"),
        _columns_array().alias("columns"),
        F.col("node.meta").alias("meta"),
        F.col("node.tags").alias("tags"),
        F.lit(None).cast("string").alias("sha256"),
    )


def manifest_macros(spark: SparkSession, manifest_path: str) -> DataFrame:
    """read_manifest_macros (explore.R:207-226): database/schema NULL,
    sha256 = sha256(macro_sql) — computed JVM-side with ``sha2``.

    INTENTIONAL divergence from the reference tool's VALUES: explore.R's
    digest::digest(macro_sql, algo='sha256') hashes R's internal
    serialization of the string by default (serialize=TRUE), so its hex
    differs from a raw-byte sha256 of the same text.  Hashing the raw
    UTF-8 string is the saner, language-portable contract; the oracle
    (oracles.py) computes the same raw-string sha256, so the parity gate
    is unaffected.  Not a bug — do not "fix" to match R's serialized
    digest."""
    out = _explode_group(read_artifact(spark, manifest_path, MANIFEST_SCHEMA), "macros")
    return out.select(
        "artifact_path",
        F.col("node.unique_id").alias("unique_id"),
        F.lit("macros").alias("manifest_group"),
        F.col("node.resource_type").alias("resource_type"),
        F.lit(None).cast("string").alias("database"),
        F.lit(None).cast("string").alias("schema"),
        F.col("node.name").alias("name"),
        F.col("node.description").alias("description"),
        F.lit(None).cast("boolean").alias("is_enabled"),
        F.lit(None).cast("string").alias("materialized_as"),
        _edge_array().alias("depends_on"),
        F.array().cast(
            "array<struct<name:string,description:string,data_type:string,meta:map<string,string>,tags:array<string>>>"
        ).alias("columns"),
        F.col("node.meta").alias("meta"),
        F.col("node.tags").alias("tags"),
        F.sha2(F.col("node.macro_sql"), 256).alias("sha256"),
    )


def manifest_unified(spark: SparkSession, manifest_path: str) -> DataFrame:
    """import_manifest_json (explore.R:228-241): nodes ∪ sources ∪ macros,
    sorted by resource_type, database, schema, name, unique_id —
    nulls LAST to match R ``arrange`` (macros carry NULL database/schema)."""
    return (
        manifest_nodes(spark, manifest_path)
        .unionByName(manifest_sources(spark, manifest_path))
        .unionByName(manifest_macros(spark, manifest_path))
        .orderBy(
            *[
                F.col(c).asc_nulls_last()
                for c in ("resource_type", "database", "schema", "name", "unique_id")
            ]
        )
    )


def manifest_columns(spark: SparkSession, manifest_path: str) -> DataFrame:
    """parse_columns flattened across nodes+sources (explore.R:66-96):
    one row per (node, column); nodes with no columns contribute none."""
    uni = manifest_nodes(spark, manifest_path).unionByName(
        manifest_sources(spark, manifest_path)
    )
    return uni.select(
        "unique_id",
        "manifest_group",
        F.explode("columns").alias("column"),
    ).select(
        "unique_id",
        "manifest_group",
        F.col("column.name").alias("column_name"),
        F.col("column.description").alias("description"),
        F.col("column.data_type").alias("data_type"),
        F.col("column.tags").alias("tags"),
    )


def manifest_edges(spark: SparkSession, manifest_path: str) -> DataFrame:
    """parse_depends_on flattened (explore.R:98-128): one row per
    dependency edge; empty depends_on contributes no rows."""
    uni = manifest_nodes(spark, manifest_path).unionByName(
        manifest_macros(spark, manifest_path)
    )
    return uni.select(
        F.col("unique_id").alias("child_unique_id"),
        F.explode("depends_on").alias("dep"),
    ).select(
        "child_unique_id",
        F.col("dep.type").alias("dep_type"),
        F.col("dep.unique_id").alias("parent_unique_id"),
    )


def manifest_graph(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The dependency DAG of a manifest in one decode: one row per node,
    source and macro → (artifact_path, unique_id, manifest_group,
    parents), where ``parents`` is depends_on.nodes.  Sources carry no
    parents; macros carry their node parents but are not DAG nodes, so
    callers filter them out of the node set.  One ``from_json`` over
    GRAPH_MANIFEST_SCHEMA, where manifest_nodes + manifest_sources +
    manifest_edges would decode the full schema three times."""
    doc = read_artifact(spark, manifest_path, GRAPH_MANIFEST_SCHEMA)
    no_parents = F.array().cast("array<string>")

    def entries(group: str) -> Column:
        def entry(n: Column) -> Column:
            parents = (
                no_parents
                if group == "sources"
                else F.coalesce(n["depends_on"]["nodes"], no_parents)
            )
            return F.struct(
                n["unique_id"].alias("unique_id"),
                F.lit(group).alias("manifest_group"),
                parents.alias("parents"),
            )

        return F.transform(F.coalesce(F.map_values(F.col(f"doc.{group}")), F.array()), entry)

    return doc.select(
        "artifact_path",
        F.inline(F.concat(*[entries(g) for g in ("nodes", "sources", "macros")])),
    )


def catalog_objects(spark: SparkSession, catalog_path: str) -> DataFrame:
    """read_catalog_objects over nodes+sources (explore.R:8-60)."""
    doc = read_artifact(spark, catalog_path, CATALOG_SCHEMA)
    parts = []
    for group in ("nodes", "sources"):
        parts.append(
            doc.select(
                "artifact_path",
                F.lit(group).alias("manifest_group"),
                F.explode(F.col(f"doc.{group}")).alias("map_uid", "node"),
            ).select(
                "artifact_path",
                F.col("node.unique_id").alias("unique_id"),
                "manifest_group",
                F.col("node.metadata.type").alias("materialized_as"),
                F.col("node.metadata.database").alias("database"),
                F.col("node.metadata.schema").alias("schema"),
                F.col("node.metadata.name").alias("name"),
                F.map_values(F.col("node.columns")).alias("columns"),
            )
        )
    return parts[0].unionByName(parts[1])


def catalog_columns(spark: SparkSession, catalog_path: str) -> DataFrame:
    """Catalog per-column table with ordinal_position (explore.R:17-29)."""
    return (
        catalog_objects(spark, catalog_path)
        .select("unique_id", "manifest_group", F.explode("columns").alias("column"))
        .select(
            "unique_id",
            "manifest_group",
            F.col("column.name").alias("column_name"),
            F.col("column.index").alias("ordinal_position"),
            F.col("column.type").alias("data_type"),
        )
    )


def run_results(spark: SparkSession, path: str) -> DataFrame:
    """run_results.json → one row per executed node (explore.R:252-256)."""
    doc = read_artifact(spark, path, RUN_RESULTS_SCHEMA)
    return doc.select(
        "artifact_path", F.explode("doc.results").alias("r")
    ).select(
        "artifact_path",
        F.col("r.unique_id").alias("unique_id"),
        F.col("r.status").alias("status"),
        F.col("r.thread_id").alias("thread_id"),
        F.col("r.execution_time").alias("execution_time"),
        F.col("r.adapter_response.rows_affected").alias("rows_affected"),
        F.col("r.message").alias("message"),
    )


def source_freshness(spark: SparkSession, path: str) -> DataFrame:
    """sources.json → per-source freshness table (explore.R:245-250)."""
    doc = read_artifact(spark, path, SOURCES_SCHEMA)
    return doc.select("artifact_path", F.explode("doc.results").alias("r")).select(
        "artifact_path",
        F.col("r.unique_id").alias("unique_id"),
        F.col("r.status").alias("status"),
        F.to_timestamp(F.col("r.max_loaded_at")).alias("max_loaded_at"),
        F.to_timestamp(F.col("r.snapshotted_at")).alias("snapshotted_at"),
        F.col("r.max_loaded_at_time_ago_in_s").alias("loaded_at_lag_s"),
        F.col("r.criteria.warn_after.count").alias("warn_after_count"),
        F.col("r.criteria.warn_after.period").alias("warn_after_period"),
        F.col("r.criteria.error_after.count").alias("error_after_count"),
        F.col("r.criteria.error_after.period").alias("error_after_period"),
    )
