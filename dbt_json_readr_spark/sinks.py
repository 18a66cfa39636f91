"""Writers (SURVEY.md §2 E): partition-pruned parquet and bucketed
tables — the two layouts that make downstream reads cheap at 100 TB.

- ``write_partitioned``: hive-style ``col=value`` directories; a
  downstream filter on the partition column prunes whole directories
  before any I/O.  ``coalesce_per_partition`` bounds the small-file
  count (the classic many-executors × many-partitions file explosion).
- ``write_bucketed``: pre-shuffles rows into N stable buckets by key at
  write time; a later join/agg on that key skips its exchange entirely
  (verified by plan assertion in tests/test_sinks.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> None:
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed catalog table.  Reads of `table` that join
    or aggregate on `bucket_cols` are exchange-free when both sides
    share the bucketing (Spark requires saveAsTable: bucket metadata
    lives in the catalog, not the files)."""
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 8,
    mode: str = "overwrite",
) -> None:
    """Materialize the training-shard layout (plans/llm.py
    corpus_shard_plan): docs land in ``shard=K`` directories, rows
    inside each file sorted by the deterministic shuffle hash — so a
    trainer streams shard files sequentially and gets the reproducible
    global shuffle order with zero read-time work.  One shuffle
    (repartition on shard) then sortWithinPartitions; no global sort."""
    from pyspark.sql import functions as F

    from .functions.hashing import hash64

    h = hash64(F.col("doc_id").cast("string"), "shuffle")
    sharded = (
        docs.withColumn("_h", h)
        .withColumn("shard", (F.col("_h") % n_shards).cast("int"))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_h", "doc_id")
    )
    sharded.drop("_h").write.mode(mode).partitionBy("shard").parquet(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-partition + sort-within-partition layout — the remedy the
    zone-map audit (plans/tpch.py zone_map_skipping_audit) motivates:
    when file min/max statistics on the predicate column overlap
    everywhere, a range-sorted rewrite makes them DISJOINT, so engines
    skip whole files from footer stats alone.  repartitionByRange
    samples the column to build balanced range bounds (one shuffle);
    the within-file sort keeps row-group stats tight too.  The
    disjointness property is verified in tests/test_sources_sinks.py."""
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )
