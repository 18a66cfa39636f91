"""Partition-pruned parquet writer (SURVEY.md §2 E).

``write_partitioned`` lays rows out in hive-style ``col=value``
directories, so a downstream filter on the partition column prunes
whole directories before any I/O; ``max_records_per_file`` bounds the
file size.
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
