"""Driver-walk scale probe for the Iceberg avro manifest walk: a
synthetic Iceberg table with THOUSANDS of manifests in one snapshot's
manifest list — the shape a 100 TB table's append history actually
produces — measured three ways:

  author   — manifests/s + entries/s for WRITING the manifest avro
             through the pure-Python container writer
             (sources/avrocore.py; no JVM involved)
  full     — iceberg_snapshot_entries with NO predicate: the walk must
             open every manifest; wall seconds + entries/s is the
             worst-case driver cost per snapshot
  pruned   — the same walk with a point predicate: manifest-LIST
             partition summaries must keep the walk O(matching)
             (F11's property) — asserted, not assumed: matched
             manifests == 1 and the pruned walk returns exactly the
             one manifest's entries

Data files never exist — the probe stops at the metadata layer, which
is the layer whose driver cost scales with table HISTORY rather than
table size.  Usage:

  python tools_probe_manifestwalk.py [n_manifests] [entries_per]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_json_readr_spark.session import get_spark  # noqa: E402
from dbt_json_readr_spark.sources import icebergwriter as IW  # noqa: E402
from dbt_json_readr_spark.sources import lakeformats as LF  # noqa: E402


def main() -> None:
    n_manifests = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    entries_per = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("manifestwalk")
    spark.sparkContext.setLogLevel("ERROR")

    root = Path("/tmp/spark_graft_manifestwalk")
    shutil.rmtree(root, ignore_errors=True)
    tbl = root / "table"

    # a REAL base table (one commit, 4 partitions) supplies the
    # metadata.json / schema / spec shape; the synthetic manifests
    # splice into its snapshot's manifest list
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "id long, p int"
    )
    IW.write_iceberg(spark, df, str(tbl), partition_by=["p"])
    meta_dir = tbl / "metadata"
    meta_path = str(IW._metadata_versions(meta_dir)[-1])
    info = LF.iceberg_snapshot_info(meta_path)
    snap = info["snapshot"]
    mlist_path = Path(LF._resolve(snap["manifest-list"], str(tbl)))
    base_rows = list(LF._read_avro_records(str(mlist_path)))
    base_entries = sum(int(r["added_files_count"]) for r in base_rows)
    seq = int(snap["sequence-number"])
    snap_id = int(snap["snapshot-id"])

    man_schema = IW._manifest_schema([{"name": "p", "avro": "long"}])
    new_rows = []
    t0 = time.perf_counter()
    for v in range(10, 10 + n_manifests):
        entries = [
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": f"data/p={v}/f-{i:04d}.parquet",
                    "file_format": "PARQUET",
                    "record_count": 100,
                    "file_size_in_bytes": 1024,
                    "partition": {"p": v},
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": None,
                },
            }
            for i in range(entries_per)
        ]
        m_name = f"m-syn-{v:06d}.avro"
        LF.write_avro_records(
            str(meta_dir / m_name), man_schema, entries
        )
        new_rows.append(
            IW._normalize_mlist_row(
                IW._mlist_data_row(
                    m_name,
                    meta_dir,
                    seq,
                    snap_id,
                    entries_per,
                    entries_per * 100,
                    IW._encode_part_summaries(
                        [{"contains_null": False, "lo": v, "hi": v}], ["int"]
                    ),
                )
            )
        )
    author_s = time.perf_counter() - t0

    # splice: rewrite the snapshot's manifest list in place
    all_rows = [IW._normalize_mlist_row(r) for r in base_rows] + new_rows
    tmp = mlist_path.with_suffix(".tmp.avro")
    LF.write_avro_records(str(tmp), IW._MLIST_SCHEMA, all_rows)
    os.replace(tmp, mlist_path)

    # FULL walk: every manifest opens (cold — the per-path cache from
    # authoring/splicing must not flatter the number)
    LF._AVRO_CACHE.clear()
    t0 = time.perf_counter()
    full = LF.iceberg_snapshot_entries(meta_path)
    full_s = time.perf_counter() - t0
    n_full = len(full)
    assert n_full == base_entries + n_manifests * entries_per, (
        n_full,
        base_entries,
        n_manifests * entries_per,
    )

    # PRUNED walk: the manifest-list summaries must cut it to ONE
    target = 10 + n_manifests // 2
    LF._AVRO_CACHE.clear()
    t0 = time.perf_counter()
    pruned = LF.iceberg_snapshot_entries(
        meta_path, predicate=[("p", "=", target)]
    )
    pruned_s = time.perf_counter() - t0
    assert len(pruned) == entries_per, (len(pruned), entries_per)
    stats = LF.iceberg_manifest_prune_stats(
        meta_path, predicate=[("p", "=", target)]
    )
    assert stats["manifests_matched"] == 1, stats

    out = {
        "metric": "manifest_walk_probe",
        "n_manifests": n_manifests + len(base_rows),
        "entries_per_manifest": entries_per,
        "entries_total": n_full,
        "author_s": round(author_s, 3),
        "author_manifests_per_s": round(n_manifests / author_s, 1),
        "author_entries_per_s": round(n_manifests * entries_per / author_s, 1),
        "full_walk_s": round(full_s, 3),
        "full_walk_entries_per_s": round(n_full / full_s, 1),
        "pruned_walk_s": round(pruned_s, 3),
        "pruned_manifests_matched": stats["manifests_matched"],
        "pruned_over_full_speedup": round(full_s / max(pruned_s, 1e-9), 1),
    }

    # METADATA-TABLE shapes at the same scale (F43/F44): the
    # `manifests` table is one manifest-LIST read + per-row summary
    # decode (never opens a manifest), and the `partitions` table is
    # one aggregation pass over the full entry walk — both must stay
    # O(metadata) with measured anchors, not assumptions.
    from dbt_json_readr_spark.sources import skipping as SK

    LF._AVRO_CACHE.clear()
    t0 = time.perf_counter()
    mrows = LF._read_avro_records(str(mlist_path))
    decoded = 0
    for m in mrows:
        parts = m.get("partitions")
        if parts:
            p0 = parts[0]
            if p0.get("lower_bound") is not None:
                SK.decode_iceberg_bound("int", p0["lower_bound"])
                decoded += 1
    manifests_table_s = time.perf_counter() - t0
    assert len(mrows) == n_manifests + len(base_rows)
    assert decoded >= n_manifests

    t0 = time.perf_counter()
    agg: dict = {}
    for e in full:
        if e["status"] == 2 or e["content"] != 0:
            continue
        k = e["partition"].get("p")
        cur = agg.setdefault(k, [0, 0])
        cur[0] += int(e["record_count"])
        cur[1] += 1
    partitions_table_s = time.perf_counter() - t0
    assert len(agg) >= n_manifests

    out["manifests_table_s"] = round(manifests_table_s, 3)
    out["manifests_table_rows"] = len(mrows)
    out["partitions_table_s"] = round(partitions_table_s, 3)
    out["partitions_table_rows"] = len(agg)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
