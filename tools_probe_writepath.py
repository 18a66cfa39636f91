"""Scale probe for the NATIVE WRITE PATH (r8 session 2).

Drives the full write-path lifecycle over the soak lineitem (sf1 ≈ 6M
rows / sf10 ≈ 60M rows) and prints ONE JSON line of wall times + file
counts + zero-loss row checks:

  write    — write_delta of a 1/11 slice, returnflag-partitioned,
             maxRecordsPerFile-bounded (distributed staging write +
             O(#files) footer stats + commit authoring)
  delete   — DV delete of a scattered ~4% predicate (stats pruning on
             the write side, executor-encoded roaring bitmaps)
  optimize — clustering rewrite (sort_by l_orderkey) applying the DVs
             physically
  probe    — a selective range predicate read pruned vs unpruned over
             the CLUSTERED table (the zone-map payoff, measured)
  merge    — MERGE upsert (copy-on-write: ~1% key updates + fresh
             inserts; touched-file semi-join, never a table rewrite)
  checkpoint — classic checkpoint parquet write + a snapshot read
             seeded FROM it (log replay skipped)
  vacuum   — dry-run orphan count after the rewrite
  iceberg_bucket — write_iceberg bucket(16, l_orderkey) of the same
             fragment (executor-side murmur3 Column expressions, r9)
             and a point probe that must open exactly one bucket

Every step re-validates rows against the source DataFrame — a fast
probe that silently lost rows would be worse than no probe.

Usage: python tools_probe_writepath.py [src_dir] [dest_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from dbt_json_readr_spark.session import get_spark  # noqa: E402
from dbt_json_readr_spark.sources import deltawriter as DW  # noqa: E402
from dbt_json_readr_spark.sources import lakeformats as LF  # noqa: E402

SRC = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
DEST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_delta_write"
MAX_ROWS_PER_FILE = 1_000_000


def main() -> None:
    spark = get_spark("probe_writepath")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"metric": "writepath_probe", "src": SRC}
    shutil.rmtree(DEST, ignore_errors=True)

    src = spark.read.parquet(os.path.join(SRC, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag",
    )
    frag = src.filter(F.col("l_orderkey") % 11 == 0)
    exp_rows = frag.count()
    out["rows_written_expected"] = exp_rows

    t0 = time.monotonic()
    aud = DW.write_delta(
        spark,
        frag,
        DEST,
        partition_by=["l_returnflag"],
        max_records_per_file=MAX_ROWS_PER_FILE,
    )
    out["write_s"] = round(time.monotonic() - t0, 3)
    out["files_written"] = aud["files_added"]
    assert aud["rows_written"] == exp_rows, (aud, exp_rows)

    # scattered ~4% delete: hits every file, so the DV path (scan +
    # executor bitmap encode + one DV file) is measured at full width
    t0 = time.monotonic()
    daud = DW.delete_delta(spark, DEST, [("l_quantity", "<", 3.0)])
    out["delete_s"] = round(time.monotonic() - t0, 3)
    out["rows_deleted"] = daud["rows_deleted"]
    out["files_dv"] = daud["files_rewritten_dv"]
    surv = frag.filter(~(F.col("l_quantity") < 3.0))
    exp_surv = surv.count()
    got = LF.read_delta_snapshot(spark, DEST).count()
    assert got == exp_surv, (got, exp_surv)
    out["rows_after_delete"] = got

    t0 = time.monotonic()
    oaud = DW.optimize_delta(
        spark, DEST, sort_by=["l_orderkey"],
        max_records_per_file=MAX_ROWS_PER_FILE,
    )
    out["optimize_s"] = round(time.monotonic() - t0, 3)
    out["files_after_optimize"] = oaud["files_after"]
    got2 = LF.read_delta_snapshot(spark, DEST).count()
    assert got2 == exp_surv, (got2, exp_surv)

    # the payoff: a selective range probe over the clustered table
    hi = frag.agg(F.max("l_orderkey")).collect()[0][0]
    probe = [("l_orderkey", "<", int(hi * 0.02))]
    snap = LF.delta_snapshot(DEST)
    kept, skipped = LF.prune_delta_files(snap, probe)
    out["probe_files_total"] = len(snap["files"])
    out["probe_files_kept"] = len(kept)
    for name, pred in (("pruned", probe), ("unpruned", None)):
        t0 = time.monotonic()
        df = LF.read_delta_snapshot(spark, DEST, predicate=pred)
        if pred is None:
            from dbt_json_readr_spark.sources import skipping

            df = df.filter(skipping.predicate_column(probe))
        n = df.count()
        out[f"probe_{name}_s"] = round(time.monotonic() - t0, 3)
        out[f"probe_{name}_rows"] = n
    assert out["probe_pruned_rows"] == out["probe_unpruned_rows"]
    exp_probe = surv.filter(F.col("l_orderkey") < int(hi * 0.02)).count()
    assert out["probe_pruned_rows"] == exp_probe

    vaud = DW.vacuum_delta(
        DEST, retention_ms=0, now_ms=10**15, dry_run=True
    )
    out["vacuum_orphans"] = vaud["files_deleted"]

    # Iceberg bucket-transform write (r9): the murmur3 Column
    # expressions at full fragment width, then a point probe that must
    # open exactly one bucket's files
    from dbt_json_readr_spark.sources import icebergwriter as IW
    from dbt_json_readr_spark.sources import skipping as SK

    ice = DEST + "_ice"
    shutil.rmtree(ice, ignore_errors=True)
    t0 = time.monotonic()
    iaud = IW.write_iceberg(
        spark, frag, ice,
        partition_by=["bucket(16, l_orderkey)"],
        max_records_per_file=MAX_ROWS_PER_FILE,
    )
    out["iceberg_bucket_write_s"] = round(time.monotonic() - t0, 3)
    out["iceberg_bucket_files"] = iaud["files_added"]
    assert iaud["rows_written"] == exp_rows, (iaud, exp_rows)
    from pathlib import Path as _P

    imeta = str(
        max(
            _P(ice, "metadata").glob("v*.metadata.json"),
            key=lambda q: int(q.name.split(".")[0][1:]),
        )
    )
    probe_key = int(hi * 0.5) // 11 * 11  # an existing orderkey
    want_bucket = (SK.iceberg_bucket_hash("long", probe_key) & 0x7FFFFFFF) % 16
    t0 = time.monotonic()
    ipr = LF.read_iceberg_snapshot(
        spark, imeta, predicate=[("l_orderkey", "=", probe_key)]
    )
    n_probe = ipr.count()
    out["iceberg_point_probe_s"] = round(time.monotonic() - t0, 3)
    out["iceberg_probe_files_opened"] = len(ipr.inputFiles())
    out["iceberg_probe_rows"] = n_probe
    assert n_probe == frag.filter(F.col("l_orderkey") == probe_key).count()
    assert all(
        f"l_orderkey_bucket={want_bucket}" in f for f in ipr.inputFiles()
    )

    # Z-ORDER (r8 s3): rewrite the same table clustered on TWO
    # dimensions with a bounded file size, then measure pruning on
    # EACH — the single-key sort above answers only l_orderkey probes;
    # the interleave must answer l_partkey probes too
    t0 = time.monotonic()
    zaud = DW.optimize_delta(
        spark,
        DEST,
        zorder_by=["l_orderkey", "l_partkey"],
        max_records_per_file=max(exp_surv // 64, 1),
    )
    out["zorder_s"] = round(time.monotonic() - t0, 3)
    out["zorder_files_after"] = zaud["files_after"]
    got3 = LF.read_delta_snapshot(spark, DEST).count()
    assert got3 == exp_surv, (got3, exp_surv)
    snapz = LF.delta_snapshot(DEST)
    hi_p = frag.agg(F.max("l_partkey")).collect()[0][0]
    for dim, pred in (
        ("okey", [("l_orderkey", "<", int(hi * 0.05))]),
        ("pkey", [("l_partkey", "<", int(hi_p * 0.05))]),
    ):
        kept_z, _ = LF.prune_delta_files(snapz, pred)
        out[f"zorder_files_kept_{dim}"] = len(kept_z)
        t0 = time.monotonic()
        n = LF.read_delta_snapshot(spark, DEST, predicate=pred).count()
        out[f"zorder_probe_{dim}_s"] = round(time.monotonic() - t0, 3)
        col, _, v = pred[0]
        exp_n = surv.filter(F.col(col) < v).count()
        assert n == exp_n, (dim, n, exp_n)
    out["zorder_files_total"] = len(snapz["files"])

    # MERGE upsert (r9, VERDICT r8 item 5): ~1% of keys update (price
    # bumped) + a block of fresh keys inserts; zero-loss checks on both
    upd = (
        surv.filter(F.col("l_orderkey") % 97 == 0)
        .groupBy("l_orderkey", "l_partkey")
        .agg(
            F.first("l_quantity").alias("l_quantity"),
            (F.first("l_extendedprice") + F.lit(1.0)).alias("l_extendedprice"),
            F.first("l_returnflag").alias("l_returnflag"),
        )
    )
    hi_key = int(frag.agg(F.max("l_orderkey")).collect()[0][0])
    ins = upd.limit(10000).select(
        (F.col("l_orderkey") + F.lit(hi_key + 1000)).alias("l_orderkey"),
        "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag",
    )
    src_merge = upd.unionByName(ins)
    n_upd = upd.count()
    n_ins = ins.count()
    t0 = time.monotonic()
    maud = DW.merge_delta(
        spark, DEST, src_merge, on=["l_orderkey", "l_partkey"]
    )
    out["merge_s"] = round(time.monotonic() - t0, 3)
    out["merge_files_rewritten"] = maud["files_rewritten"]
    out["merge_updates"] = n_upd
    out["merge_inserts"] = n_ins
    got4 = LF.read_delta_snapshot(spark, DEST).count()
    assert got4 == exp_surv + n_ins, (got4, exp_surv, n_ins)

    # classic checkpoint + a read seeded from it (no JSON replay)
    t0 = time.monotonic()
    ck = DW.write_delta_checkpoint(DEST)
    out["checkpoint_s"] = round(time.monotonic() - t0, 3)
    out["checkpoint_version"] = ck.get("version")
    t0 = time.monotonic()
    got5 = LF.read_delta_snapshot(spark, DEST).count()
    out["read_from_checkpoint_s"] = round(time.monotonic() - t0, 3)
    assert got5 == got4, (got5, got4)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
