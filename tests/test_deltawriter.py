"""Native Delta write path (sources/deltawriter.py): append /
overwrite / replaceWhere commits, footer-derived stats, DV-backed
DELETE, copy-on-write MERGE, OPTIMIZE compaction, checkpoint
authoring, txn idempotence, and the concurrent-commit CAS.

Every assertion reads the written table back through the INDEPENDENT
read bridge (lakeformats) or recomputes expectations straight from the
source DataFrame — the writer never grades its own homework.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_json_readr_spark.sources import deltawriter as DW
from dbt_json_readr_spark.sources import lakeformats as LF
from dbt_json_readr_spark.sources import roaring

SF = "/root/testdata/sf0.001"


def _protocol_has_dv(table_path: str) -> bool:
    """Whether the newest protocol action lists the deletionVectors
    reader feature."""
    log = LF._delta_log_dir(table_path)
    json_versions, _ck, _latest = LF._log_versions(log)
    for v in reversed(json_versions):
        with open(log / f"{v:020d}.json") as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "protocol" in a:
                    feats = a["protocol"].get("readerFeatures") or []
                    return "deletionVectors" in feats
    return False


def _dec_sum(df, col):
    return df.agg(F.sum(F.col(col).cast("decimal(28,2)"))).collect()[0][0]


@pytest.fixture()
def customers(spark):
    return spark.read.parquet(f"{SF}/customer.parquet")


def test_append_time_travel_and_stats(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    a = customers.filter(F.col("c_custkey") % 3 == 0)
    b = customers.filter(F.col("c_custkey") % 3 == 1)
    r0 = DW.write_delta(spark, a, tbl, partition_by=["c_mktsegment"])
    r1 = DW.write_delta(spark, b, tbl, partition_by=["c_mktsegment"])
    assert (r0["version"], r1["version"]) == (0, 1)
    assert r0["rows_written"] == a.count()

    latest = LF.read_delta_snapshot(spark, tbl)
    assert latest.count() == a.count() + b.count()
    assert _dec_sum(latest, "c_acctbal") == _dec_sum(a.unionByName(b), "c_acctbal")
    v0 = LF.read_delta_snapshot(spark, tbl, version=0)
    assert v0.count() == a.count()
    assert set(latest.columns) == set(customers.columns)

    # one file per partition value per commit (colocate layout)
    snap = LF.delta_snapshot(tbl)
    n_segs_a = a.select("c_mktsegment").distinct().count()
    n_segs_b = b.select("c_mktsegment").distinct().count()
    assert len(snap["files"]) == n_segs_a + n_segs_b

    # stats are real: the recorded min/max equal the per-file truth
    import pyarrow.parquet as pq

    for f in snap["files"]:
        st = json.loads(f["stats"])
        t = pq.read_table(f"{tbl}/{f['path']}", columns=["c_custkey"])
        keys = t.column("c_custkey").to_pylist()
        assert st["minValues"]["c_custkey"] == min(keys)
        assert st["maxValues"]["c_custkey"] == max(keys)
        assert st["numRecords"] == len(keys)
        assert st["nullCount"]["c_custkey"] == 0


def test_written_stats_drive_file_skipping(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    snap = LF.delta_snapshot(tbl)
    # partition predicate prunes to exactly one file
    kept, skipped = LF.prune_delta_files(
        snap, [("c_mktsegment", "=", "BUILDING")]
    )
    assert len(kept) == 1 and skipped == len(snap["files"]) - 1
    got = LF.read_delta_snapshot(
        spark, tbl, predicate=[("c_mktsegment", "=", "BUILDING")]
    )
    exp = customers.filter(F.col("c_mktsegment") == "BUILDING")
    assert got.count() == exp.count()
    # stats predicate out of range prunes everything
    kept2, _ = LF.prune_delta_files(snap, [("c_acctbal", ">", 1e12)])
    assert kept2 == []


def test_overwrite_and_replace_where(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    # full overwrite with a subset
    sub = customers.filter(F.col("c_custkey") % 2 == 0)
    DW.write_delta(
        spark, sub, tbl, mode="overwrite", partition_by=["c_mktsegment"]
    )
    assert LF.read_delta_snapshot(spark, tbl).count() == sub.count()

    # replaceWhere one partition: only that partition's rows change
    repl = customers.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 5 == 0)
    )
    DW.write_delta(
        spark,
        repl,
        tbl,
        mode="overwrite",
        partition_by=["c_mktsegment"],
        replace_where=[("c_mktsegment", "=", "BUILDING")],
    )
    after = LF.read_delta_snapshot(spark, tbl)
    exp_other = sub.filter(F.col("c_mktsegment") != "BUILDING")
    assert after.filter(F.col("c_mktsegment") != "BUILDING").count() == exp_other.count()
    assert after.filter(F.col("c_mktsegment") == "BUILDING").count() == repl.count()

    # incoming rows OUTSIDE the predicate refuse the overwrite
    with pytest.raises(LF.LakeFormatError, match="replace_where violation"):
        DW.write_delta(
            spark,
            customers.limit(10),
            tbl,
            mode="overwrite",
            partition_by=["c_mktsegment"],
            replace_where=[("c_mktsegment", "=", "NOSUCH")],
        )
    # non-partition replace_where gates
    with pytest.raises(LF.LakeFormatGatedError, match="non-partition"):
        DW.write_delta(
            spark,
            repl,
            tbl,
            mode="overwrite",
            partition_by=["c_mktsegment"],
            replace_where=[("c_acctbal", ">", 0.0)],
        )


def test_append_schema_and_partition_gates(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    with pytest.raises(LF.LakeFormatGatedError, match="schema"):
        DW.write_delta(
            spark,
            customers.withColumn("extra", F.lit(1)),
            tbl,
            partition_by=["c_mktsegment"],
        )
    with pytest.raises(LF.LakeFormatError, match="partition"):
        DW.write_delta(spark, customers, tbl, partition_by=[])
    with pytest.raises(LF.LakeFormatGatedError, match="partition column"):
        DW.write_delta(
            spark,
            customers.select("c_custkey", "c_acctbal"),
            str(tmp_path / "t2"),
            partition_by=["c_acctbal"],  # double: path form lossy
        )


def test_concurrent_commit_cas(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers.limit(10), tbl)
    actions = [DW._commit_info("WRITE", {})]
    DW._commit(tbl, 1, actions)
    with pytest.raises(DW.DeltaConcurrentCommitError):
        DW._commit(tbl, 1, actions)


def test_created_table_overwrites_with_its_own_rows(spark, tmp_path):
    """A table created from a frame with a NOT NULL column stores it
    nullable, as Delta's own DataFrame writers do, so overwriting the
    table with its read-back rows needs no schema evolution."""
    from pyspark.sql import types as TT

    tbl = str(tmp_path / "t")
    schema = TT.StructType(
        [
            TT.StructField("user_id", TT.LongType(), True),
            TT.StructField("count", TT.LongType(), False),
        ]
    )
    DW.write_delta(spark, spark.createDataFrame([(1, 2), (3, 4)], schema), tbl)
    assert LF.delta_snapshot(tbl)["schema"]["count"].nullable
    back = LF.read_delta_snapshot(spark, tbl)
    res = DW.write_delta(
        spark, back.withColumn("count", F.col("count") + 1), tbl, mode="overwrite"
    )
    assert res["version"] == 1
    got = LF.read_delta_snapshot(spark, tbl).collect()
    assert sorted((r.user_id, r["count"]) for r in got) == [(1, 3), (3, 5)]


def test_null_partition_round_trip(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, p string"
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.filter(F.col("p").isNull()).count() == 2
    assert {r["id"] for r in back.filter(F.col("p").isNull()).collect()} == {2, 4}
    snap = LF.delta_snapshot(tbl)
    assert any(
        f["partitionValues"]["p"] is None for f in snap["files"]
    )


def test_unsafe_partition_value_gates(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a/b")], "id long, p string")
    with pytest.raises(LF.LakeFormatGatedError, match="path escaping"):
        DW.write_delta(spark, df, tbl, partition_by=["p"])


def test_delete_with_dvs(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    aud = DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])
    exp = customers.filter(~(F.col("c_acctbal") < 0.0))
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == exp.count()
    assert _dec_sum(back, "c_acctbal") == _dec_sum(exp, "c_acctbal")
    assert aud["rows_deleted"] == customers.count() - exp.count()
    # files carry DV descriptors; the data files were NOT rewritten
    snap = LF.delta_snapshot(tbl)
    assert any(f.get("deletionVector") for f in snap["files"])
    # the protocol upgraded to table features with deletionVectors
    assert _protocol_has_dv(tbl)

    # second delete on an already-DV'd file merges positions
    aud2 = DW.delete_delta(spark, tbl, [("c_acctbal", "<", 100.0)])
    exp2 = customers.filter(~(F.col("c_acctbal") < 100.0))
    back2 = LF.read_delta_snapshot(spark, tbl)
    assert back2.count() == exp2.count()
    assert _dec_sum(back2, "c_acctbal") == _dec_sum(exp2, "c_acctbal")
    assert aud2["rows_deleted"] == exp.count() - exp2.count()


def test_delete_prunes_scan_and_noop(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    n_files = len(LF.delta_snapshot(tbl)["files"])
    # partition-targeted delete scans only that partition's file
    aud = DW.delete_delta(
        spark,
        tbl,
        [("c_mktsegment", "=", "BUILDING"), ("c_acctbal", "<", 0.0)],
    )
    assert aud["files_total"] == n_files
    assert aud["files_scanned"] == 1
    # no-match delete commits nothing
    v_before = LF.delta_snapshot(tbl)["version"]
    aud2 = DW.delete_delta(spark, tbl, [("c_acctbal", ">", 1e12)])
    assert aud2["version"] is None and aud2["files_scanned"] == 0
    assert LF.delta_snapshot(tbl)["version"] == v_before


def test_delete_full_file_becomes_remove(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "kill" if i < 50 else "keep") for i in range(100)],
        "id long, p string",
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    aud = DW.delete_delta(spark, tbl, [("p", "=", "kill")])
    assert aud["files_removed"] == 1 and aud["files_rewritten_dv"] == 0
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == 50
    assert back.filter(F.col("p") == "kill").count() == 0


def test_delete_inline_vs_file_backed_dv(spark, tmp_path):
    tbl = str(tmp_path / "t")
    # 20k rows, delete a sparse scattered set → blob > 64 bytes → 'u';
    # then a tiny contiguous set in another partition → inline 'i'
    rows = [(i, "big" if i < 20000 else "small") for i in range(20050)]
    df = spark.createDataFrame(rows, "id long, p string")
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    DW.delete_delta(
        spark, tbl, [("p", "=", "big"), ("id", "in", list(range(0, 20000, 7)))]
    )
    DW.delete_delta(spark, tbl, [("p", "=", "small"), ("id", "=", 20001)])
    snap = LF.delta_snapshot(tbl)
    kinds = {
        f["deletionVector"]["storageType"]
        for f in snap["files"]
        if f.get("deletionVector")
    }
    assert kinds == {"u", "i"}
    back = LF.read_delta_snapshot(spark, tbl)
    exp = 20050 - len(range(0, 20000, 7)) - 1
    assert back.count() == exp
    # the DV file on disk round-trips through the spec reader
    dv_files = list(Path(tbl).glob("deletion_vector_*.bin"))
    assert len(dv_files) == 1
    udesc = next(
        f["deletionVector"]
        for f in snap["files"]
        if f.get("deletionVector", {}).get("storageType") == "u"
    )
    positions = roaring.read_dv_from_file(
        str(dv_files[0]), udesc["offset"], udesc["sizeInBytes"]
    )
    assert len(positions) == udesc["cardinality"]


def test_merge_upsert(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    base = customers.filter(F.col("c_custkey") % 3 != 2)
    DW.write_delta(spark, base, tbl, partition_by=["c_mktsegment"])
    updates = base.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    inserts = customers.filter(F.col("c_custkey") % 3 == 2).limit(20)
    src = updates.unionByName(inserts)
    aud = DW.merge_delta(spark, tbl, src, on=["c_custkey"])
    assert aud["version"] == 1

    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == base.count() + inserts.count()
    upd_keys = [r["c_custkey"] for r in updates.select("c_custkey").collect()]
    got = {
        r["c_custkey"]: r["c_acctbal"]
        for r in back.filter(F.col("c_custkey").isin(upd_keys)).collect()
    }
    exp = {
        r["c_custkey"]: r["c_acctbal"]
        for r in updates.collect()
    }
    assert got == exp

    # untouched files are physically untouched: only files holding a
    # matched key were rewritten
    assert aud["files_rewritten"] <= len(
        LF.delta_snapshot(tbl, version=0)["files"]
    )


def test_merge_null_update_and_dup_gate(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0)], "id long, p string, v double"
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    # NULL in the source update must WIN (no coalesce resurrection)
    src = spark.createDataFrame(
        [(1, "x", None)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("p", T.StringType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    DW.merge_delta(spark, tbl, src, on=["id"])
    back = {r["id"]: r["v"] for r in LF.read_delta_snapshot(spark, tbl).collect()}
    assert back[1] is None and back[2] == 20.0

    dup = spark.createDataFrame(
        [(1, "x", 1.0), (1, "x", 2.0)], "id long, p string, v double"
    )
    with pytest.raises(LF.LakeFormatError, match="duplicate"):
        DW.merge_delta(spark, tbl, dup, on=["id"])


def test_optimize_compacts_and_applies_dvs(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(
        spark,
        customers,
        tbl,
        partition_by=["c_mktsegment"],
        max_records_per_file=10,
    )
    snap = LF.delta_snapshot(tbl)
    n_segs = customers.select("c_mktsegment").distinct().count()
    assert len(snap["files"]) > n_segs  # genuinely fragmented
    DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])

    aud = DW.optimize_delta(spark, tbl)
    assert aud["files_after"] == n_segs
    snap2 = LF.delta_snapshot(tbl)
    assert len(snap2["files"]) == n_segs
    assert not any(f.get("deletionVector") for f in snap2["files"])
    exp = customers.filter(~(F.col("c_acctbal") < 0.0))
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == exp.count()
    assert _dec_sum(back, "c_acctbal") == _dec_sum(exp, "c_acctbal")

    # idempotent: a second OPTIMIZE finds nothing to do
    aud2 = DW.optimize_delta(spark, tbl)
    assert aud2["version"] is None and aud2["files_compacted"] == 0


def test_optimize_is_invisible_to_cdf(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(40)], "id long, p string"
    )
    DW.write_delta(
        spark,
        df,
        tbl,
        partition_by=["p"],
        max_records_per_file=5,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    DW.optimize_delta(spark, tbl)
    changes = LF.read_delta_changes(spark, tbl, 0, LF.delta_snapshot(tbl)["version"])
    # only the initial inserts appear; the compaction commit is
    # dataChange=false and contributes NO change rows
    assert changes.filter(F.col("_change_type") != "insert").count() == 0
    assert changes.count() == 40


def test_txn_idempotence_and_checkpoint(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    batch = customers.limit(30)
    DW.write_delta(spark, batch, tbl, txn=("app-1", 0))
    assert DW.last_txn_version(tbl, "app-1") == 0
    assert DW.last_txn_version(tbl, "ghost") is None
    DW.write_delta(spark, batch, tbl, txn=("app-1", 1))
    assert DW.last_txn_version(tbl, "app-1") == 1

    ck = DW.write_delta_checkpoint(tbl)
    assert ck["version"] == 1
    # drop the pre-checkpoint JSON commits: reads AND txn lookups must
    # survive on the checkpoint alone
    tbl2 = str(tmp_path / "t_ck")
    shutil.copytree(tbl, tbl2)
    for p in Path(tbl2, "_delta_log").glob("*.json"):
        p.unlink()
    back = LF.read_delta_snapshot(spark, tbl2)
    assert back.count() == 2 * batch.count()
    assert DW.last_txn_version(tbl2, "app-1") == 1

    # checkpointed stats still drive skipping
    snap = LF.delta_snapshot(tbl2)
    kept, _ = LF.prune_delta_files(snap, [("c_acctbal", ">", 1e12)])
    assert kept == []


def test_checkpoint_preserves_dvs(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])
    DW.write_delta_checkpoint(tbl)
    tbl2 = str(tmp_path / "t_ck")
    shutil.copytree(tbl, tbl2)
    for p in Path(tbl2, "_delta_log").glob("*.json"):
        p.unlink()
    exp = customers.filter(~(F.col("c_acctbal") < 0.0))
    back = LF.read_delta_snapshot(spark, tbl2)
    assert back.count() == exp.count()
    assert _dec_sum(back, "c_acctbal") == _dec_sum(exp, "c_acctbal")


def test_checkpoint_after_cleanup_keeps_protocol_and_id(
    spark, tmp_path, customers
):
    """A SECOND checkpoint written when the DV protocol upgrade lives
    only in the first checkpoint (its JSON commit vacuumed) must keep
    protocol 3/7 and the ORIGINAL table id — an external reader seeing
    1/2 would ignore the DV descriptors and resurrect deleted rows
    (r8 review finding)."""
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers, tbl, partition_by=["c_mktsegment"])
    orig_id = LF.delta_snapshot(tbl)["meta_id"]
    DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])
    DW.write_delta_checkpoint(tbl)
    # vacuum the pre-checkpoint JSON commits, then append + re-checkpoint
    for p in Path(tbl, "_delta_log").glob("*.json"):
        p.unlink()
    DW.write_delta(
        spark, customers.limit(7), tbl, partition_by=["c_mktsegment"]
    )
    DW.write_delta_checkpoint(tbl)
    ck = max(
        Path(tbl, "_delta_log").glob("*.checkpoint.parquet"),
        key=lambda p: int(p.name.split(".")[0]),
    )
    rows = pq.read_table(str(ck)).to_pylist()
    proto = next(r["protocol"] for r in rows if r["protocol"])
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    meta = next(r["metaData"] for r in rows if r["metaData"])
    assert meta["id"] == orig_id
    # adds carry real sizes, not zeros
    adds = [r["add"] for r in rows if r["add"]]
    assert all(a["size"] > 0 for a in adds)


def test_dv_and_merge_on_space_bearing_partitions(spark, tmp_path):
    """Partition values with spaces render percent-encoded in
    ``_metadata.file_path`` — every python-side path that joins a
    ``__fp`` column must encode the same way (lakeformats._uri_path)
    or DV deletes silently miss / MERGE crashes on a missing key
    (r8: found by MERGE over o_orderpriority='4-NOT SPECIFIED')."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "HAS SPACE" if i % 2 else "plain") for i in range(40)],
        "id long, p string",
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    DW.delete_delta(spark, tbl, [("p", "=", "HAS SPACE"), ("id", "<", 10)])
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == 40 - len([i for i in range(10) if i % 2])
    assert back.filter((F.col("p") == "HAS SPACE") & (F.col("id") < 10)).count() == 0
    src = spark.createDataFrame([(11, "HAS SPACE"), (100, "plain")], "id long, p string")
    DW.merge_delta(spark, tbl, src, on=["id"])
    assert LF.read_delta_snapshot(spark, tbl).filter(F.col("id") == 100).count() == 1


def test_timestamp_stats_are_usable_for_skipping(spark, tmp_path):
    """TimestampType (tz) columns must emit OFFSET-BEARING stat strings
    — the reader marks offset-less tz stats unusable by contract."""
    from dbt_json_readr_spark.sources.tables import load

    tbl = str(tmp_path / "t")
    orders = load(spark, SF, "orders").limit(500)
    DW.write_delta(spark, orders, tbl)
    snap = LF.delta_snapshot(tbl)
    st = json.loads(snap["files"][0]["stats"])
    assert "+00:00" in st["minValues"]["o_orderdate"]
    import datetime as dt

    lo = dt.datetime.fromisoformat(st["minValues"]["o_orderdate"])
    hi = dt.datetime.fromisoformat(st["maxValues"]["o_orderdate"])
    # a predicate window outside [lo, hi] prunes the file
    kept, _ = LF.prune_delta_files(
        snap, [("o_orderdate", ">", hi + dt.timedelta(days=1))]
    )
    assert kept == []
    kept2, _ = LF.prune_delta_files(
        snap, [("o_orderdate", ">=", lo)]
    )
    assert len(kept2) == len(snap["files"])


def test_cdc_write_delete_and_merge(spark, tmp_path):
    """With delta.enableChangeDataFeed, DELETE and MERGE write
    _change_data files; the CDF reader returns ROW-LEVEL changes
    (update_preimage/postimage pairs, per-row deletes) instead of
    gating on the DV rewrite or deriving whole-file churn."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(20)],
        "id long, p string, v double",
    )
    DW.write_delta(
        spark,
        df,
        tbl,
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # MERGE: update ids 0-4 (v += 100), insert ids 100-102
    src = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i) + 100.0) for i in range(5)]
        + [(i, "new", float(i)) for i in (100, 101, 102)],
        "id long, p string, v double",
    )
    DW.merge_delta(spark, tbl, src, on=["id"])
    # DELETE ids >= 100 — a DV delete on a CDF table
    DW.delete_delta(spark, tbl, [("id", ">=", 100)])

    ch = LF.read_delta_changes(spark, tbl, 1, 2)
    by = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by == {
        (1, "update_preimage"): 5,
        (1, "update_postimage"): 5,
        (1, "insert"): 3,
        (2, "delete"): 3,
    }
    # postimages carry the UPDATED values; preimages the originals
    post = {
        r["id"]: r["v"]
        for r in ch.filter(
            F.col("_change_type") == "update_postimage"
        ).collect()
    }
    assert post == {i: float(i) + 100.0 for i in range(5)}
    pre = {
        r["id"]: r["v"]
        for r in ch.filter(F.col("_change_type") == "update_preimage").collect()
    }
    assert pre == {i: float(i) for i in range(5)}
    # the delete rows are exactly the inserted-then-deleted ids
    dels = {
        r["id"] for r in ch.filter(F.col("_change_type") == "delete").collect()
    }
    assert dels == {100, 101, 102}
    # snapshot reads are unaffected by _change_data files
    assert LF.read_delta_snapshot(spark, tbl).count() == 20


def test_restore_delta(spark, tmp_path, customers):
    tbl = str(tmp_path / "t")
    a = customers.filter(F.col("c_custkey") % 2 == 0)
    b = customers.filter(F.col("c_custkey") % 2 == 1)
    DW.write_delta(spark, a, tbl, partition_by=["c_mktsegment"])   # v0
    DW.write_delta(spark, b, tbl, partition_by=["c_mktsegment"])   # v1
    DW.delete_delta(spark, tbl, [("c_acctbal", "<", 500.0)])       # v2
    aud = DW.restore_delta(tbl, 1)                          # v3
    assert aud["version"] == 3 and aud["restored_to"] == 1
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == customers.count()
    assert _dec_sum(back, "c_acctbal") == _dec_sum(customers, "c_acctbal")
    # the DV'd / removed files were re-added as their v1 entries
    snap = LF.delta_snapshot(tbl)
    assert not any(f.get("deletionVector") for f in snap["files"])
    # history preserved: v2 still readable
    v2 = LF.read_delta_snapshot(spark, tbl, version=2)
    exp2 = customers.filter(~(F.col("c_acctbal") < 500.0))
    assert v2.count() == exp2.count()
    # restore to v0 changes partition content back
    DW.restore_delta(tbl, 0)
    assert LF.read_delta_snapshot(spark, tbl).count() == a.count()


def test_optimize_sorted_rewrite_tightens_bounds(spark, tmp_path):
    """OPTIMIZE with sort_by rewrites every partition CLUSTERED: the
    written footer stats become disjoint per partition, so a range
    probe through the bridge's own skipping opens only the files that
    hold the range — closed form ceil(matching_rows / N)."""
    import math

    tbl = str(tmp_path / "t")
    # interleave ids across two partitions, deliberately unsorted
    rows = [((i * 7919) % 1000, "a" if i % 2 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, p string")
    DW.write_delta(spark, df, tbl, partition_by=["p"], max_records_per_file=100)
    snap0 = LF.delta_snapshot(tbl)
    kept0, _ = LF.prune_delta_files(snap0, [("id", "<", 100)])
    assert len(kept0) == len(snap0["files"])  # unsorted: nothing prunes

    aud = DW.optimize_delta(spark, tbl, sort_by=["id"], max_records_per_file=100)
    assert aud["files_compacted"] == len(snap0["files"])
    snap1 = LF.delta_snapshot(tbl)
    kept1, _ = LF.prune_delta_files(snap1, [("id", "<", 100)])
    per_part = {}
    for r in rows:
        if r[0] < 100:
            per_part[r[1]] = per_part.get(r[1], 0) + 1
    exp = sum(math.ceil(n / 100) for n in per_part.values())
    assert len(kept1) == exp
    # per-partition bounds are disjoint
    import json as _json

    by_part = {}
    for f in snap1["files"]:
        st = _json.loads(f["stats"])
        by_part.setdefault(f["partitionValues"]["p"], []).append(
            (st["minValues"]["id"], st["maxValues"]["id"])
        )
    for spans in by_part.values():
        spans.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2
    # the data is unchanged
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(r[0] for r in rows)


def test_vacuum_delta(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(30000)], "id long, p string"
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])                    # v0
    n_v0_files = len(LF.delta_snapshot(tbl)["files"])
    # scattered delete → file-backed ('u') deletion vector
    DW.delete_delta(spark, tbl, [("id", "in", list(range(0, 30000, 7)))])  # v1
    dv_bins = list(Path(tbl).glob("deletion_vector_*.bin"))
    assert dv_bins
    far = 10**15  # far-future "now"

    # live DV files survive vacuum even with zero retention
    aud0 = DW.vacuum_delta(tbl, retention_ms=0, now_ms=far)
    assert aud0["files_deleted"] == 0
    assert all(p.exists() for p in dv_bins)

    sub = df.filter(F.col("id") % 3 == 0)
    DW.write_delta(spark, sub, tbl, mode="overwrite", partition_by=["p"])  # v2
    # young files are retained
    aud1 = DW.vacuum_delta(tbl, retention_ms=10**15, now_ms=far)
    assert aud1["files_deleted"] == 0 and aud1["files_retained_young"] > 0
    # past the horizon: the v0 data files AND the orphaned DV file go
    aud2 = DW.vacuum_delta(tbl, retention_ms=0, now_ms=far)
    assert aud2["files_deleted"] == n_v0_files + len(dv_bins)
    assert not any(p.exists() for p in dv_bins)
    # latest unaffected; vacuumed history fails LOUDLY at read
    assert LF.read_delta_snapshot(spark, tbl).count() == sub.count()
    with pytest.raises(Exception):
        LF.read_delta_snapshot(spark, tbl, version=0).count()


def test_uncommitted_data_files_are_invisible_and_vacuumed(spark, tmp_path):
    """A writer that dies after staging data files but before its log
    commit leaves readers exactly at the old version, and vacuum
    removes exactly the files no commit references."""
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, spark.range(10).selectExpr("id", "id * 2 AS v"), tbl)
    # the crashed writer's data: files under the table root, never committed
    crashed = str(tmp_path / "crashed")
    spark.range(100, 200).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(crashed)
    [orphan] = Path(crashed).glob("part-*.parquet")
    shutil.move(str(orphan), Path(tbl) / "part-crashed.parquet")
    assert {r.id for r in LF.read_delta_snapshot(spark, tbl).collect()} == set(range(10))
    aud = DW.vacuum_delta(tbl, retention_ms=0, now_ms=10**15)
    assert aud["files_deleted"] == 1
    assert not (Path(tbl) / "part-crashed.parquet").exists()
    assert {r.id for r in LF.read_delta_snapshot(spark, tbl).collect()} == set(range(10))


def test_convert_to_delta_in_place(spark, tmp_path, customers):
    from pyspark.sql import types as TT

    from dbt_json_readr_spark import sinks

    raw = str(tmp_path / "raw")
    sinks.write_partitioned(customers, raw, ["c_mktsegment"])
    schema = customers.schema
    aud = DW.convert_to_delta(
        raw, schema, partition_by=["c_mktsegment"]
    )
    assert aud["version"] == 0 and aud["rows_cataloged"] == customers.count()
    back = LF.read_delta_snapshot(spark, raw)
    assert back.count() == customers.count()
    assert _dec_sum(back, "c_acctbal") == _dec_sum(customers, "c_acctbal")
    # converted files carry USABLE stats: an impossible probe prunes all
    snap = LF.delta_snapshot(raw)
    kept, _ = LF.prune_delta_files(snap, [("c_acctbal", ">", 1e12)])
    assert kept == []
    # the table is transactional now: an append lands as commit 1
    DW.write_delta(
        spark, customers.limit(5), raw, partition_by=["c_mktsegment"]
    )
    assert LF.read_delta_snapshot(spark, raw).count() == customers.count() + 5
    # double-convert refuses
    with pytest.raises(LF.LakeFormatError, match="already"):
        DW.convert_to_delta(raw, schema, partition_by=["c_mktsegment"])


def test_schema_evolution_append(spark, tmp_path):
    tbl = str(tmp_path / "t")
    v0 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, p string, v double"
    )
    DW.write_delta(spark, v0, tbl, partition_by=["p"])
    # add a column + drop a column in one evolved append
    v1 = spark.createDataFrame(
        [(3, "a", "x"), (4, "c", "y")], "id long, p string, tag string"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="merge_schema"):
        DW.write_delta(spark, v1, tbl, partition_by=["p"])
    DW.write_delta(spark, v1, tbl, partition_by=["p"], merge_schema=True)
    back = LF.read_delta_snapshot(spark, tbl)
    assert set(back.columns) == {"id", "p", "v", "tag"}
    rows = {r["id"]: (r["v"], r["tag"]) for r in back.collect()}
    assert rows == {
        1: (1.0, None),
        2: (2.0, None),
        3: (None, "x"),
        4: (None, "y"),
    }
    # time travel to v0 keeps the OLD schema
    old = LF.read_delta_snapshot(spark, tbl, version=0)
    assert set(old.columns) == {"id", "p", "v"}
    # type conflict gates loudly
    bad = spark.createDataFrame([(5, "a", 1)], "id long, p string, v long")
    with pytest.raises(LF.LakeFormatGatedError, match="type mismatch"):
        DW.write_delta(spark, bad, tbl, partition_by=["p"], merge_schema=True)


def test_vacuum_tombstone_clock_protects_recent_removes(spark, tmp_path):
    """Retention is measured from the remove's deletionTimestamp, not
    the file's mtime (r8 session-3 review): a month-old file
    tombstoned seconds ago must survive the full window — mtime alone
    deleted it immediately, breaking readers pinned on the
    pre-rewrite snapshot."""
    import os as _os
    import time as _time

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, "a") for i in range(10)], "id long, p string")
    DW.write_delta(spark, df, tbl, partition_by=["p"])                    # v0
    snap0 = LF.delta_snapshot(tbl)
    # age the v0 data files far into the past (a month-old table)
    old_s = _time.time() - 40 * 24 * 3600
    for f in snap0["files"]:
        _os.utime(f"{tbl}/{f['path']}", (old_s, old_s))
    # overwrite tombstones them NOW
    DW.write_delta(
        spark, df.limit(3), tbl, mode="overwrite", partition_by=["p"]
    )                                                                     # v1
    # 7-day retention at the real clock: tombstone is seconds old, so
    # the old-mtime files MUST be retained as young
    aud = DW.vacuum_delta(tbl)
    assert aud["files_deleted"] == 0
    assert aud["files_retained_young"] == len(snap0["files"])
    assert LF.read_delta_snapshot(spark, tbl, version=0).count() == 10
    # past the tombstone horizon they go
    far = int(_time.time() * 1000) + 8 * 24 * 3600 * 1000
    aud2 = DW.vacuum_delta(tbl, now_ms=far)
    assert aud2["files_deleted"] == len(snap0["files"])


def test_vacuum_spares_hidden_files(spark, tmp_path):
    """Underscore/dot-prefixed entries are never vacuumed (the
    production hidden-file rule) — the audit markers the gated
    fixtures persist at table roots were being swept (r8 s3 review)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, p string")
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    marker = Path(tbl) / "_RT_AUDIT_MARKER"
    marker.write_text("{}")
    hidden = Path(tbl) / ".hidden_note"
    hidden.write_text("x")
    aud = DW.vacuum_delta(tbl, retention_ms=0, now_ms=10**15)
    assert marker.exists() and hidden.exists()
    assert aud["files_deleted"] == 0


def test_restore_to_vacuumed_version_gates(spark, tmp_path):
    """RESTORE to a version whose files were vacuumed must refuse
    BEFORE committing (r8 s3 review: it committed a live snapshot
    referencing deleted files, corrupting the CURRENT table exactly
    like production Delta refuses to)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, "a") for i in range(10)], "id long, p string")
    DW.write_delta(spark, df, tbl, partition_by=["p"])                    # v0
    DW.write_delta(
        spark, df.limit(2), tbl, mode="overwrite", partition_by=["p"]
    )                                                                     # v1
    DW.vacuum_delta(tbl, retention_ms=0, now_ms=10**15)
    with pytest.raises(LF.LakeFormatError, match="no longer exist"):
        DW.restore_delta(tbl, 0)
    # the failed restore committed NOTHING: latest still reads clean
    assert LF.delta_snapshot(tbl)["version"] == 1
    assert LF.read_delta_snapshot(spark, tbl).count() == 2


def test_convert_ignores_a_crashed_commit_temp_file(tmp_path):
    """A writer killed between writing its commit's temp file and
    linking it leaves only that hidden file in ``_delta_log``; the
    directory holds no commit, so converting it is allowed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = tmp_path / "raw"
    (raw / "_delta_log").mkdir(parents=True)
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), raw / "a.parquet")
    (raw / "_delta_log" / ".00000000000000000000.json.tmp-1-deadbeef").write_text("{}")
    res = DW.convert_to_delta(
        str(raw), T.StructType([T.StructField("id", T.LongType())])
    )
    assert res == {"version": 0, "files_added": 1, "rows_cataloged": 2}
    # a real commit still refuses
    with pytest.raises(LF.LakeFormatError, match="already contains"):
        DW.convert_to_delta(
            str(raw), T.StructType([T.StructField("id", T.LongType())])
        )


def test_convert_deeper_partition_layout_gates(spark, tmp_path):
    """convert_to_delta on a directory partitioned DEEPER than
    partition_by declares must gate, not catalog files whose
    undeclared partition column silently reads NULL (r8 s3 review)."""
    raw = tmp_path / "raw"
    (raw / "a=1" / "b=2").mkdir(parents=True)
    spark.createDataFrame([(1.0,)], "v double").toPandas().to_parquet(
        raw / "a=1" / "b=2" / "part-0.parquet"
    )
    schema = T.StructType(
        [
            T.StructField("v", T.DoubleType()),
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
        ]
    )
    with pytest.raises(LF.LakeFormatError, match="deeper than"):
        DW.convert_to_delta(str(raw), schema, partition_by=["a"])


def test_optimize_sort_unpartitioned_disjoint(spark, tmp_path):
    """The clustering rewrite must hold on UNPARTITIONED tables too:
    local task sorts alone leave overlapping file ranges (r8 s3
    review) — the writer now range-partitions on the sort key first,
    so footer min/max are disjoint globally."""
    tbl = str(tmp_path / "t")
    rows = [((i * 7919) % 1000,) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long")
    DW.write_delta(spark, df, tbl, max_records_per_file=100)
    DW.optimize_delta(spark, tbl, sort_by=["id"], max_records_per_file=100)
    snap = LF.delta_snapshot(tbl)
    spans = []
    for f in snap["files"]:
        st = json.loads(f["stats"])
        spans.append((st["minValues"]["id"], st["maxValues"]["id"]))
    spans.sort()
    assert len(spans) > 1  # the rewrite actually produced several files
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(r[0] for r in rows)


def test_remove_actions_mirror_dv_descriptors(spark, tmp_path):
    """Every writer path tombstones through _remove_action, which
    mirrors the removed entry's DV descriptor (the protocol keys
    reconciliation on (path, dvId)); vacuum then protects the orphaned
    DV file on the tombstone clock, and OPTIMIZE's dataChange=false
    removes stay invisible to the CDF reader (r8 s3 review)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a") for i in range(30000)], "id long, p string"
    )
    DW.write_delta(
        spark,
        df,
        tbl,
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )                                                                     # v0
    DW.delete_delta(spark, tbl, [("id", "in", list(range(0, 30000, 7)))])  # v1
    dv_bins = list(Path(tbl).glob("deletion_vector_*.bin"))
    assert dv_bins
    DW.optimize_delta(spark, tbl)                                         # v2
    # the OPTIMIZE remove carries the victim's DV descriptor
    parsed = LF._parse_commit(Path(tbl) / "_delta_log", 2)
    assert any(r.get("deletionVector") for r in parsed["removes"])
    # ...and stays invisible to the change feed (dataChange=false)
    ch = LF.read_delta_changes(spark, tbl, 2, 2)
    assert ch.count() == 0


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """True multi-column Z-ORDER: after the interleaved rewrite, range
    probes on BOTH columns prune files — the property a single-key
    sort cannot give the second column — and the data is unchanged."""
    tbl = str(tmp_path / "t")
    rows = [((i * 7919) % 1024, (i * 104729) % 1024, "a" if i % 2 else "b")
            for i in range(4000)]
    df = spark.createDataFrame(rows, "x long, y long, p string")
    DW.write_delta(spark, df, tbl, partition_by=["p"], max_records_per_file=250)
    snap0 = LF.delta_snapshot(tbl)
    DW.optimize_delta(spark, tbl, zorder_by=["x", "y"], max_records_per_file=250)
    snap1 = LF.delta_snapshot(tbl)
    kx, _ = LF.prune_delta_files(snap1, [("x", "<", 128)])
    ky, _ = LF.prune_delta_files(snap1, [("y", "<", 128)])
    assert len(kx) < len(snap1["files"])
    assert len(ky) < len(snap1["files"])
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == 4000
    assert back.agg(F.sum("x"), F.sum("y")).collect()[0] == (
        sum(r[0] for r in rows),
        sum(r[1] for r in rows),
    )
    # the rewrite is a compaction commit: dataChange=false throughout
    parsed = LF._parse_commit(Path(tbl) / "_delta_log", snap1["version"])
    assert all(not a.get("dataChange", True) for a in parsed["adds"])

    # gates: partition column, non-integer column, mutual exclusion
    with pytest.raises(LF.LakeFormatError, match="partition column"):
        DW.optimize_delta(spark, tbl, zorder_by=["p", "x"])
    t2 = str(tmp_path / "t2")
    DW.write_delta(
        spark,
        spark.createDataFrame([(1, "s", "a")], "x long, s string, p string"),
        t2,
        partition_by=["p"],
    )
    with pytest.raises(LF.LakeFormatGatedError, match="integer"):
        DW.optimize_delta(spark, t2, zorder_by=["s", "x"])
    with pytest.raises(LF.LakeFormatError, match="mutually exclusive"):
        DW.optimize_delta(spark, tbl, sort_by=["x"], zorder_by=["y"])


def test_check_constraints(spark, tmp_path):
    """CHECK constraints: ALTER ADD validates existing rows, raises the
    protocol to the checkConstraints feature, writes/merges enforce
    with SQL semantics (NULL passes, FALSE violates), nothing stages
    on violation."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(10)],
        "id long, p string, v double",
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    DW.add_check_constraint(spark, tbl, "v_nonneg", "v >= 0")
    snap = LF.delta_snapshot(tbl)
    assert snap["protocol"]["minWriterVersion"] == 3
    assert snap["configuration"]["delta.constraints.v_nonneg"] == "v >= 0"
    # duplicate name refuses
    with pytest.raises(LF.LakeFormatError, match="already exists"):
        DW.add_check_constraint(spark, tbl, "v_nonneg", "v >= 0")
    # adding a constraint existing rows violate refuses
    with pytest.raises(DW.DeltaConstraintViolationError, match="10 row"):
        DW.add_check_constraint(spark, tbl, "big", "id > 1000")
    # violating append refuses and stages NOTHING
    with pytest.raises(DW.DeltaConstraintViolationError, match="v_nonneg"):
        DW.write_delta(
            spark, df.withColumn("v", -F.col("v") - 1), tbl, partition_by=["p"]
        )
    assert LF.delta_snapshot(tbl)["version"] == 1
    assert not list(Path(tbl).glob("_staging*"))
    # NULL passes (SQL CHECK semantics)
    DW.write_delta(
        spark,
        spark.createDataFrame([(None, "a", None)], "id long, p string, v double"),
        tbl,
        partition_by=["p"],
    )
    # merge enforces too
    with pytest.raises(DW.DeltaConstraintViolationError, match="MERGE"):
        DW.merge_delta(
            spark,
            tbl,
            spark.createDataFrame([(0, "b", -5.0)], "id long, p string, v double"),
            on=["id"],
        )


def test_vacuum_spares_iceberg_export(spark, tmp_path):
    """A UniForm-exported table's Iceberg state (metadata/, and data/
    written by Iceberg-side deletes) must survive Delta vacuum — an
    unaware vacuum destroyed the exported table wholesale (r8 s3
    review)."""
    from dbt_json_readr_spark.sources import icebergwriter as IW

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(20)],
        "id long, p string, v double",
    )
    DW.write_delta(spark, df, tbl, partition_by=["p"])
    r = IW.delta_to_iceberg(spark, tbl)
    r = IW.delete_iceberg(spark, r["metadata_path"], [("id", "<", 5)])
    assert list(Path(tbl, "data").glob("delete-*.parquet"))
    aud = DW.vacuum_delta(tbl, retention_ms=0, now_ms=10**15)
    assert aud["files_deleted"] == 0
    back = LF.read_iceberg_snapshot(spark, r["metadata_path"])
    assert back.count() == 15


def test_constraints_at_creation_set_protocol(spark, tmp_path):
    """A table BORN with delta.constraints.* must declare writer
    version 3 from commit 0 (r8 s3 review: at 2, external writers
    bypass the check) — and the creating write itself enforces."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, p string, v double")
    cfg = {"delta.constraints.v_nonneg": "v >= 0"}
    with pytest.raises(DW.DeltaConstraintViolationError):
        DW.write_delta(
            spark,
            df.withColumn("v", F.lit(-1.0)),
            str(tmp_path / "t2"),
            partition_by=["p"],
            configuration=cfg,
        )
    DW.write_delta(spark, df, tbl, partition_by=["p"], configuration=cfg)
    assert LF.delta_snapshot(tbl)["protocol"]["minWriterVersion"] == 3


def test_refused_merge_leaves_no_cdc_orphans(spark, tmp_path):
    """A constraint-refused MERGE on a CDF table must leave NOTHING —
    enforcement runs before _stage_cdc, which otherwise os.replaces
    change-data files into _change_data/ permanently (r8 s3 review)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(5)], "id long, p string, v double"
    )
    DW.write_delta(
        spark,
        df,
        tbl,
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    DW.add_check_constraint(spark, tbl, "v_nonneg", "v >= 0")
    src = spark.createDataFrame([(0, "a", -9.0)], "id long, p string, v double")
    with pytest.raises(DW.DeltaConstraintViolationError):
        DW.merge_delta(spark, tbl, src, on=["id"])
    cd = Path(tbl) / "_change_data"
    assert not cd.exists() or not any(cd.iterdir())


def test_generated_columns(spark, tmp_path):
    """Generated columns: created via generated= (metadata + writer
    version 4), COMPUTED when the frame lacks them, VALIDATED
    null-safe when provided (write and merge), create-time-only
    option, and the generated PARTITION column prunes."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    tbl = str(tmp_path / "t")
    a = orders.filter(F.col("o_orderkey") % 3 == 0)
    DW.write_delta(
        spark, a, tbl, partition_by=["o_year"],
        generated={"o_year": "year(o_orderdate)"},
    )
    snap = LF.delta_snapshot(tbl)
    assert snap["protocol"]["minWriterVersion"] == 4
    assert (
        snap["schema"]["o_year"].metadata["delta.generationExpression"]
        == "year(o_orderdate)"
    )
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == a.count()
    assert back.filter(F.col("o_year") != F.year("o_orderdate")).count() == 0
    # generated partition column prunes
    kept, _ = LF.prune_delta_files(snap, [("o_year", "=", 1995)])
    assert 0 < len(kept) < len(snap["files"])
    # append without the column computes it
    b = orders.filter(F.col("o_orderkey") % 3 == 1)
    DW.write_delta(spark, b, tbl, partition_by=["o_year"])
    assert LF.read_delta_snapshot(spark, tbl).count() == a.count() + b.count()
    # a drifted provided value refuses (write and merge)
    bad = b.withColumn("o_year", (F.year("o_orderdate") + 500).cast("int"))
    with pytest.raises(DW.DeltaConstraintViolationError, match="generated"):
        DW.write_delta(spark, bad, tbl, partition_by=["o_year"])
    src = LF.read_delta_snapshot(spark, tbl).limit(2).withColumn(
        "o_year", (F.year("o_orderdate") + 500).cast("int")
    )
    with pytest.raises(DW.DeltaConstraintViolationError, match="MERGE"):
        DW.merge_delta(spark, tbl, src, on=["o_orderkey"])
    # a correct provided value passes
    good = b.withColumn("o_year", F.year("o_orderdate"))
    DW.write_delta(spark, good, tbl, partition_by=["o_year"])
    # generated= on an existing table refuses
    with pytest.raises(LF.LakeFormatError, match="CREATE-time"):
        DW.write_delta(
            spark, b, tbl, partition_by=["o_year"], generated={"o_year": "1"}
        )


def test_generated_metadata_survives_evolution_and_order(spark, tmp_path):
    """merge_schema must PRESERVE delta.generationExpression (r8 s3
    review: _evolve_schema stripped it, silently ending enforcement);
    a generated column created in a NON-terminal position still
    computes on appends (re-projected into table order); and a table
    declaring delta.invariants refuses appends loudly."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    tbl = str(tmp_path / "t")
    # provide the generated column FIRST so it sits non-terminally
    a = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.year("o_orderdate").alias("o_year"), "*"
    )
    DW.write_delta(
        spark, a, tbl, partition_by=["o_year"],
        generated={"o_year": "year(o_orderdate)"},
    )
    # an append WITHOUT the column computes + reorders
    b = orders.filter(F.col("o_orderkey") % 3 == 1)
    DW.write_delta(spark, b, tbl, partition_by=["o_year"])
    back = LF.read_delta_snapshot(spark, tbl)
    assert back.count() == a.count() + b.count()
    assert back.filter(F.col("o_year") != F.year("o_orderdate")).count() == 0
    # schema evolution keeps the generation metadata alive
    c = orders.filter(F.col("o_orderkey") % 3 == 2).withColumn(
        "note", F.lit("x")
    )
    DW.write_delta(spark, c, tbl, partition_by=["o_year"], merge_schema=True)
    snap = LF.delta_snapshot(tbl)
    assert (
        snap["schema"]["o_year"].metadata["delta.generationExpression"]
        == "year(o_orderdate)"
    )
    # ...and still ENFORCES after the evolution
    bad = c.withColumn("o_year", (F.year("o_orderdate") + 500).cast("int"))
    with pytest.raises(DW.DeltaConstraintViolationError, match="generated"):
        DW.write_delta(spark, bad, tbl, partition_by=["o_year"])

    # delta.invariants (writer v2) are an obligation we don't
    # implement: appends to such tables refuse loudly
    t2 = str(tmp_path / "t2")
    inv_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField(
                "v",
                T.DoubleType(),
                True,
                {"delta.invariants": '{"expression":{"expression":"v > 0"}}'},
            ),
        ]
    )
    df2 = spark.createDataFrame([(1, 1.0)], schema=inv_schema)
    DW.write_delta(spark, df2, t2)
    with pytest.raises(LF.LakeFormatGatedError, match="invariants"):
        DW.write_delta(spark, df2, t2)


def test_cdc_replication_target_equals_source(spark, tmp_path):
    """The full CDC loop: a downstream consumer applies the change
    feed commit-by-commit onto its OWN Delta table (inserts/postimages
    via MERGE, deletes via DELETE) — after the drain, target state
    must equal the source's latest snapshot exactly.  This is the
    replication contract the feed exists for."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    base = orders.filter(F.col("o_orderkey") % 4 <= 1)
    DW.write_delta(
        spark, base, src, partition_by=["o_orderstatus"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    ups = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 7.0
    )
    ins = orders.filter(F.col("o_orderkey") % 4 == 2)
    DW.merge_delta(spark, src, ups.unionByName(ins), on=["o_orderkey"])
    DW.delete_delta(spark, src, [("o_totalprice", "<", 20000.0)])

    latest = LF.delta_snapshot(src)["version"]
    for v in range(0, latest + 1):
        ch = LF.read_delta_changes(spark, src, v, v).persist()
        upserts = ch.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type", "_commit_version")
        if not upserts.isEmpty():
            if (Path(tgt) / "_delta_log").exists():
                DW.merge_delta(spark, tgt, upserts, on=["o_orderkey"])
            else:
                DW.write_delta(
                    spark, upserts, tgt, partition_by=["o_orderstatus"]
                )
        dels = [
            int(r["o_orderkey"])
            for r in ch.filter(F.col("_change_type") == "delete")
            .select("o_orderkey").collect()
        ]
        if dels:
            DW.delete_delta(spark, tgt, [("o_orderkey", "in", dels)])
        ch.unpersist()

    s_df = LF.read_delta_snapshot(spark, src)
    t_df = LF.read_delta_snapshot(spark, tgt)
    assert t_df.count() == s_df.count()
    assert _dec_sum(t_df, "o_totalprice") == _dec_sum(s_df, "o_totalprice")
    assert t_df.exceptAll(s_df).count() == 0
    assert s_df.exceptAll(t_df).count() == 0


def test_zorder_wide_span_gates(spark, tmp_path):
    """ADVICE r8 (low): ((v - min) * 2^bits) runs in BIGINT, so a long
    column spanning more than 2^(63-bits) overflows the multiply — an
    ANSI throw mid-OPTIMIZE or a silently broken interleave.  Must
    refuse loudly instead."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(-(2**62), 1), (2**62, 2)], "x long, y long"
    )
    DW.write_delta(spark, df, tbl)
    with pytest.raises(LF.LakeFormatGatedError, match="span"):
        DW.optimize_delta(spark, tbl, zorder_by=["x", "y"])
    # a narrow span at the same bits still works
    t2 = str(tmp_path / "t2")
    DW.write_delta(
        spark,
        spark.createDataFrame([(i, i) for i in range(100)], "x long, y long"),
        t2,
        max_records_per_file=20,
    )
    res = DW.optimize_delta(spark, t2, zorder_by=["x", "y"])
    assert LF.read_delta_snapshot(spark, t2).count() == 100
    assert res["files_after"] >= 1


def test_v2_checkpoint_write_roundtrip(spark, tmp_path):
    """V2 checkpoint WRITE (r9): UUID manifest + sidecar add-parquet
    under _delta_log/_sidecars round-trips through the reader's v2
    seed path — pre-checkpoint commits deleted, a later commit replays
    on top, txn markers survive; requesting v2 without the protocol
    feature gates."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 3) for i in range(60)], "id long, g long")
    DW.write_delta(spark, df, tbl, max_records_per_file=20, txn=("app", 7))

    with pytest.raises(LF.LakeFormatGatedError, match="v2Checkpoint"):
        DW.write_delta_checkpoint(tbl, v2=True)

    # explicit protocol upgrade commit, then the v2 checkpoint
    DW._commit(
        tbl,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
            }
        ],
    )
    res = DW.write_delta_checkpoint(tbl, v2=True, sidecar_files=2)
    assert res["version"] == 1 and res["sidecars"] == 2
    log = Path(tbl) / "_delta_log"
    assert list(log.glob("*.checkpoint.*.parquet"))
    assert len(list((log / "_sidecars").glob("*.parquet"))) == 2

    # a post-checkpoint append, then delete the pre-checkpoint commits:
    # only the v2 checkpoint can seed versions 0-1
    DW.write_delta(
        spark,
        spark.createDataFrame([(100, 9)], "id long, g long"),
        tbl,
        mode="append",
    )
    (log / f"{0:020d}.json").unlink()
    (log / f"{1:020d}.json").unlink()
    got = LF.read_delta_snapshot(spark, tbl)
    assert got.count() == 61
    assert sorted(r.id for r in got.collect())[-1] == 100
    # txn marker survives into the checkpoint-seeded state
    assert DW.last_txn_version(tbl, "app") == 7
    # travel AT the checkpoint version reads without any JSON
    at1 = LF.read_delta_snapshot(spark, tbl, version=1)
    assert at1.count() == 60


def test_v2_checkpoint_json_manifest_roundtrip(spark, tmp_path):
    """JSON-FORMAT v2 checkpoint manifest (r10, VERDICT r9 item 5):
    the spec allows the v2 manifest itself as NDJSON (sidecars stay
    parquet).  Write side emits it via manifest_format='json'; the
    reader seeds from it exactly like the parquet form — only the
    checkpoint can answer after the pre-checkpoint commits are
    deleted, a later commit replays on top, txn markers survive, and
    the txn idempotence scan reads the JSON manifest too.  A JSON
    SIDECAR gates loudly; JSON for a CLASSIC checkpoint gates."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 3) for i in range(60)], "id long, g long")
    DW.write_delta(spark, df, tbl, max_records_per_file=20, txn=("app", 7))

    with pytest.raises(LF.LakeFormatError, match="v2-checkpoint form"):
        DW.write_delta_checkpoint(tbl, manifest_format="json")
    with pytest.raises(LF.LakeFormatError, match="manifest_format"):
        DW.write_delta_checkpoint(tbl, v2=True, manifest_format="orc")

    DW._commit(
        tbl,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
            }
        ],
    )
    res = DW.write_delta_checkpoint(
        tbl, v2=True, sidecar_files=2, manifest_format="json"
    )
    assert res["version"] == 1 and res["sidecars"] == 2
    log = Path(tbl) / "_delta_log"
    jmans = list(log.glob("*.checkpoint.*.json"))
    assert len(jmans) == 1
    assert not list(log.glob("*.checkpoint.*.parquet"))
    assert len(list((log / "_sidecars").glob("*.parquet"))) == 2
    # every manifest line is a single-action object; metaData carries
    # JSON dicts, not parquet map item-lists
    lines = [
        json.loads(line)
        for line in jmans[0].read_text().splitlines()
        if line.strip()
    ]
    assert all(len(a) == 1 for a in lines)
    md = [a["metaData"] for a in lines if "metaData" in a][0]
    assert isinstance(md["configuration"], dict)
    assert isinstance(md["format"]["options"], dict)

    DW.write_delta(
        spark,
        spark.createDataFrame([(100, 9)], "id long, g long"),
        tbl,
        mode="append",
    )
    (log / f"{0:020d}.json").unlink()
    (log / f"{1:020d}.json").unlink()
    got = LF.read_delta_snapshot(spark, tbl)
    assert got.count() == 61
    assert sorted(r.id for r in got.collect())[-1] == 100
    assert DW.last_txn_version(tbl, "app") == 7
    at1 = LF.read_delta_snapshot(spark, tbl, version=1)
    assert at1.count() == 60

    # a JSON sidecar reference gates loudly (spec: sidecars are parquet)
    bad = jmans[0].read_text().replace(".parquet", ".json", 1)
    jmans[0].write_text(bad)
    with pytest.raises(LF.LakeFormatError, match="sidecar.*JSON|JSON.*sidecar"):
        LF.read_delta_snapshot(spark, tbl, version=1)


def test_footer_stats_wide_decimal_exact_bounds(tmp_path):
    """decimal(38,10) raw-stats fallback must rescale EXACTLY: under
    the default 28-digit Decimal context a 38-digit unscaled value
    silently rounds (min up / max down), writing bounds NARROWER than
    the data into add.stats / manifest bounds — pruning would then
    skip files containing matching rows (r11 advisor finding)."""
    import decimal as _d

    import pyarrow as pa
    import pyarrow.parquet as pq

    lo = _d.Decimal("-9999999999999999999999999999.9999999999")
    hi = _d.Decimal("9999999999999999999999999999.9999999991")
    arr = pa.array([lo, hi], type=pa.decimal128(38, 10))
    path = tmp_path / "wide.parquet"
    pq.write_table(pa.table({"d": arr}), path)

    _, bounds, _, _ = DW.footer_column_stats(str(path), ["d"])
    got_lo, got_hi = bounds["d"]
    assert got_lo == lo, f"min bound rounded: {got_lo!r}"
    assert got_hi == hi, f"max bound rounded: {got_hi!r}"


def test_concurrent_two_writer_threads_append(spark, tmp_path):
    """TWO REAL THREADS appending to one Delta table (VERDICT r10
    item 5 — the CAS was only ever exercised sequentially): the loser
    sees DeltaConcurrentCommitError and retries by re-invoking
    write_delta (which re-reads the latest version), and at the end
    every batch survives, the version chain is linear with no gaps,
    and each version's commit holds exactly one writer's batch."""
    import threading

    tbl = str(tmp_path / "t")
    DW.write_delta(spark, spark.range(0).select(F.lit(0).alias("w"),
                                                F.col("id").alias("k")), tbl)
    n_each, errs = 4, []
    barrier = threading.Barrier(2)

    def writer(tag: int) -> None:
        try:
            barrier.wait()
            for i in range(n_each):
                df = spark.range(10).select(
                    F.lit(tag).alias("w"), (F.col("id") + tag * 1000 + i * 10).alias("k")
                )
                while True:
                    try:
                        DW.write_delta(spark, df, tbl, mode="append")
                        break
                    except DW.DeltaConcurrentCommitError:
                        continue  # loser re-reads latest and retries
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    log = Path(tbl) / "_delta_log"
    versions = sorted(
        int(p.name.split(".")[0]) for p in log.glob("*.json")
    )
    assert versions == list(range(2 * n_each + 1))  # linear, no gaps

    got = LF.read_delta_snapshot(spark, tbl)
    assert got.count() == 2 * n_each * 10
    per = {(r.w, r.n) for r in got.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert per == {(1, n_each * 10), (2, n_each * 10)}
    # no duplicated or lost keys anywhere
    assert got.select("k").distinct().count() == 2 * n_each * 10


def test_failed_write_leaves_no_staging_dir(spark, tmp_path, customers):
    """ADVICE r11: a Spark job that dies mid-stage must not orphan the
    `_staging-*` dir — the in-process exception path cleans up, and
    vacuum's age-gated sweep covers hard kills."""
    tbl = str(tmp_path / "t")
    DW.write_delta(spark, customers.limit(5), tbl)
    poisoned = customers.withColumn(
        "c_name",
        F.expr(
            "if(c_custkey >= 0, cast(raise_error('staged job failure') as string), c_name)"
        ),
    )
    with pytest.raises(Exception, match="staged job failure"):
        DW.write_delta(spark, poisoned, tbl, mode="append")
    assert list(Path(tbl).glob("_staging*")) == []
    # the table is untouched: still one commit, 5 rows
    assert LF.read_delta_snapshot(spark, tbl).count() == 5


def test_concurrent_staged_writes_all_store_int64_micros(spark, tmp_path):
    """Writer threads outnumbering the cores stage timestamp frames
    through one session at once: every landed file holds INT64 micros
    (one write's restore of the session-wide timestamp setting must not
    turn another's files INT96), and the caller's setting comes back."""
    import datetime as dt
    import os
    import threading

    import pyarrow.parquet as pq

    from dbt_json_readr_spark.sources import staging

    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key, None)
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, 0, i)) for i in range(8)],
        "id long, ts timestamp",
    ).coalesce(1)
    types, errs = [], []

    def writer(t: int) -> None:
        try:
            for i in range(3):
                for f in staging.land_parquet(
                    spark, df, str(tmp_path / f"t{t}"), prefix="p", version=i
                ):
                    schema = pq.ParquetFile(f.abspath).schema
                    types.append(schema.column(schema.names.index("ts")).physical_type)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    n = (os.cpu_count() or 1) + 1
    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert errs == []
    assert types == ["INT64"] * (3 * n)
    assert spark.conf.get(key, None) == before


def test_delta_history_table_is_log_only(spark, monkeypatch):
    """VERDICT r11 item 2: rows_at must come from log arithmetic —
    exactly ONE time-travel data read (the restored-head value gate),
    never a distributed count per version."""
    from dbt_json_readr_spark.plans import lakewrite as PW

    sf = "/root/testdata/sf0.001"
    PW.delta_history_table(spark, sf).collect()  # build/caches fixture

    calls: list = []
    orig = PW.LF.read_delta_snapshot

    def counting(*a, **k):
        calls.append(k)
        return orig(*a, **k)

    monkeypatch.setattr(PW.LF, "read_delta_snapshot", counting)
    rows = PW.delta_history_table(spark, sf).collect()
    assert [r.version for r in rows] == [0, 1, 2, 3, 4]
    assert len(calls) == 1, f"expected the single head gate, saw {len(calls)} reads"
