"""Native Iceberg write path (sources/icebergwriter.py): append
snapshots through the real metadata chain, read back through the
independent bridge; Appendix-D bound encode/decode round-trip; gates.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dbt_json_readr_spark.sources import icebergwriter as IW
from dbt_json_readr_spark.sources import lakeformats as LF
from dbt_json_readr_spark.sources import skipping

SF = "/root/testdata/sf0.001"


def _latest_meta(tbl: str) -> str:
    return str(
        max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )


def test_append_roundtrip_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    a = sup.filter(F.col("s_suppkey") % 2 == 0)
    b = sup.filter(F.col("s_suppkey") % 2 == 1)
    r1 = IW.write_iceberg(spark, a, tbl, partition_by=["s_nationkey"])
    r2 = IW.write_iceberg(spark, b, tbl, partition_by=["s_nationkey"])
    meta = _latest_meta(tbl)
    assert LF.read_iceberg_snapshot(spark, meta, r1["snapshot_id"]).count() == a.count()
    got = LF.read_iceberg_snapshot(spark, meta, r2["snapshot_id"])
    assert got.count() == sup.count()
    s = got.agg(F.sum(F.col("s_acctbal").cast("decimal(18,4)"))).collect()[0][0]
    e = sup.agg(F.sum(F.col("s_acctbal").cast("decimal(18,4)"))).collect()[0][0]
    assert s == e
    # snapshot 2's manifest list must carry BOTH manifests
    sid = LF.iceberg_snapshot_at_timestamp(
        meta, dt.datetime.now(dt.timezone.utc)
    )
    assert sid == r2["snapshot_id"]
    # the data files CONTAIN the partition column (spec modern layout)
    import pyarrow.parquet as pq

    one = got.inputFiles()[0].replace("file://", "").replace("file:/", "/")
    assert "s_nationkey" in pq.read_schema(one).names


def test_written_bounds_drive_pruning(spark, tmp_path):
    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    IW.write_iceberg(spark, sup, tbl, partition_by=["s_nationkey"])
    meta = _latest_meta(tbl)
    full = LF.read_iceberg_snapshot(spark, meta)
    lo_key = sup.agg(F.min("s_suppkey")).collect()[0][0]
    pred = [("s_suppkey", "<=", int(lo_key))]
    pruned = LF.read_iceberg_snapshot(spark, meta, predicate=pred)
    assert pruned.count() == sup.filter(F.col("s_suppkey") <= lo_key).count()
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # out-of-range probe opens nothing
    none = LF.read_iceberg_snapshot(
        spark, meta, predicate=[("s_suppkey", ">", 10**12)]
    )
    assert none.count() == 0 and len(none.inputFiles()) == 0


def test_null_partition_and_summaries(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, p string"
    )
    IW.write_iceberg(spark, df, tbl, partition_by=["p"])
    meta = _latest_meta(tbl)
    back = LF.read_iceberg_snapshot(spark, meta)
    assert back.count() == 3
    assert back.filter(F.col("p").isNull()).count() == 1
    # manifest-list summary records contains_null
    info = LF.iceberg_snapshot_info(meta)
    mlist = LF._read_avro_records(
        LF._resolve(info["snapshot"]["manifest-list"], tbl)
    )
    assert any(
        (m.get("partitions") or [{}])[0].get("contains_null") for m in mlist
    )


def test_schema_and_partition_gates(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 1.5)], "id long, p string, v double")
    IW.write_iceberg(spark, df, tbl, partition_by=["p"])
    with pytest.raises(LF.LakeFormatGatedError, match="schema"):
        IW.write_iceberg(
            spark, df.withColumn("extra", F.lit(1)), tbl, partition_by=["p"]
        )
    with pytest.raises(LF.LakeFormatGatedError, match="partition column"):
        IW.write_iceberg(
            spark, df, str(tmp_path / "t2"), partition_by=["v"]
        )


def test_metadata_cas_and_malformed_latest(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, p string")
    IW.write_iceberg(spark, df, tbl)
    meta_dir = Path(tbl, "metadata")
    # the commit primitive: a racing writer already owns v2 → the
    # loser must fail loudly, never overwrite
    IW._commit_metadata(meta_dir, 2, Path(_latest_meta(tbl)).read_text())
    with pytest.raises(LF.LakeFormatError, match="concurrently"):
        IW._commit_metadata(meta_dir, 2, "{}")
    # garbage latest metadata refuses the append loudly
    (meta_dir / "v3.metadata.json").write_text("{}")
    with pytest.raises(LF.LakeFormatError):
        IW.write_iceberg(spark, df, tbl)


@pytest.mark.parametrize(
    "type_json,value",
    [
        ("boolean", True),
        ("boolean", False),
        ("int", -12345),
        ("long", 2**40),
        ("float", 1.5),
        ("double", -3.25),
        ("date", dt.date(2024, 2, 29)),
        ("timestamp", dt.datetime(2023, 5, 6, 7, 8, 9, 123456)),
        (
            "timestamptz",
            dt.datetime(2023, 5, 6, 7, 8, 9, 123456, tzinfo=dt.timezone.utc),
        ),
        ("string", "héllo wörld"),
        ("decimal(9, 2)", Decimal("-128.00")),
        ("decimal(18, 4)", Decimal("12345.6789")),
        ("binary", b"\x00\xff\x80ab"),
        ("fixed[4]", b"\x01\x02\x03\x04"),
    ],
)
def test_bound_encode_decode_roundtrip(type_json, value):
    raw = IW.encode_iceberg_bound(type_json, value)
    assert raw is not None
    back = skipping.decode_iceberg_bound(type_json, raw)
    if type_json == "timestamptz":
        assert back == value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    else:
        assert back == value


def test_metadata_is_spec_shaped(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string")
    IW.write_iceberg(spark, df, tbl, partition_by=["p"])
    meta = json.loads(Path(_latest_meta(tbl)).read_text())
    assert meta["format-version"] == 2
    assert meta["current-schema-id"] == 0
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"
    assert meta["snapshot-log"][-1]["snapshot-id"] == meta["current-snapshot-id"]
    # the audit key machinery reads it too
    info = LF.iceberg_snapshot_info(_latest_meta(tbl))
    assert info["lineage_depth"] == 0


def test_delete_iceberg_position_deletes(spark, tmp_path):
    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    IW.write_iceberg(spark, sup, tbl, partition_by=["s_nationkey"])
    aud = IW.delete_iceberg(spark, _latest_meta(tbl), [("s_acctbal", "<", 3100.0)])
    exp = sup.filter(~(F.col("s_acctbal") < 3100.0))
    n_del = sup.count() - exp.count()
    assert n_del > 0  # the fixture must actually exercise the delete
    assert aud["positions_written"] == n_del
    meta = _latest_meta(tbl)
    back = LF.read_iceberg_snapshot(spark, meta)
    assert back.count() == exp.count()
    s = back.agg(F.sum(F.col("s_acctbal").cast("decimal(18,4)"))).collect()[0][0]
    e = exp.agg(F.sum(F.col("s_acctbal").cast("decimal(18,4)"))).collect()[0][0]
    assert s == e
    # pre-delete snapshot still reads whole
    pre = LF.read_iceberg_snapshot(spark, meta, 1)
    assert pre.count() == sup.count()

    # second delete composes with the first
    aud2 = IW.delete_iceberg(spark, meta, [("s_suppkey", "=", int(
        exp.agg(F.min("s_suppkey")).collect()[0][0]
    ))])
    assert aud2["positions_written"] >= 1
    back2 = LF.read_iceberg_snapshot(spark, _latest_meta(tbl))
    assert back2.count() == exp.count() - 1

    # no-match delete commits nothing
    aud3 = IW.delete_iceberg(
        spark, _latest_meta(tbl), [("s_acctbal", ">", 1e15)]
    )
    assert aud3["snapshot_id"] is None


def test_delete_after_append_scopes_by_sequence(spark, tmp_path):
    """A delete commits with the NEXT sequence number; a later append
    is out of its scope — re-inserted rows matching the old predicate
    must survive (the spec's ordering rule end-to-end through our own
    writer and reader)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    IW.write_iceberg(spark, df, tbl)
    IW.delete_iceberg(spark, _latest_meta(tbl), [("id", "<", 5)])
    # re-append rows with the same ids AFTER the delete
    IW.write_iceberg(spark, df.filter(F.col("id") < 3), tbl)
    back = LF.read_iceberg_snapshot(spark, _latest_meta(tbl))
    # 5 survivors of the delete + 3 re-appended = 8
    assert back.count() == 8
    assert back.filter(F.col("id") == 0).count() == 1


def test_expire_snapshots(spark, tmp_path):
    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    a = sup.filter(F.col("s_suppkey") % 2 == 0)
    b = sup.filter(F.col("s_suppkey") % 2 == 1)
    IW.write_iceberg(spark, a, tbl)
    IW.write_iceberg(spark, b, tbl)
    daud = IW.delete_iceberg(spark, _latest_meta(tbl), [("s_acctbal", "<", 3100.0)])
    assert daud["positions_written"] > 0
    meta3 = _latest_meta(tbl)
    exp_rows = LF.read_iceberg_snapshot(spark, meta3).count()

    dry = IW.expire_iceberg_snapshots(meta3, keep_last=1, dry_run=True)
    assert dry["snapshots_expired"] == 2 and dry["files_deleted"] > 0

    aud = IW.expire_iceberg_snapshots(meta3, keep_last=1)
    assert aud["snapshots_expired"] == 2
    new_meta = aud["metadata_path"]
    # current snapshot fully readable; shared data files untouched
    assert LF.read_iceberg_snapshot(spark, new_meta).count() == exp_rows
    # expired snapshots gate loudly
    with pytest.raises(LF.LakeFormatError):
        LF.read_iceberg_snapshot(spark, new_meta, 1).count()
    # refusing to drop the current snapshot
    with pytest.raises(LF.LakeFormatError, match="keep_last"):
        IW.expire_iceberg_snapshots(new_meta, keep_last=0)


def test_position_deletes_survive_table_move(spark, tmp_path):
    """Delete files store table-root-RELATIVE paths (the manifests'
    rule): a table directory moved after the delete still applies it
    (absolute URIs in the staged fixture build went stale on the
    atomic rename and every delete silently missed).  Both writers of
    position deletes are covered: ``delete_iceberg``, and the export
    of a Delta table's deletion vectors by ``delta_to_iceberg``."""
    import shutil as _sh

    from dbt_json_readr_spark.sources import deltawriter as DW

    rows = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    t1 = str(tmp_path / "orig")
    IW.write_iceberg(spark, rows, t1)
    IW.delete_iceberg(spark, _latest_meta(t1), [("id", "<", 4)])
    d1 = str(tmp_path / "delta_orig")
    # one data file, so the delete is a deletion vector, not a removal
    DW.write_delta(spark, rows.coalesce(1), d1)
    DW.delete_delta(spark, d1, [("id", "<", 4)])
    export = IW.delta_to_iceberg(spark, d1)
    assert export["dv_positions_exported"] == 4
    exported = export["metadata_path"]
    for src, meta in ((t1, None), (d1, exported)):
        dest = src + "_moved"
        _sh.move(src, dest)
        meta = _latest_meta(dest) if meta is None else meta.replace(src, dest)
        back = LF.read_iceberg_snapshot(spark, meta)
        assert back.count() == 6, src
        assert back.filter(F.col("id") < 4).count() == 0, src


def test_delete_from_stale_metadata_cas_collides(spark, tmp_path):
    """delete_iceberg commits at (its snapshot source version)+1 — a
    stale metadata_path must COLLIDE with the concurrent commit, never
    land as a fresh version that silently erases it (r8 s3 review:
    the glob-latest override defeated the CAS)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    IW.write_iceberg(spark, df, tbl)                     # v1
    stale = _latest_meta(tbl)
    IW.write_iceberg(spark, df, tbl)                     # v2 (concurrent)
    with pytest.raises(LF.LakeFormatError, match="concurrently"):
        IW.delete_iceberg(spark, stale, [("id", "<", 3)])
    # the concurrent append's snapshot survived untouched
    assert LF.read_iceberg_snapshot(spark, _latest_meta(tbl)).count() == 20


def test_expire_from_stale_metadata_cas_collides(spark, tmp_path):
    """expire_iceberg_snapshots is DESTRUCTIVE — run from a stale
    metadata_path it must collide on the CAS instead of deleting files
    and dropping the newer snapshot from history (r8 s3 review)."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(6)], "id long, v double")
    IW.write_iceberg(spark, df, tbl)                     # v1
    IW.write_iceberg(spark, df, tbl)                     # v2
    stale = _latest_meta(tbl)
    IW.write_iceberg(spark, df, tbl)                     # v3 (concurrent)
    with pytest.raises(LF.LakeFormatError, match="concurrently"):
        IW.expire_iceberg_snapshots(stale, keep_last=1)
    assert LF.read_iceberg_snapshot(spark, _latest_meta(tbl)).count() == 18


def test_schema_evolution_append(spark, tmp_path):
    """merge_schema: new columns join under FRESH field ids via a new
    schemas[] entry; old snapshots keep their schema-id (time travel
    reads the old shape); missing columns fill NULL; type conflicts
    gate loudly."""
    import json as _json

    tbl = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, p string, v double")
    r1 = IW.write_iceberg(spark, a, tbl, partition_by=["p"])
    b = spark.createDataFrame([(3, "a", "x"), (4, "c", "y")], "id long, p string, tag string")
    with pytest.raises(LF.LakeFormatGatedError, match="merge_schema"):
        IW.write_iceberg(spark, b, tbl, partition_by=["p"])
    r2 = IW.write_iceberg(spark, b, tbl, partition_by=["p"], merge_schema=True)
    back = LF.read_iceberg_snapshot(spark, r2["metadata_path"])
    assert set(back.columns) == {"id", "p", "v", "tag"}
    rows = {r["id"]: (r["v"], r["tag"]) for r in back.collect()}
    assert rows == {1: (1.0, None), 2: (2.0, None), 3: (None, "x"), 4: (None, "y")}
    # time travel to the pre-evolution snapshot keeps the OLD schema
    old = LF.read_iceberg_snapshot(
        spark, r2["metadata_path"], snapshot_id=r1["snapshot_id"]
    )
    assert set(old.columns) == {"id", "p", "v"} and old.count() == 2
    # metadata: new schemas[] entry, fresh id, last-column-id advanced
    meta = _json.load(open(r2["metadata_path"]))
    assert [s["schema-id"] for s in meta["schemas"]] == [0, 1]
    assert meta["current-schema-id"] == 1 and meta["last-column-id"] == 4
    new_field = [f for f in meta["schemas"][1]["fields"] if f["name"] == "tag"][0]
    assert new_field["id"] == 4 and new_field["required"] is False
    # type conflict gates
    bad = spark.createDataFrame([(5, "a", 1)], "id long, p string, v long")
    with pytest.raises(LF.LakeFormatGatedError, match="type mismatch"):
        IW.write_iceberg(spark, bad, tbl, partition_by=["p"], merge_schema=True)
    # a same-shape append after evolution still lands (schema-id reused)
    c = spark.createDataFrame([(9, "a", 9.0, "z")], "id long, p string, v double, tag string")
    r3 = IW.write_iceberg(spark, c, tbl, partition_by=["p"], merge_schema=True)
    meta3 = _json.load(open(r3["metadata_path"]))
    assert [s["schema-id"] for s in meta3["schemas"]] == [0, 1]
    assert LF.read_iceberg_snapshot(spark, r3["metadata_path"]).count() == 5


def test_equality_delete_on_timestamp_key_stores_int64_micros(spark, tmp_path):
    """An equality delete keyed on a timestamp column lands its delete
    file with INT64 micros, as the table's data files and the spec
    have it (a plain Spark write would store INT96), and the read-back
    drops exactly the keyed row."""
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, 0, i)) for i in range(5)],
        "id long, ts timestamp",
    )
    r1 = IW.write_iceberg(spark, df, tbl)
    keys = df.filter(F.col("id") == 3).select("ts")
    r2 = IW.delete_iceberg_equality(r1["metadata_path"], keys)
    assert r2["keys_written"] == 1
    files = [Path(tbl, r2["delete_file"]), *Path(tbl, "data").glob("f-*.parquet")]
    assert len(files) > 1
    for path in files:
        schema = pq.ParquetFile(path).schema
        col = schema.column(schema.names.index("ts"))
        assert col.physical_type == "INT64", (path.name, col.physical_type)
    back = LF.read_iceberg_snapshot(spark, r2["metadata_path"])
    assert sorted(r["id"] for r in back.collect()) == [0, 1, 2, 4]


def test_equality_delete_write(spark, tmp_path):
    """Equality deletes: distinct key tuples in a content=2 delete
    file, typed equality_ids, STRICT sequence scoping (a re-append of
    deleted keys survives), no-op on empty keys, type-mismatch gate."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(21)], "id long, g long, v double"
    )
    r1 = IW.write_iceberg(spark, df, tbl)
    keys = spark.createDataFrame([(0,), (1,), (1,)], "g long")
    r2 = IW.delete_iceberg_equality(r1["metadata_path"], keys)
    assert r2["keys_written"] == 2  # deduped
    back = LF.read_iceberg_snapshot(spark, r2["metadata_path"])
    assert back.count() == 7
    assert {r["g"] for r in back.select("g").distinct().collect()} == {2}
    # strict seq scoping: re-appended deleted keys SURVIVE
    re_add = spark.createDataFrame([(100, 0, 1.0)], "id long, g long, v double")
    r3 = IW.write_iceberg(spark, re_add, tbl)
    back3 = LF.read_iceberg_snapshot(spark, r3["metadata_path"])
    assert back3.count() == 8
    assert back3.filter(F.col("id") == 100).count() == 1
    # pre-delete snapshot unaffected
    assert (
        LF.read_iceberg_snapshot(
            spark, r3["metadata_path"], snapshot_id=r1["snapshot_id"]
        ).count()
        == 21
    )
    # empty key set commits nothing
    none = IW.delete_iceberg_equality(
        r3["metadata_path"], spark.createDataFrame([], "g long")
    )
    assert none["snapshot_id"] is None
    # type coercion gates (a coerced tuple would delete nothing)
    with pytest.raises(LF.LakeFormatGatedError, match="stores"):
        IW.delete_iceberg_equality(
            r3["metadata_path"], spark.createDataFrame([(2,)], "g int")
        )
    # unknown key column refuses
    with pytest.raises(LF.LakeFormatError, match="not in table schema"):
        IW.delete_iceberg_equality(
            r3["metadata_path"], spark.createDataFrame([(2,)], "zz long")
        )


def test_delta_to_iceberg_export(spark, tmp_path):
    """UniForm-style export: same parquet, two logs.  The Iceberg read
    must equal the Delta read (identity back-fill reconstructs the
    Delta-stripped partition column), bounds pruning works through the
    exported manifests, re-export appends a snapshot (travel to the
    first export still works), and DV-bearing tables gate."""
    from dbt_json_readr_spark.sources import deltawriter as DW

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    tbl = str(tmp_path / "t")
    DW.write_delta(
        spark,
        cust.filter(F.col("c_custkey") % 2 == 0),
        tbl,
        partition_by=["c_mktsegment"],
    )
    r1 = IW.delta_to_iceberg(spark, tbl)
    ice = LF.read_iceberg_snapshot(spark, r1["metadata_path"])
    dlt = LF.read_delta_snapshot(spark, tbl)
    assert ice.count() == dlt.count() == r1["rows_exported"]
    assert (
        ice.agg(F.sum(F.col("c_acctbal").cast("decimal(28,2)"))).collect()[0][0]
        == dlt.agg(F.sum(F.col("c_acctbal").cast("decimal(28,2)"))).collect()[0][0]
    )
    # the back-filled partition column carries real values
    segs_i = {r["c_mktsegment"] for r in ice.select("c_mktsegment").distinct().collect()}
    segs_d = {r["c_mktsegment"] for r in dlt.select("c_mktsegment").distinct().collect()}
    assert segs_i == segs_d and None not in segs_i
    # exported bounds prune: one file per segment at one commit
    pruned = LF.read_iceberg_snapshot(
        spark, r1["metadata_path"], predicate=[("c_mktsegment", "=", "BUILDING")]
    )
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == dlt.filter(F.col("c_mktsegment") == "BUILDING").count()
    # re-export after another Delta commit appends a snapshot
    DW.write_delta(
        spark,
        cust.filter(F.col("c_custkey") % 2 == 1),
        tbl,
        partition_by=["c_mktsegment"],
    )
    r2 = IW.delta_to_iceberg(spark, tbl)
    assert LF.read_iceberg_snapshot(spark, r2["metadata_path"]).count() == cust.count()
    assert (
        LF.read_iceberg_snapshot(
            spark, r2["metadata_path"], snapshot_id=r1["snapshot_id"]
        ).count()
        == r1["rows_exported"]
    )
    # DV-bearing tables export their DVs as POSITION DELETES (r9,
    # VERDICT r8 item 4): both logs must hide the same rows
    DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])
    n_del = cust.filter(F.col("c_acctbal") < 0.0).count()
    assert n_del > 0
    r3 = IW.delta_to_iceberg(spark, tbl)
    assert r3["dv_positions_exported"] == n_del
    d_side = LF.read_delta_snapshot(spark, tbl)
    i_side = LF.read_iceberg_snapshot(spark, r3["metadata_path"])
    assert i_side.count() == cust.count() - n_del
    cols = d_side.columns
    assert d_side.exceptAll(i_side.select(*cols)).count() == 0
    assert i_side.select(*cols).exceptAll(d_side).count() == 0


def test_compact_iceberg(spark, tmp_path):
    """Compaction applies position AND equality deletes physically,
    bin-packs per partition into a 'replace' snapshot, preserves
    history, and a compaction from a stale read collides on the CAS."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(1000)], "id long, g long, v double"
    )
    r = None
    for k in range(3):
        r = IW.write_iceberg(
            spark,
            df.filter(F.col("id") % 3 == k),
            tbl,
            partition_by=["g"],
            max_records_per_file=50,
        )
    r = IW.delete_iceberg(spark, r["metadata_path"], [("id", "<", 100)])
    r = IW.delete_iceberg_equality(
        r["metadata_path"], spark.createDataFrame([(999,), (998,)], "id long")
    )
    before = LF.read_iceberg_snapshot(spark, r["metadata_path"])
    nb, sb = before.count(), before.agg(F.sum("id")).collect()[0][0]
    c = IW.compact_iceberg(spark, r["metadata_path"], max_records_per_file=500)
    assert c["files_before"] > c["files_after"] == 2
    after = LF.read_iceberg_snapshot(spark, c["metadata_path"])
    assert (after.count(), after.agg(F.sum("id")).collect()[0][0]) == (nb, sb)
    # the compacted state carries NO delete files forward
    entries = LF.iceberg_snapshot_entries(c["metadata_path"])
    live = [e for e in entries if e["status"] != 2]
    assert all(e["content"] == 0 for e in live)
    # pre-compaction snapshot still travels
    assert (
        LF.read_iceberg_snapshot(
            spark, c["metadata_path"], snapshot_id=r["snapshot_id"]
        ).count()
        == nb
    )
    # a compaction planned from the now-stale metadata collides — and
    # fails FAST, before the full-table rewrite strands an orphan copy
    n_data_files = len(list(Path(tbl, "data").rglob("*.parquet")))
    with pytest.raises(LF.LakeFormatError, match="concurrently"):
        IW.compact_iceberg(spark, r["metadata_path"])
    assert len(list(Path(tbl, "data").rglob("*.parquet"))) == n_data_files


def test_refs_tag_read_and_expire_protection(spark, tmp_path):
    """Tags resolve reads to THEIR snapshot (not latest — the resolved
    id must reach the manifest walk), survive expire, refuse
    duplicates, and gate after removal."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(12)], "id long, v double")
    r1 = IW.write_iceberg(spark, df.filter(F.col("id") < 4), tbl)
    IW.set_iceberg_ref(r1["metadata_path"], "v1")
    IW.write_iceberg(spark, df.filter((F.col("id") >= 4) & (F.col("id") < 8)), tbl)
    r3 = IW.write_iceberg(spark, df.filter(F.col("id") >= 8), tbl)
    assert (
        LF.read_iceberg_snapshot(spark, r3["metadata_path"], ref="v1").count() == 4
    )
    aud = IW.expire_iceberg_snapshots(r3["metadata_path"], keep_last=1)
    assert aud["snapshots_expired"] == 1  # the middle one; the tag survives
    latest = aud["metadata_path"]
    assert LF.read_iceberg_snapshot(spark, latest, ref="v1").count() == 4
    assert LF.read_iceberg_snapshot(spark, latest).count() == 12
    with pytest.raises(LF.LakeFormatError, match="already exists"):
        IW.set_iceberg_ref(latest, "v1")
    with pytest.raises(LF.LakeFormatError, match="not both"):
        LF.read_iceberg_snapshot(spark, latest, snapshot_id=1, ref="v1")
    r = IW.remove_iceberg_ref(latest, "v1")
    with pytest.raises(LF.LakeFormatError, match="no ref"):
        LF.read_iceberg_snapshot(spark, r["metadata_path"], ref="v1")


def test_compact_preserves_required_columns(spark, tmp_path):
    """ADVICE r8 (medium): Spark file reads force every column nullable,
    so compacting a table created with a required (non-nullable) column
    used to hit the schema-evolution gate (merge saw required → optional
    as a change), permanently breaking maintenance on such tables.  The
    merge now keeps `required`; the invariant is enforced from footer
    null counts at commit time instead."""
    from pyspark.sql import types as T

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)],
        T.StructType(
            [
                T.StructField("id", T.LongType(), nullable=False),
                T.StructField("v", T.StringType(), nullable=True),
            ]
        ),
    )
    IW.write_iceberg(spark, df, tbl)
    meta = _latest_meta(tbl)
    fields = {
        f["name"]: f["required"]
        for f in json.load(open(meta))["schemas"][0]["fields"]
    }
    assert fields == {"id": True, "v": False}

    # compaction (read-back → replace) must neither gate nor demote
    res = IW.compact_iceberg(spark, meta)
    meta2 = res["metadata_path"]
    m2 = json.load(open(meta2))
    cur = {s["schema-id"]: s for s in m2["schemas"]}[m2["current-schema-id"]]
    assert {f["name"]: f["required"] for f in cur["fields"]} == fields
    got = LF.read_iceberg_snapshot(spark, meta2)
    assert got.count() == 3

    # an ordinary append of the table's own data also round-trips
    IW.write_iceberg(spark, got, tbl)
    assert LF.read_iceberg_snapshot(spark, _latest_meta(tbl)).count() == 6


def test_append_nulls_into_required_gates(spark, tmp_path):
    """The flip side of keeping `required` through the merge: data that
    actually CONTAINS nulls in a required column must refuse at commit
    time (footer null counts), and the refused write must not leave
    data files behind."""
    from pyspark.sql import types as T

    tbl = str(tmp_path / "t")
    strict = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("v", T.StringType(), nullable=True),
        ]
    )
    IW.write_iceberg(spark, spark.createDataFrame([(1, "a")], strict), tbl)
    before = sorted(p.name for p in Path(tbl, "data").rglob("*.parquet"))
    bad = spark.createDataFrame(
        [(None, "x"), (2, "y")], "id long, v string"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="required"):
        IW.write_iceberg(spark, bad, tbl)
    # the refused commit must leave no orphan data files behind
    after = sorted(p.name for p in Path(tbl, "data").rglob("*.parquet"))
    assert after == before
    assert LF.read_iceberg_snapshot(spark, _latest_meta(tbl)).count() == 1


def test_epoch_ledger_survives_expire(spark, tmp_path):
    """ADVICE r8 (low): the exactly-once epoch ledger lived only in
    snapshot summaries, which expire_iceberg_snapshots rewrites — after
    maintenance a replayed old epoch would commit again.  write_iceberg
    now mirrors integer summary markers into table properties as a
    high-water mark; iceberg_last_epoch reads both."""
    tbl = str(tmp_path / "t")
    key = "djrs-stream-epoch"
    df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS v")
    for epoch in (0, 1, 2):
        IW.write_iceberg(spark, df, tbl, summary_extra={key: str(epoch)})
    assert IW.iceberg_last_epoch(tbl, key) == 2
    # expire everything but the newest snapshot: summaries for epochs
    # 0 and 1 are gone, but the properties high-water mark survives
    IW.expire_iceberg_snapshots(_latest_meta(tbl), keep_last=1)
    meta = json.load(open(_latest_meta(tbl)))
    assert len(meta["snapshots"]) == 1
    assert IW.iceberg_last_epoch(tbl, key) == 2
    # ...and even if the LAST snapshot's summary were also absent, the
    # property alone answers (simulate by asking through properties)
    assert meta["properties"][key] == "2"


def test_write_bucket_partition_transform(spark, tmp_path):
    """Write-side bucket[N] (VERDICT r8 item 2): the staged write
    partitions by the spec's murmur3 bucket computed EXECUTOR-side
    (functions/icetransforms.py), the spec records the transform, the
    partition records carry bucket ordinals, and an equality probe
    opens exactly the matching bucket's files through the independent
    read bridge."""
    from dbt_json_readr_spark.sources.skipping import iceberg_bucket_hash

    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    IW.write_iceberg(spark, sup, tbl, partition_by=["bucket(4, s_suppkey)"])
    meta = _latest_meta(tbl)
    m = json.load(open(meta))
    assert m["partition-specs"][0]["fields"][0] == {
        "field-id": 1000,
        "name": "s_suppkey_bucket",
        "source-id": 1,
        "transform": "bucket[4]",
    }
    full = LF.read_iceberg_snapshot(spark, meta)
    assert full.count() == sup.count()
    # every row landed in its spec-true bucket (partition dir == hash)
    for r in full.select("s_suppkey", F.input_file_name().alias("f")).collect():
        want = (iceberg_bucket_hash("long", r.s_suppkey) & 0x7FFFFFFF) % 4
        assert f"s_suppkey_bucket={want}" in r.f
    # equality probe prunes to ONE bucket's files
    key = int(sup.agg(F.max("s_suppkey")).collect()[0][0])
    pruned = LF.read_iceberg_snapshot(spark, meta, predicate=[("s_suppkey", "=", key)])
    assert pruned.count() == 1
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want_bucket = (iceberg_bucket_hash("long", key) & 0x7FFFFFFF) % 4
    assert all(f"s_suppkey_bucket={want_bucket}" in f for f in pruned.inputFiles())

    # compaction RE-DERIVES bucket placement (the old identity gate)
    res = IW.compact_iceberg(spark, meta)
    back = LF.read_iceberg_snapshot(spark, res["metadata_path"])
    assert back.count() == sup.count()
    p2 = LF.read_iceberg_snapshot(
        spark, res["metadata_path"], predicate=[("s_suppkey", "=", key)]
    )
    assert p2.count() == 1
    assert all(f"s_suppkey_bucket={want_bucket}" in f for f in p2.inputFiles())

    # position deletes work over the transformed spec too
    IW.delete_iceberg(
        spark, res["metadata_path"], [("s_suppkey", "=", key)]
    )
    assert LF.read_iceberg_snapshot(spark, _latest_meta(tbl)).count() == sup.count() - 1


def test_write_truncate_and_datepart_transforms(spark, tmp_path):
    """truncate[W] over strings/ints and month/day over dates: rows
    place by the transformed value and BOTH range and equality probes
    prune through the read bridge's transform machinery."""
    import datetime as dt

    tbl = str(tmp_path / "t")
    rows = [
        (i, f"{p}-{i:03d}", dt.date(2021, 1 + (i % 6), 1 + (i % 27)))
        for i, p in zip(range(120), ["AA", "BB", "CC"] * 40)
    ]
    df = spark.createDataFrame(rows, "id long, code string, d date")
    IW.write_iceberg(
        spark, df, tbl, partition_by=["truncate(2, code)", "month(d)"]
    )
    meta = _latest_meta(tbl)
    spec = json.load(open(meta))["partition-specs"][0]["fields"]
    assert [f["transform"] for f in spec] == ["truncate[2]", "month"]
    full = LF.read_iceberg_snapshot(spark, meta)
    assert full.count() == 120
    pr = LF.read_iceberg_snapshot(spark, meta, predicate=[("code", "=", "BB-001")])
    assert pr.count() == 1
    assert all("code_trunc=BB" in f for f in pr.inputFiles())
    d = dt.date(2021, 3, 4)
    pr2 = LF.read_iceberg_snapshot(spark, meta, predicate=[("d", "=", d)])
    assert pr2.count() == df.filter(F.col("d") == F.lit(d)).count()
    assert all("d_month=614" in f for f in pr2.inputFiles())  # (2021-1970)*12+2
    # truncate over a long column: v - pmod(v, w)
    tbl2 = str(tmp_path / "t2")
    IW.write_iceberg(
        spark,
        df.select("id", "code"),
        tbl2,
        partition_by=["truncate(50, id)"],
    )
    pr3 = LF.read_iceberg_snapshot(
        spark, _latest_meta(tbl2), predicate=[("id", "=", 77)]
    )
    assert pr3.count() == 1
    assert all("id_trunc=50" in f for f in pr3.inputFiles())


def test_partition_transform_gates_and_nulls(spark, tmp_path):
    """Unsupported transform sources refuse loudly; null source values
    route to the null partition (transforms map null→null, spec)."""
    df = spark.createDataFrame([(1.5, "a", None)], "v double, s string, d date")
    with pytest.raises(LF.LakeFormatGatedError, match="executor-side"):
        IW.write_iceberg(
            spark, df, str(tmp_path / "t"), partition_by=["bucket(4, v)"]
        )
    with pytest.raises(LF.LakeFormatError, match="not in schema"):
        IW.write_iceberg(
            spark, df, str(tmp_path / "t"), partition_by=["bucket(4, nope)"]
        )
    tbl = str(tmp_path / "t3")
    IW.write_iceberg(spark, df, tbl, partition_by=["day(d)"])
    back = LF.read_iceberg_snapshot(spark, _latest_meta(tbl))
    assert back.count() == 1 and back.collect()[0].d is None
    # decimal buckets: p <= 18 writes (F39); p > 18 gates loudly —
    # the 128-bit unscaled value has no executor-side byte builder
    from decimal import Decimal

    dfd = spark.createDataFrame(
        [(Decimal("1.23"),)], "w decimal(38,2)"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="18"):
        IW.write_iceberg(
            spark, dfd, str(tmp_path / "t4"), partition_by=["bucket(4, w)"]
        )


def test_delta_to_iceberg_column_mapped(spark, tmp_path):
    """Column-mapped UniForm export (r9): a mode-'name' Delta table
    whose parquet carries PHYSICAL column names + footer field ids
    exports with Iceberg field ids = the columnMapping ids, so the
    bridge's footer-id resolution reads the physical columns under
    their LOGICAL names.  A file with no footer ids and a physical
    name differing from the logical one gates at export."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "t"
    t.mkdir()
    phys = {"id": "col-i", "qty": "col-q", "region": "col-r"}
    ids = {"id": 1, "qty": 2, "region": 3}

    def fld(logical, typ="long"):
        return {
            "name": logical,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": ids[logical],
                "delta.columnMapping.physicalName": phys[logical],
            },
        }

    meta = {
        "metaData": {
            "id": "cm-export-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [fld("id"), fld("qty"), fld("region", "string")],
                }
            ),
            "partitionColumns": ["region"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
            },
        }
    }
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        }
    }

    def write_file(rel, rows, with_ids=True):
        md = (
            lambda fid: {b"PARQUET:field_id": str(fid).encode()}
            if with_ids
            else None
        )
        pq.write_table(
            pa.table(
                {
                    phys["id"]: pa.array([r[0] for r in rows], pa.int64()),
                    phys["qty"]: pa.array([r[1] for r in rows], pa.int64()),
                },
                schema=pa.schema(
                    [
                        pa.field(phys["id"], pa.int64(), metadata=md(1)),
                        pa.field(phys["qty"], pa.int64(), metadata=md(2)),
                    ]
                ),
            ),
            t / rel,
        )

    write_file("fa.parquet", [(1, 10), (2, 20)])
    write_file("fb.parquet", [(3, 30)])
    log = t / "_delta_log"
    log.mkdir()

    def add(path, region):
        return {
            "add": {
                "path": path,
                "partitionValues": {phys["region"]: region},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    (log / f"{0:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [proto, meta, add("fa.parquet", "east"), add("fb.parquet", "west")]
        )
        + "\n"
    )
    r = IW.delta_to_iceberg(spark, str(t))
    got = LF.read_iceberg_snapshot(spark, r["metadata_path"])
    assert got.columns == ["id", "qty", "region"]
    assert sorted((x.id, x.qty, x.region) for x in got.collect()) == [
        (1, 10, "east"),
        (2, 20, "east"),
        (3, 30, "west"),
    ]
    # exported field ids ARE the mapping ids; bounds decode and prune
    m = json.load(open(r["metadata_path"]))
    cur = {s_["schema-id"]: s_ for s_ in m["schemas"]}[m["current-schema-id"]]
    assert {f["name"]: f["id"] for f in cur["fields"]} == ids
    pruned = LF.read_iceberg_snapshot(
        spark, r["metadata_path"], predicate=[("id", ">=", 3)]
    )
    assert pruned.count() == 1
    assert len(pruned.inputFiles()) == 1

    # a physically-renamed file WITHOUT footer ids gates at export
    t2 = tmp_path / "t2"
    t2.mkdir()
    write_file2 = lambda: pq.write_table(  # noqa: E731
        pa.table({phys["id"]: pa.array([9], pa.int64()), phys["qty"]: pa.array([90], pa.int64())}),
        t2 / "fa.parquet",
    )
    write_file2()
    log2 = t2 / "_delta_log"
    log2.mkdir()
    (log2 / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in [proto, meta, add("fa.parquet", "east")])
        + "\n"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="field id"):
        IW.delta_to_iceberg(spark, str(t2))


def test_mapped_reexport_after_schema_evolution(spark, tmp_path):
    """Re-export after Delta schema evolution on a MAPPED table (r9):
    the stable columnMapping ids make the evolved shape a legal new
    schemas[] entry; the pre-evolution export snapshot stays travelable
    under its own schema-id, and the new snapshot reads the added
    column (absent in old files → NULL, Iceberg's evolution rule)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "t"
    t.mkdir()
    phys = {"id": "col-i", "qty": "col-q", "note": "col-n"}
    ids = {"id": 1, "qty": 2, "note": 4}

    def fld(logical, typ="long"):
        return {
            "name": logical,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": ids[logical],
                "delta.columnMapping.physicalName": phys[logical],
            },
        }

    def meta_action(fields, max_id):
        return {
            "metaData": {
                "id": "cm-evo-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": str(max_id),
                },
            }
        }

    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"],
        }
    }

    def write_file(rel, cols):
        fields, arrays = [], {}
        for logical, values in cols.items():
            typ = pa.string() if logical == "note" else pa.int64()
            fields.append(
                pa.field(
                    phys[logical],
                    typ,
                    metadata={b"PARQUET:field_id": str(ids[logical]).encode()},
                )
            )
            arrays[phys[logical]] = pa.array(values, typ)
        pq.write_table(pa.table(arrays, schema=pa.schema(fields)), t / rel)

    def add(path):
        return {
            "add": {
                "path": path,
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }

    write_file("fa.parquet", {"id": [1, 2], "qty": [10, 20]})
    log = t / "_delta_log"
    log.mkdir()
    (log / f"{0:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [proto, meta_action([fld("id"), fld("qty")], 2), add("fa.parquet")]
        )
        + "\n"
    )
    r1 = IW.delta_to_iceberg(spark, str(t))

    # Delta evolution: add a string column (new mapping id), new file
    write_file("fb.parquet", {"id": [3], "qty": [30], "note": ["x"]})
    (log / f"{1:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [
                meta_action([fld("id"), fld("qty"), fld("note", "string")], 4),
                add("fb.parquet"),
            ]
        )
        + "\n"
    )
    r2 = IW.delta_to_iceberg(spark, str(t))
    m = json.load(open(r2["metadata_path"]))
    assert len(m["schemas"]) == 2 and m["current-schema-id"] == 1
    assert m["last-column-id"] == 4
    got = LF.read_iceberg_snapshot(spark, r2["metadata_path"])
    assert got.columns == ["id", "qty", "note"]
    assert sorted((x.id, x.qty, x.note) for x in got.collect()) == [
        (1, 10, None),
        (2, 20, None),
        (3, 30, "x"),
    ]
    # the pre-evolution export still reads under ITS schema shape
    old = LF.read_iceberg_snapshot(
        spark, r2["metadata_path"], snapshot_id=r1["snapshot_id"]
    )
    assert old.columns == ["id", "qty"]
    assert old.count() == 2


def test_mapped_export_with_live_dvs(spark, tmp_path):
    """COLUMN MAPPING × DELETION VECTORS composed through one export
    (VERDICT r9 item 4): a mode-'name' mapped table whose physical-name
    parquet file carries a LIVE DV exports via delta_to_iceberg, the
    DV landing as Iceberg position deletes that reference the SAME
    physically-named file the mapped schema resolves by footer id.
    The Iceberg-side read must equal the Delta-side read exactly
    (exceptAll both ways empty) — the two features share one code
    path (icebergwriter delta_to_iceberg) but no fixture drove them
    together before this."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_json_readr_spark.sources import roaring

    t = tmp_path / "t"
    t.mkdir()
    phys = {"id": "col-i", "qty": "col-q"}
    ids = {"id": 1, "qty": 2}

    def fld(logical):
        return {
            "name": logical,
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": ids[logical],
                "delta.columnMapping.physicalName": phys[logical],
            },
        }

    meta = {
        "metaData": {
            "id": "cm-dv-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": [fld("id"), fld("qty")]}
            ),
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "2",
            },
        }
    }
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping", "deletionVectors"],
            "writerFeatures": ["columnMapping", "deletionVectors"],
        }
    }

    def write_file(rel, rows):
        pq.write_table(
            pa.table(
                {phys["id"]: [r[0] for r in rows], phys["qty"]: [r[1] for r in rows]},
                schema=pa.schema(
                    [
                        pa.field(
                            phys[c],
                            pa.int64(),
                            metadata={b"PARQUET:field_id": str(ids[c]).encode()},
                        )
                        for c in ("id", "qty")
                    ]
                ),
            ),
            t / rel,
        )

    # fa holds ids 1..4; the DV hides positions 0 and 2 (ids 1 and 3)
    write_file("fa.parquet", [(1, 10), (2, 20), (3, 30), (4, 40)])
    write_file("fb.parquet", [(5, 50)])
    (off, size, card) = roaring.write_dv_file(str(t / "dv1.bin"), [[0, 2]])[0]

    def add(path, dv=None):
        a = {
            "path": path,
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    log = t / "_delta_log"
    log.mkdir()
    (log / f"{0:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [
                proto,
                meta,
                add(
                    "fa.parquet",
                    {
                        "storageType": "p",
                        "pathOrInlineDv": "dv1.bin",
                        "offset": off,
                        "sizeInBytes": size,
                        "cardinality": card,
                    },
                ),
                add("fb.parquet"),
            ]
        )
        + "\n"
    )

    delta_side = LF.read_delta_snapshot(spark, str(t)).select("id", "qty")
    assert sorted((x.id, x.qty) for x in delta_side.collect()) == [
        (2, 20),
        (4, 40),
        (5, 50),
    ]

    r = IW.delta_to_iceberg(spark, str(t))
    ice_side = LF.read_iceberg_snapshot(spark, r["metadata_path"]).select(
        "id", "qty"
    )
    assert ice_side.exceptAll(delta_side).count() == 0
    assert delta_side.exceptAll(ice_side).count() == 0

    # the export snapshot carries a content=1 (position deletes)
    # manifest whose delete rows reference the physically-named file
    info = LF.iceberg_snapshot_info(r["metadata_path"])
    ml = list(
        LF._read_avro_records(
            LF._resolve(info["snapshot"]["manifest-list"], str(t))
        )
    )
    del_manifests = [e for e in ml if int(e.get("content") or 0) == 1]
    assert len(del_manifests) == 1
    # mapped predicate pruning still answers through logical names
    pr = LF.read_iceberg_snapshot(
        spark, r["metadata_path"], predicate=[("id", ">=", 5)]
    )
    assert [(x.id, x.qty) for x in pr.collect()] == [(5, 50)]
    # one DATA file opens (the delete parquet rides along by design)
    data_opened = [f for f in pr.inputFiles() if "/delete-" not in f]
    assert len(data_opened) == 1 and data_opened[0].endswith("fb.parquet")


def test_rollback_iceberg(spark, tmp_path):
    """rollback_to_snapshot: ancestor-only, appends a snapshot-log
    entry (spec: the log records every time current changes), read
    side follows the rolled-back current-snapshot-id, and a
    non-ancestor / unknown target refuses."""
    t = tmp_path / "rb"
    sids = []
    for lo in (0, 10, 20):
        r = IW.write_iceberg(
            spark,
            spark.range(lo, lo + 10).select(F.col("id")),
            str(t),
        )
        sids.append(r["snapshot_id"])
    meta = r["metadata_path"]

    out = IW.rollback_iceberg(meta, sids[1])
    got = LF.read_iceberg_snapshot(spark, out["metadata_path"])
    assert got.count() == 20  # third commit rolled back

    mj = LF.iceberg_metadata(out["metadata_path"])
    slog = mj["snapshot-log"]
    assert [e["snapshot-id"] for e in slog] == [sids[0], sids[1], sids[2], sids[1]]
    assert all(
        slog[i]["timestamp-ms"] > slog[i - 1]["timestamp-ms"]
        for i in range(1, len(slog))
    )
    # snapshots list is untouched (rollback orphans, never deletes)
    assert [s["snapshot-id"] for s in mj["snapshots"]] == sids
    # snapshot commit times NOT rewritten by the rollback log entry
    by_sid = {s["snapshot-id"]: s["timestamp-ms"] for s in mj["snapshots"]}
    assert by_sid[sids[1]] < by_sid[sids[2]]

    # the orphaned head is NOT an ancestor anymore but stays readable
    at3 = LF.read_iceberg_snapshot(
        spark, out["metadata_path"], snapshot_id=sids[2]
    )
    assert at3.count() == 30

    # non-ancestor target refuses: sids[2] is no longer on the
    # current parent chain after the rollback
    with pytest.raises(LF.LakeFormatError, match="not an ancestor"):
        IW.rollback_iceberg(out["metadata_path"], sids[2])
    with pytest.raises(LF.LakeFormatError, match="not in metadata"):
        IW.rollback_iceberg(out["metadata_path"], 999999)

    # CONTINUE-AFTER-ROLLBACK (r11 review finding): the next append's
    # log-mirror must keep the rolled-back-to snapshot's ORIGINAL
    # commit time (the rollback added a second log entry for sids[1];
    # last-entry-wins would rewrite t2 → t4 and shift AS OF TIMESTAMP
    # resolution for any instant in (t2, t3))
    t2_before = by_sid[sids[1]]
    r4 = IW.write_iceberg(
        spark, spark.range(100, 105).select(F.col("id")), str(t)
    )
    mj2 = LF.iceberg_metadata(r4["metadata_path"])
    by_sid2 = {s["snapshot-id"]: s["timestamp-ms"] for s in mj2["snapshots"]}
    assert by_sid2[sids[1]] == t2_before
    # time travel between c2 and c3 still resolves to c2
    mid = (by_sid2[sids[1]] + by_sid2[sids[2]]) / 2000.0
    import datetime as _dt

    ts = _dt.datetime.fromtimestamp(mid, tz=_dt.timezone.utc)
    assert LF.iceberg_snapshot_at_timestamp(r4["metadata_path"], ts) == sids[1]


def test_concurrent_two_writer_threads_append(spark, tmp_path):
    """TWO REAL THREADS appending to one Iceberg table (VERDICT r10
    item 5): metadata CAS losers see the committed-concurrently
    LakeFormatError and retry write_iceberg (which re-reads the latest
    metadata version); at the end the metadata version chain is
    linear, the snapshot parent chain is a single line covering every
    commit, sequence numbers are 1..N, and no batch is lost or
    duplicated."""
    import threading

    t = str(tmp_path / "t")
    IW.write_iceberg(
        spark,
        spark.range(0).select(F.lit(0).alias("w"), F.col("id").alias("k")),
        t,
    )
    n_each, errs = 4, []
    barrier = threading.Barrier(2)

    def writer(tag: int) -> None:
        try:
            barrier.wait()
            for i in range(n_each):
                df = spark.range(10).select(
                    F.lit(tag).alias("w"),
                    (F.col("id") + tag * 1000 + i * 10).alias("k"),
                )
                while True:
                    try:
                        IW.write_iceberg(spark, df, t, mode="append")
                        break
                    except LF.LakeFormatError as e:
                        if "concurrently" not in str(e):
                            raise
                        continue  # loser re-reads latest and retries
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    metas = sorted(
        int(p.name.split(".")[0][1:])
        for p in (Path(t) / "metadata").glob("v*.metadata.json")
    )
    assert metas == list(range(1, 2 * n_each + 2))  # linear, no gaps

    latest = str(Path(t) / "metadata" / f"v{metas[-1]}.metadata.json")
    mj = LF.iceberg_metadata(latest)
    snaps = {s["snapshot-id"]: s for s in mj["snapshots"]}
    assert sorted(s["sequence-number"] for s in snaps.values()) == list(
        range(1, 2 * n_each + 2)
    )
    # single linear parent chain from current back to the first commit
    node, depth = snaps[mj["current-snapshot-id"]], 1
    while node.get("parent-snapshot-id") is not None:
        node = snaps[node["parent-snapshot-id"]]
        depth += 1
    assert depth == 2 * n_each + 1

    got = LF.read_iceberg_snapshot(spark, latest)
    assert got.count() == 2 * n_each * 10
    per = {(r.w, r.n) for r in got.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert per == {(1, n_each * 10), (2, n_each * 10)}
    assert got.select("k").distinct().count() == 2 * n_each * 10


def test_bound_encode_binary_gates():
    """r11 fifth review: a fixed(L) bound must be exactly L bytes and a
    binary bound past 16 bytes is omitted (None — this function cannot
    know lower from upper, so it never truncates), not embedded raw."""
    assert IW.encode_iceberg_bound("fixed[16]", b"\x01\x02") is None
    assert IW.encode_iceberg_bound("binary", b"x" * 17) is None
    assert IW.encode_iceberg_bound("binary", b"x" * 16) == b"x" * 16
    assert IW.encode_iceberg_bound("binary", "notbytes") is None


def test_failed_write_leaves_no_staging_dir_and_expire_sweeps(spark, tmp_path):
    """ADVICE r11 both halves on the Iceberg side: (a) an in-process
    Spark job failure mid-stage cleans its `_staging-*` dir; (b) a
    hard-killed writer's orphan (simulated by an old-mtime dir) is
    swept by expire's age-gated janitor pass, while a FRESH dir — a
    live concurrent writer — is never touched."""
    import os

    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    IW.write_iceberg(spark, sup.limit(4), tbl)

    poisoned = sup.withColumn(
        "s_name",
        F.expr(
            "if(s_suppkey >= 0, cast(raise_error('staged job failure') as string), s_name)"
        ),
    )
    with pytest.raises(Exception, match="staged job failure"):
        IW.write_iceberg(spark, poisoned, tbl)
    assert list(Path(tbl).glob("_staging*")) == []

    IW.write_iceberg(spark, sup.limit(3), tbl)
    old = Path(tbl) / "_staging-999-1-deadbeef"
    old.mkdir()
    (old / "part-leftover.parquet").write_bytes(b"x")
    stale_s = (IW.time.time_ns() - 2 * 24 * 3600 * 1_000_000_000) / 1e9
    os.utime(old, (stale_s, stale_s))
    fresh = Path(tbl) / "_staging-999-2-cafebabe"
    fresh.mkdir()

    dry = IW.expire_iceberg_snapshots(_latest_meta(tbl), keep_last=1, dry_run=True)
    assert dry["staging_dirs_swept"] == 1 and old.exists()  # dry run counts only
    aud = IW.expire_iceberg_snapshots(_latest_meta(tbl), keep_last=1)
    assert aud["staging_dirs_swept"] == 1
    assert not old.exists() and fresh.exists()


def test_branch_write_and_fast_forward_wap(spark, tmp_path):
    """r12 WAP primitives (VERDICT r11 item 4): a branch commit moves
    ONLY the refs-map head — main read, current-snapshot-id, and
    snapshot-log stay untouched — and fast_forward publishes it
    atomically; the guard rails (tag target, non-ancestor, new-table
    branch) refuse loudly."""
    import json as _json

    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    a = sup.filter(F.col("s_suppkey") % 2 == 0)
    b = sup.filter(F.col("s_suppkey") % 2 == 1)

    # branch on a brand-new table refuses
    with pytest.raises(LF.LakeFormatError, match="first commit IS"):
        IW.write_iceberg(spark, a, str(tmp_path / "nope"), ref="audit")

    r0 = IW.write_iceberg(spark, a, tbl)
    st = IW.write_iceberg(spark, b, tbl, ref="audit")
    m = _latest_meta(tbl)
    meta = _json.loads(Path(m).read_text())
    # main pointer and log untouched; refs head moved; parent = main head
    assert meta["current-snapshot-id"] == r0["snapshot_id"]
    assert [e["snapshot-id"] for e in meta["snapshot-log"]] == [r0["snapshot_id"]]
    assert meta["refs"]["audit"] == {
        "snapshot-id": st["snapshot_id"],
        "type": "branch",
    }
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    assert snaps[st["snapshot_id"]]["parent-snapshot-id"] == r0["snapshot_id"]
    # staged data invisible to main, visible on the branch
    assert LF.read_iceberg_snapshot(spark, m).count() == a.count()
    assert (
        LF.read_iceberg_snapshot(spark, m, ref="audit").count()
        == a.count() + b.count()
    )

    # publish: one snapshot fast-forwarded, main now sees everything
    pub = IW.fast_forward_iceberg(m, "main", "audit")
    assert pub["published"] == 1
    m2 = pub["metadata_path"]
    assert LF.read_iceberg_snapshot(spark, m2).count() == a.count() + b.count()
    meta2 = _json.loads(Path(m2).read_text())
    assert meta2["current-snapshot-id"] == st["snapshot_id"]
    assert [e["snapshot-id"] for e in meta2["snapshot-log"]] == [
        r0["snapshot_id"],
        st["snapshot_id"],
    ]
    # idempotent re-publish is a no-op (no new metadata version)
    again = IW.fast_forward_iceberg(m2, "main", "audit")
    assert again["published"] == 0 and again["metadata_path"] == m2

    # main moves ahead → the stale branch can no longer fast-forward
    IW.write_iceberg(spark, b.limit(1), tbl)
    m3 = _latest_meta(tbl)
    with pytest.raises(LF.LakeFormatError, match="not an ancestor"):
        IW.fast_forward_iceberg(m3, "main", "audit")

    # tags refuse as write and fast-forward targets
    IW.set_iceberg_ref(m3, "pin", ref_type="tag")
    m4 = _latest_meta(tbl)
    with pytest.raises(LF.LakeFormatError, match="tags are immutable"):
        IW.write_iceberg(spark, b, tbl, ref="pin")
    with pytest.raises(LF.LakeFormatError, match="only.*branches fast-forward"):
        IW.fast_forward_iceberg(m4, "pin", "audit")


def test_wap_guard_rails_r12_review(spark, tmp_path):
    """r12 review findings on the WAP loop, pinned: (1) a stale
    explicit refs['main'] entry must NOT defeat the non-ancestor
    guard (fast_forward resolves main from current-snapshot-id,
    never the refs map); (2) ref='main' writes refuse (they would be
    invisible to main readers); (3) expire's recency window counts
    MAIN-ancestor snapshots only, so staged branch commits can't push
    the current snapshot out of its own window and block
    maintenance."""
    tbl = str(tmp_path / "t")
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    a = sup.filter(F.col("s_suppkey") % 2 == 0)
    b = sup.filter(F.col("s_suppkey") % 2 == 1)

    r0 = IW.write_iceberg(spark, a, tbl)
    # (2) ref='main' refuses
    with pytest.raises(LF.LakeFormatError, match="write without ref="):
        IW.write_iceberg(spark, b, tbl, ref="main")

    # (1) plant an explicit (soon stale) main ref at S0, stage a
    # branch off it, then advance main — the branch head's chain
    # contains refs['main'] (S0) but NOT the real main head
    IW.set_iceberg_ref(r0["metadata_path"], "main", ref_type="branch")
    IW.write_iceberg(spark, b.limit(2), tbl, ref="audit")
    IW.write_iceberg(spark, b.limit(1), tbl)  # real main moves to S3
    m = _latest_meta(tbl)
    with pytest.raises(LF.LakeFormatError, match="not an ancestor"):
        IW.fast_forward_iceberg(m, "main", "audit")

    # (3) a fresh table whose audit branch holds keep_last staged
    # commits: expire must still succeed and keep the current snapshot
    tbl2 = str(tmp_path / "t2")
    IW.write_iceberg(spark, a, tbl2)
    r1 = IW.write_iceberg(spark, b.limit(3), tbl2)
    IW.write_iceberg(spark, b.limit(2), tbl2, ref="audit")
    IW.write_iceberg(spark, b.limit(1), tbl2, ref="audit")
    m2 = _latest_meta(tbl2)
    aud = IW.expire_iceberg_snapshots(m2, keep_last=1)
    # main's older first snapshot expired; current + ref-protected
    # branch head survive
    assert aud["snapshots_expired"] >= 1
    assert LF.read_iceberg_snapshot(spark, aud["metadata_path"]).count() == (
        a.count() + 3
    )
    # the branch rooted at main's head (a+3) and staged 2 then 1 rows
    assert (
        LF.read_iceberg_snapshot(
            spark, aud["metadata_path"], ref="audit"
        ).count()
        == a.count() + 3 + 2 + 1
    )
    assert r1["snapshot_id"] is not None
