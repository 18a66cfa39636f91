"""Write-path bridge keys (SURVEY §2 F13–F21): the native Delta /
Iceberg WRITERS (sources/deltawriter.py, sources/icebergwriter.py)
proven end-to-end through the INDEPENDENT read bridges, with pure-SQL
oracles over the source tables.

Each key derives a deterministic slice of a standard table, writes /
mutates a Delta table with the writer under test, reads the result
back through ``lakeformats.read_delta_snapshot`` (which never saw the
writer's internals), and rolls it up.  The oracle recomputes the SAME
rollup straight from the source parquet in DuckDB — the written table
is never its own oracle — plus CLOSED-FORM physical-layout evidence
(file counts from the colocate/maxRecordsPerFile contract, DV
cardinalities from the delete predicate) so a layout regression fails
the hash even when the data happens to round-trip.

Tables build on demand under ``tests/fixtures/lake/_rt`` (gitignored),
atomically, keyed on (version, sf_dir) — rebuilt only when stale, so
bench steady-state measures the READ path."""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import prep
from ..sources import deltawriter as DW
from ..sources import lakeformats as LF
from ..sources import staging
from ..sources.tables import load

RT_ROOT = Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "lake" / "_rt"
_WVERSION = "5"  # bump to rebuild the _rt tables after writer changes

# money convention (plans/tpch.py docstring): decimal-exact sums,
# rendered double through a string round-trip on the DuckDB side


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


_DSUM = "CAST(CAST(sum(CAST({c} AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"


def _rt_dir(name: str, sf_dir: str) -> Path:
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return RT_ROOT / f"{name}-{tag}"


def _ensure(name: str, sf_dir: str, build) -> Path:
    """``build(table_dir)`` authors the table once; the marker pins
    (writer version, sf_dir) so a stale or foreign-sf build is
    replaced wholesale."""
    return staging.publish_dir(
        _rt_dir(name, sf_dir),
        "_RT_READY",
        f"{_WVERSION}\n{os.path.abspath(sf_dir)}",
        lambda tmp: build(str(tmp)),
    )


# ---------------------------------------------------------------- F13


def delta_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two appended commits (orders slices, partitioned by priority)
    written by the native writer, read back AT BOTH VERSIONS through
    the read bridge — per-priority rollups must equal SQL straight off
    the source parquet, and the physical evidence must equal the
    colocate contract's closed form: files_total(v) = Σ distinct
    priorities per commit (one file per partition value per commit),
    files_kept = files surviving a priority-equality predicate via the
    writer's OWN footer-derived stats/partitionValues."""
    prep(spark)
    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        a = orders.filter(F.col("o_orderkey") % 7 == 0)
        b = orders.filter(F.col("o_orderkey") % 7 == 3)
        DW.write_delta(spark, a, tbl, partition_by=["o_orderpriority"])
        DW.write_delta(spark, b, tbl, partition_by=["o_orderpriority"])

    tbl = str(_ensure("wrt_orders", sf_dir, build))
    pred = [("o_orderpriority", "=", "1-URGENT")]
    outs = []
    for v in (0, 1):
        snap = LF.delta_snapshot(tbl, version=v)
        kept, _skipped = LF.prune_delta_files(snap, pred)
        df = LF.read_delta_snapshot(spark, tbl, version=v)
        outs.append(
            df.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .select(
                F.lit(v).cast("int").alias("snapshot_version"),
                "*",
                F.lit(len(snap["files"])).cast("int").alias("files_total"),
                F.lit(len(kept)).cast("int").alias("files_kept_urgent"),
            )
        )
    return outs[0].unionByName(outs[1])


def _delta_write_roundtrip_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH a AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0),
b AS (SELECT * FROM orders WHERE o_orderkey % 7 = 3),
versions AS (
  SELECT 0 AS snapshot_version, * FROM a
  UNION ALL SELECT 1, * FROM a
  UNION ALL SELECT 1, * FROM b
),
fa AS (SELECT count(DISTINCT o_orderpriority) AS n,
              count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                                  THEN o_orderpriority END) AS u FROM a),
fb AS (SELECT count(DISTINCT o_orderpriority) AS n,
              count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                                  THEN o_orderpriority END) AS u FROM b),
files AS (
  SELECT 0 AS v, (SELECT n FROM fa) AS files_total,
         (SELECT u FROM fa) AS files_kept
  UNION ALL
  SELECT 1, (SELECT n FROM fa) + (SELECT n FROM fb),
         (SELECT u FROM fa) + (SELECT u FROM fb)
)
SELECT
  CAST(v.snapshot_version AS INTEGER) AS snapshot_version,
  v.o_orderpriority,
  count(*) AS n_rows,
  {s} AS sum_price,
  min(v.o_orderkey) AS min_key,
  max(v.o_orderkey) AS max_key,
  CAST(f.files_total AS INTEGER) AS files_total,
  CAST(f.files_kept AS INTEGER) AS files_kept_urgent
FROM versions v JOIN files f ON f.v = v.snapshot_version
GROUP BY v.snapshot_version, v.o_orderpriority, f.files_total, f.files_kept
"""


# ---------------------------------------------------------------- F14


def _cust_del_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Customer partitioned by c_mktsegment + a DV DELETE of
    c_acctbal < 0 — ONE fixture shared by F14 (DV write/read) and F48
    (files-table rollup), so the runtime never authors the same table
    twice."""
    cust = load(spark, sf_dir, "customer")

    def build(tbl: str) -> None:
        DW.write_delta(spark, cust, tbl, partition_by=["c_mktsegment"])
        DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])

    return str(_ensure("wrt_cust_del", sf_dir, build))


def delta_delete_dv_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE c_acctbal < 0 executed as WRITTEN deletion vectors
    (executor-encoded roaring bitmaps, protocol 3/7 upgrade), read back
    through the bridge's DV anti-join.  Per-segment evidence is
    closed-form from the predicate alone: a segment's single file
    carries a DV iff it holds both deleted and surviving rows, with
    cardinality = its deleted-row count; a fully-deleted file would
    leave the table (and the rollup) entirely."""
    prep(spark)
    tbl = _cust_del_fixture(spark, sf_dir)
    snap = LF.delta_snapshot(tbl)
    evidence = [
        (
            f["partitionValues"]["c_mktsegment"],
            1 if f.get("deletionVector") else 0,
            int((f.get("deletionVector") or {}).get("cardinality", 0)),
        )
        for f in snap["files"]
    ]
    ev = spark.createDataFrame(
        evidence, "c_mktsegment string, has_dv int, dv_cardinality int"
    )
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .join(F.broadcast(ev), "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_rows",
            "sum_acctbal",
            "min_key",
            "max_key",
            "has_dv",
            "dv_cardinality",
        )
    )


def _delta_delete_dv_write_sql() -> str:
    s = _DSUM.format(c="c_acctbal")
    return f"""
WITH per AS (
  SELECT c_mktsegment,
         count(*) FILTER (WHERE NOT (c_acctbal < 0)) AS n_surv,
         count(*) FILTER (WHERE c_acctbal < 0) AS n_del
  FROM customer GROUP BY c_mktsegment
)
SELECT
  c.c_mktsegment,
  count(*) AS n_rows,
  {s} AS sum_acctbal,
  min(c.c_custkey) AS min_key,
  max(c.c_custkey) AS max_key,
  CAST(CASE WHEN p.n_del > 0 AND p.n_surv > 0 THEN 1 ELSE 0 END AS INTEGER)
    AS has_dv,
  CAST(CASE WHEN p.n_surv > 0 THEN p.n_del ELSE 0 END AS INTEGER)
    AS dv_cardinality
FROM customer c JOIN per p USING (c_mktsegment)
WHERE NOT (c.c_acctbal < 0) AND p.n_surv > 0
GROUP BY c.c_mktsegment, p.n_del, p.n_surv
"""


# ---------------------------------------------------------------- F15


def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (update-matched + insert-unmatched) through the
    copy-on-write writer: updates bump matched orders' totalprice by
    +100, inserts add a disjoint key slice.  The read-back rollup must
    equal the SQL merge recomputed from source, and files_rewritten
    must equal the closed form — the number of distinct priorities
    holding a matched key (one file per priority at v0, and MERGE may
    only rewrite files that contain a match)."""
    prep(spark)
    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        base = orders.filter(F.col("o_orderkey") % 5 <= 2)
        updates = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        )
        inserts = orders.filter(F.col("o_orderkey") % 5 == 3)
        DW.write_delta(spark, base, tbl, partition_by=["o_orderpriority"])
        aud = DW.merge_delta(
            spark, tbl, updates.unionByName(inserts), on=["o_orderkey"]
        )
        (Path(tbl) / "_RT_MERGE_AUDIT").write_text(str(aud["files_rewritten"]))

    tbl = str(_ensure("wrt_orders_merge", sf_dir, build))
    rewritten = int((Path(tbl) / "_RT_MERGE_AUDIT").read_text())
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .withColumn("files_rewritten", F.lit(rewritten).cast("int"))
    )


def _delta_merge_upsert_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 5 <= 2),
merged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM base
  UNION ALL
  SELECT * FROM orders WHERE o_orderkey % 5 = 3
),
touched AS (
  SELECT count(DISTINCT o_orderpriority) AS n FROM base
  WHERE o_orderkey % 3 = 0
)
SELECT
  o_orderpriority,
  count(*) AS n_rows,
  {s} AS sum_price,
  min(o_orderkey) AS min_key,
  max(o_orderkey) AS max_key,
  CAST((SELECT n FROM touched) AS INTEGER) AS files_rewritten
FROM merged
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------- F16


def delta_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE over a deliberately fragmented table (maxRecordsPerFile
    = 200 at write) — compaction must be INVISIBLE to the rollup
    (dataChange=false, same rows) while the file counts move from the
    write layout's closed form, ceil(rows/200) per returnflag, to one
    file per flag."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")

    def build(tbl: str) -> None:
        frag = li.filter(F.col("l_orderkey") % 11 == 0)
        DW.write_delta(
            spark,
            frag,
            tbl,
            partition_by=["l_returnflag"],
            max_records_per_file=200,
        )
        DW.optimize_delta(spark, tbl)

    tbl = str(_ensure("wrt_li_opt", sf_dir, build))
    before = LF.delta_snapshot(tbl, version=0)["files"]
    after = LF.delta_snapshot(tbl)["files"]
    counts_before: dict[str, int] = {}
    for f in before:
        flag = f["partitionValues"]["l_returnflag"]
        counts_before[flag] = counts_before.get(flag, 0) + 1
    counts_after: dict[str, int] = {}
    for f in after:
        flag = f["partitionValues"]["l_returnflag"]
        counts_after[flag] = counts_after.get(flag, 0) + 1
    ev = spark.createDataFrame(
        [
            (flag, counts_before[flag], counts_after.get(flag, 0))
            for flag in counts_before
        ],
        "l_returnflag string, files_before int, files_after int",
    )
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
        .join(F.broadcast(ev), "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "sum_qty",
            "sum_price",
            "files_before",
            "files_after",
        )
    )


def _delta_optimize_compact_sql() -> str:
    sq = _DSUM.format(c="l_quantity")
    sp = _DSUM.format(c="l_extendedprice")
    return f"""
WITH frag AS (SELECT * FROM lineitem WHERE l_orderkey % 11 = 0)
SELECT
  l_returnflag,
  count(*) AS n_rows,
  {sq} AS sum_qty,
  {sp} AS sum_price,
  CAST(CEIL(count(*) / 200.0) AS INTEGER) AS files_before,
  CAST(1 AS INTEGER) AS files_after
FROM frag
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------- F17


def iceberg_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two appended snapshots (supplier slices, identity-partitioned by
    nation) authored by the NATIVE Iceberg writer — metadata.json,
    avro manifests with Appendix-D bounds, manifest list with
    partition field summaries — and read back through the independent
    bridge at both snapshots.  Evidence: files under a suppkey bounds
    predicate, closed-form = (commit, nation) groups whose min
    suppkey admits the probe (one file per nation per commit by the
    colocate contract; the bounds pruned are the WRITER's own
    footer-derived Appendix-D encodings)."""
    prep(spark)
    from ..sources import icebergwriter as IW

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        a = sup.filter(F.col("s_suppkey") % 3 != 2)
        b = sup.filter(F.col("s_suppkey") % 3 == 2)
        IW.write_iceberg(spark, a, tbl, partition_by=["s_nationkey"])
        IW.write_iceberg(spark, b, tbl, partition_by=["s_nationkey"])

    root = _ensure("wrt_ice_supplier", sf_dir, build)
    # numeric sort: lexicographic v-glob puts v9 after v10
    meta = max(
        (root / "table" / "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    full = LF.read_iceberg_snapshot(spark, str(meta))
    pred = [("s_suppkey", "<", 20)]
    pruned = LF.read_iceberg_snapshot(spark, str(meta), predicate=pred)
    files_total = len(full.inputFiles())
    files_kept = len(pruned.inputFiles())
    outs = []
    for sid in (1, 2):
        df = LF.read_iceberg_snapshot(spark, str(meta), sid)
        outs.append(
            df.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(_dec("s_acctbal")).cast("double").alias("sum_acctbal"),
                F.min("s_suppkey").alias("min_key"),
                F.max("s_suppkey").alias("max_key"),
            )
            .select(
                F.lit(sid).cast("int").alias("snapshot_seq"),
                "*",
                F.lit(files_total).cast("int").alias("files_total"),
                F.lit(files_kept).cast("int").alias("files_kept_lt20"),
            )
        )
    return outs[0].unionByName(outs[1])


def _iceberg_write_roundtrip_sql() -> str:
    s = _DSUM.format(c="s_acctbal")
    return f"""
WITH a AS (SELECT * FROM supplier WHERE s_suppkey % 3 <> 2),
b AS (SELECT * FROM supplier WHERE s_suppkey % 3 = 2),
versions AS (
  SELECT 1 AS snap, * FROM a
  UNION ALL SELECT 2, * FROM a
  UNION ALL SELECT 2, * FROM b
),
gf AS (
  SELECT s_nationkey, min(s_suppkey) AS mn FROM a GROUP BY s_nationkey
  UNION ALL
  SELECT s_nationkey, min(s_suppkey) FROM b GROUP BY s_nationkey
),
ev AS (
  SELECT count(*) AS files_total,
         count(*) FILTER (WHERE mn < 20) AS files_kept
  FROM gf
)
SELECT
  CAST(v.snap AS INTEGER) AS snapshot_seq,
  v.s_nationkey,
  count(*) AS n_rows,
  {s} AS sum_acctbal,
  min(v.s_suppkey) AS min_key,
  max(v.s_suppkey) AS max_key,
  CAST((SELECT files_total FROM ev) AS INTEGER) AS files_total,
  CAST((SELECT files_kept FROM ev) AS INTEGER) AS files_kept_lt20
FROM versions v
GROUP BY v.snap, v.s_nationkey
"""


# ---------------------------------------------------------------- F18


def delta_cdc_write_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop CLOSED writer-to-reader: a CDF-enabled table takes
    a MERGE (update_preimage/update_postimage pairs + inserts) and a
    DV DELETE (row-level deletes), each commit WRITING _change_data
    files; `read_delta_changes` over the range must return exactly the
    row-level feed SQL derives from the source slices — no whole-file
    churn, no DV gate.  This is the end-to-end CDC contract a
    downstream incremental consumer relies on."""
    prep(spark)
    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        base = orders.filter(F.col("o_orderkey") % 5 <= 2)
        updates = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        )
        inserts = orders.filter(F.col("o_orderkey") % 5 == 3)
        DW.write_delta(
            spark,
            base,
            tbl,
            partition_by=["o_orderpriority"],
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        DW.merge_delta(spark, tbl, updates.unionByName(inserts), on=["o_orderkey"])
        DW.delete_delta(spark, tbl, [("o_totalprice", "<", 5000.0)])

    tbl = str(_ensure("wrt_orders_cdc", sf_dir, build))
    ch = LF.read_delta_changes(spark, tbl, 1, 2)
    return ch.groupBy("_commit_version", "_change_type", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def _delta_cdc_write_read_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 5 <= 2),
upd_pre AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
upd_post AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM upd_pre
),
ins AS (SELECT * FROM orders WHERE o_orderkey % 5 = 3),
merged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM base
  UNION ALL SELECT * FROM ins
),
changes AS (
  SELECT 1 AS _commit_version, 'update_preimage' AS _change_type, * FROM upd_pre
  UNION ALL SELECT 1, 'update_postimage', * FROM upd_post
  UNION ALL SELECT 1, 'insert', * FROM ins
  UNION ALL SELECT 2, 'delete', * FROM merged WHERE o_totalprice < 5000.0
)
SELECT
  CAST(_commit_version AS BIGINT) AS _commit_version,
  _change_type,
  o_orderpriority,
  count(*) AS n_rows,
  {s} AS sum_price,
  min(o_orderkey) AS min_key,
  max(o_orderkey) AS max_key
FROM changes
GROUP BY _commit_version, _change_type, o_orderpriority
"""


# ---------------------------------------------------------------- F19


def delta_restore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION as a new commit: append, append, DV-delete,
    then restore to the pre-delete version — the latest read must
    equal the full source again (DV'd files re-added as their clean
    entries, fully-deleted files resurrected), history stays
    readable, and files_added equals the closed form: the (commit,
    segment) files the delete had touched (≥1 matching row each)."""
    prep(spark)
    cust = load(spark, sf_dir, "customer")

    def build(tbl: str) -> None:
        a = cust.filter(F.col("c_custkey") % 2 == 0)
        b = cust.filter(F.col("c_custkey") % 2 == 1)
        DW.write_delta(spark, a, tbl, partition_by=["c_mktsegment"])
        DW.write_delta(spark, b, tbl, partition_by=["c_mktsegment"])
        DW.delete_delta(spark, tbl, [("c_acctbal", "<", 500.0)])
        aud = DW.restore_delta(tbl, 1)
        (Path(tbl) / "_RT_RESTORE_AUDIT").write_text(
            f"{aud['files_added']} {aud['files_removed']} {aud['version']}"
        )

    tbl = str(_ensure("wrt_cust_restore", sf_dir, build))
    added, removed, ver = (
        int(x) for x in (Path(tbl) / "_RT_RESTORE_AUDIT").read_text().split()
    )
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
        .select(
            "c_mktsegment",
            "n_rows",
            "sum_acctbal",
            F.lit(ver).cast("int").alias("table_version"),
            F.lit(added).cast("int").alias("files_readded"),
            F.lit(removed).cast("int").alias("files_removed"),
        )
    )


def _delta_restore_read_sql() -> str:
    s = _DSUM.format(c="c_acctbal")
    return f"""
WITH slices AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS commit_no, *
  FROM customer
),
touched AS (
  SELECT commit_no, c_mktsegment
  FROM slices GROUP BY commit_no, c_mktsegment
  HAVING count(*) FILTER (WHERE c_acctbal < 500.0) > 0
),
ev AS (SELECT count(*) AS files_readded FROM touched)
SELECT
  c_mktsegment,
  count(*) AS n_rows,
  {s} AS sum_acctbal,
  CAST(3 AS INTEGER) AS table_version,
  CAST((SELECT files_readded FROM ev) AS INTEGER) AS files_readded,
  CAST(0 AS INTEGER) AS files_removed
FROM customer
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- F20


def delta_sorted_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE with sort_by — the clustering rewrite that makes
    stats-based skipping BITE: a fragmented, unsorted lineitem slice
    rewrites with rows sorted on l_orderkey inside each returnflag
    partition (maxRecordsPerFile slicing the sorted run), after which
    a range probe through the bridge's own skipping opens exactly
    ceil(matching_rows/200) files per flag — closed-form, because each
    file covers a contiguous key range.  The rollup under the probe
    must equal source SQL; the file evidence must equal the formula."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    K = 20000

    def build(tbl: str) -> None:
        frag = li.filter(F.col("l_orderkey") % 11 == 0)
        DW.write_delta(
            spark,
            frag,
            tbl,
            partition_by=["l_returnflag"],
            max_records_per_file=200,
        )
        DW.optimize_delta(
            spark, tbl, sort_by=["l_orderkey"], max_records_per_file=200
        )

    tbl = str(_ensure("wrt_li_sorted", sf_dir, build))
    snap = LF.delta_snapshot(tbl)
    pred = [("l_orderkey", "<", K)]
    kept, _ = LF.prune_delta_files(snap, pred)
    df = LF.read_delta_snapshot(spark, tbl, predicate=pred)
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
        .select(
            "*",
            F.lit(len(snap["files"])).cast("int").alias("files_total"),
            F.lit(len(kept)).cast("int").alias("files_kept"),
        )
    )


def _delta_sorted_rewrite_sql() -> str:
    s = _DSUM.format(c="l_quantity")
    return f"""
WITH frag AS (SELECT * FROM lineitem WHERE l_orderkey % 11 = 0),
per_flag AS (
  SELECT l_returnflag,
         count(*) AS n_all,
         count(*) FILTER (WHERE l_orderkey < 20000) AS n_lt
  FROM frag GROUP BY l_returnflag
),
ev AS (
  SELECT CAST(sum(CEIL(n_all / 200.0)) AS INTEGER) AS files_total,
         CAST(sum(CEIL(n_lt / 200.0)) AS INTEGER) AS files_kept
  FROM per_flag
)
SELECT
  l_returnflag,
  count(*) AS n_rows,
  {s} AS sum_qty,
  min(l_orderkey) AS min_key,
  max(l_orderkey) AS max_key,
  (SELECT files_total FROM ev) AS files_total,
  (SELECT files_kept FROM ev) AS files_kept
FROM frag
WHERE l_orderkey < 20000
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------- F21


def delta_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM completes the write-path lifecycle: after an OVERWRITE
    makes commit-0's files tombstones, a zero-retention vacuum at a
    far-future clock deletes exactly those files (the mtime safety
    rule — live files and young files never go) while the latest read
    is untouched.  files_deleted has a closed form: one file per
    segment present in the ORIGINAL table (the colocate layout)."""
    prep(spark)
    cust = load(spark, sf_dir, "customer")

    def build(tbl: str) -> None:
        DW.write_delta(spark, cust, tbl, partition_by=["c_mktsegment"])
        sub = cust.filter(F.col("c_custkey") % 2 == 0)
        DW.write_delta(
            spark, sub, tbl, mode="overwrite", partition_by=["c_mktsegment"]
        )
        aud = DW.vacuum_delta(tbl, retention_ms=0, now_ms=10**15)
        (Path(tbl) / "_RT_VACUUM_AUDIT").write_text(
            f"{aud['files_deleted']} {aud['files_live']}"
        )

    tbl = str(_ensure("wrt_cust_vacuum", sf_dir, build))
    deleted, live = (
        int(x) for x in (Path(tbl) / "_RT_VACUUM_AUDIT").read_text().split()
    )
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
        .select(
            "*",
            F.lit(deleted).cast("int").alias("files_vacuumed"),
            F.lit(live).cast("int").alias("files_live"),
        )
    )


def _delta_vacuum_audit_sql() -> str:
    s = _DSUM.format(c="c_acctbal")
    return f"""
WITH sub AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
ev AS (
  SELECT (SELECT count(DISTINCT c_mktsegment) FROM customer) AS files_vacuumed,
         (SELECT count(DISTINCT c_mktsegment) FROM sub) AS files_live
)
SELECT
  c_mktsegment,
  count(*) AS n_rows,
  {s} AS sum_acctbal,
  CAST((SELECT files_vacuumed FROM ev) AS INTEGER) AS files_vacuumed,
  CAST((SELECT files_live FROM ev) AS INTEGER) AS files_live
FROM sub
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- F22


def iceberg_delete_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 POSITION-DELETE WRITE: the native writer authors a
    delete parquet + delete manifest + new snapshot (next sequence
    number), and the independent bridge's anti-join must return
    exactly the SQL survivors — while the pre-delete snapshot still
    reads whole.  Evidence: positions_written equals the SQL deleted
    count; the table ends at exactly two snapshots."""
    prep(spark)
    from ..sources import icebergwriter as IW

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(spark, sup, tbl, partition_by=["s_nationkey"])
        meta = max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
        aud = IW.delete_iceberg(spark, str(meta), [("s_acctbal", "<", 3000.0)])
        (Path(root) / "_RT_DEL_AUDIT").write_text(str(aud["positions_written"]))

    root = _ensure("wrt_ice_del", sf_dir, build)
    deleted = int((root / "_RT_DEL_AUDIT").read_text())
    meta = max(
        (root / "table" / "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    info = LF.iceberg_snapshot_info(str(meta))
    n_snaps = len(info["metadata"]["snapshots"])
    df = LF.read_iceberg_snapshot(spark, str(meta))
    return (
        df.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("s_acctbal")).cast("double").alias("sum_acctbal"),
            F.min("s_suppkey").alias("min_key"),
        )
        .select(
            "*",
            F.lit(deleted).cast("int").alias("positions_deleted"),
            F.lit(n_snaps).cast("int").alias("n_snapshots"),
        )
    )


def _iceberg_delete_write_sql() -> str:
    s = _DSUM.format(c="s_acctbal")
    return f"""
WITH surv AS (SELECT * FROM supplier WHERE NOT (s_acctbal < 3000.0)),
ev AS (SELECT count(*) AS deleted FROM supplier WHERE s_acctbal < 3000.0)
SELECT
  s_nationkey,
  count(*) AS n_rows,
  {s} AS sum_acctbal,
  min(s_suppkey) AS min_key,
  CAST((SELECT deleted FROM ev) AS INTEGER) AS positions_deleted,
  CAST(2 AS INTEGER) AS n_snapshots
FROM surv
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------- F23


def iceberg_expire_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPIRE SNAPSHOTS — the Iceberg maintenance twin of VACUUM:
    after two appends and a position delete, keep_last=1 drops the two
    history snapshots, deletes the files reachable ONLY from them
    (exactly the two superseded manifest LISTS — the data files and
    manifests are shared with the survivor and must stay), and the
    current read is untouched while expired snapshots gate loudly.
    files_deleted's closed form is literal: 2."""
    prep(spark)
    from ..sources import icebergwriter as IW

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        a = sup.filter(F.col("s_suppkey") % 2 == 0)
        b = sup.filter(F.col("s_suppkey") % 2 == 1)
        IW.write_iceberg(spark, a, tbl, partition_by=["s_nationkey"])
        IW.write_iceberg(spark, b, tbl, partition_by=["s_nationkey"])
        meta = max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
        IW.delete_iceberg(spark, str(meta), [("s_acctbal", "<", 3000.0)])
        meta = max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
        aud = IW.expire_iceberg_snapshots(str(meta), keep_last=1)
        (Path(root) / "_RT_EXPIRE_AUDIT").write_text(
            f"{aud['snapshots_expired']} {aud['files_deleted']}"
        )

    root = _ensure("wrt_ice_expire", sf_dir, build)
    expired, fdeleted = (
        int(x) for x in (root / "_RT_EXPIRE_AUDIT").read_text().split()
    )
    meta = max(
        (root / "table" / "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    df = LF.read_iceberg_snapshot(spark, str(meta))
    return (
        df.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("s_acctbal")).cast("double").alias("sum_acctbal"),
        )
        .select(
            "*",
            F.lit(expired).cast("int").alias("snapshots_expired"),
            F.lit(fdeleted).cast("int").alias("files_deleted"),
        )
    )


def _iceberg_expire_audit_sql() -> str:
    s = _DSUM.format(c="s_acctbal")
    return f"""
WITH surv AS (SELECT * FROM supplier WHERE NOT (s_acctbal < 3000.0))
SELECT
  s_nationkey,
  count(*) AS n_rows,
  {s} AS sum_acctbal,
  CAST(2 AS INTEGER) AS snapshots_expired,
  CAST(2 AS INTEGER) AS files_deleted
FROM surv
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------- F24


def delta_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA in place — the migration path: a plain
    Hive-partitioned parquet directory (written by the ordinary
    parquet sink) becomes a transactional, file-skippable Delta table
    without moving a byte; commit 0 catalogs every file with
    footer-derived stats.  The key then proves the table is LIVE: an
    appended commit 1 lands transactionally on top.  Evidence:
    rows_cataloged equals the SQL count, and an impossible stats
    predicate prunes the ENTIRE converted file list (the stats are
    real, not placeholders)."""
    prep(spark)
    from .. import sinks

    orders = load(spark, sf_dir, "orders")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        a = orders.filter(F.col("o_orderkey") % 3 == 0)
        sinks.write_partitioned(a, tbl, ["o_orderpriority"])
        aud = DW.convert_to_delta(
            tbl, orders.schema, partition_by=["o_orderpriority"]
        )
        DW.write_delta(
            spark,
            orders.filter(F.col("o_orderkey") % 3 == 1),
            tbl,
            partition_by=["o_orderpriority"],
        )
        (Path(root) / "_RT_CONVERT_AUDIT").write_text(
            str(aud["rows_cataloged"])
        )

    root = _ensure("wrt_orders_convert", sf_dir, build)
    cataloged = int((root / "_RT_CONVERT_AUDIT").read_text())
    tbl = str(root / "table")
    snap = LF.delta_snapshot(tbl)
    kept_impossible, _ = LF.prune_delta_files(
        snap, [("o_totalprice", ">", 1e15)]
    )
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
        )
        .select(
            "*",
            F.lit(cataloged).cast("int").alias("rows_cataloged"),
            F.lit(len(kept_impossible)).cast("int").alias("files_kept_impossible"),
        )
    )


def _delta_convert_in_place_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH merged AS (
  SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1)
),
ev AS (SELECT count(*) AS cataloged FROM orders WHERE o_orderkey % 3 = 0)
SELECT
  o_orderpriority,
  count(*) AS n_rows,
  {s} AS sum_price,
  min(o_orderkey) AS min_key,
  CAST((SELECT cataloged FROM ev) AS INTEGER) AS rows_cataloged,
  CAST(0 AS INTEGER) AS files_kept_impossible
FROM merged
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------- F25


def delta_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on append (merge_schema): commit 0 writes
    orders WITHOUT o_orderpriority; commit 1 appends the full shape —
    the column joins the schema via a metaData action, NO data file
    rewrites, and the evolved read returns NULL priority for every
    commit-0 row (the read path scans old files with the evolved
    schema).  Time travel to v0 keeps the old schema (pinned by unit
    test); the rollup's NULL group is the proof the evolution is
    metadata-only."""
    prep(spark)
    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        a = orders.filter(F.col("o_orderkey") % 3 == 0).drop("o_orderpriority")
        b = orders.filter(F.col("o_orderkey") % 3 == 1)
        DW.write_delta(spark, a, tbl, partition_by=["o_orderstatus"])
        DW.write_delta(
            spark, b, tbl, partition_by=["o_orderstatus"], merge_schema=True
        )

    tbl = str(_ensure("wrt_orders_evolve", sf_dir, build))
    df = LF.read_delta_snapshot(spark, tbl)
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def _schema_evolution_read_sql() -> str:
    """The oracle of both schema-evolution keys (Delta and Iceberg):
    the same two appends, the second adding o_orderpriority, so rows
    of the first read it back as NULL."""
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH rows_all AS (
  SELECT o_orderstatus, CAST(NULL AS VARCHAR) AS o_orderpriority,
         o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderstatus, o_orderpriority, o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 1
)
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*) AS n_rows,
  {s} AS sum_price,
  min(o_orderkey) AS min_key,
  max(o_orderkey) AS max_key
FROM rows_all
GROUP BY o_orderstatus, o_orderpriority
"""


# ---------------------------------------------------------------- F26


def delta_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY — the MULTI-column clustering rewrite: a
    fragmented lineitem slice rewrites with rows ordered on the
    interleaved Z-value of (l_orderkey, l_suppkey) inside each
    returnflag partition, after which range probes on BOTH dimensions
    prune through the bridge's own footer-stats skipping — the
    property a single-key sort can never give the second column.  The
    evidence triple (files_total, files_kept under an l_orderkey
    probe, files_kept under an l_suppkey probe) is a CLOSED FORM the
    oracle replays end-to-end in SQL: same proportional buckets, same
    bit interleave, same (z, key) ordering, same 200-row slicing —
    so a drifted bucket formula or a broken interleave fails the hash
    even when the data round-trips."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    K_OKEY, K_SKEY = 15000, 13

    def build(tbl: str) -> None:
        frag = li.filter(F.col("l_orderkey") % 7 == 0)
        DW.write_delta(
            spark,
            frag,
            tbl,
            partition_by=["l_returnflag"],
            max_records_per_file=200,
        )
        DW.optimize_delta(
            spark,
            tbl,
            zorder_by=["l_orderkey", "l_suppkey"],
            max_records_per_file=200,
        )

    tbl = str(_ensure("wrt_li_zorder", sf_dir, build))
    snap = LF.delta_snapshot(tbl)
    kept_o, _ = LF.prune_delta_files(snap, [("l_orderkey", "<", K_OKEY)])
    kept_s, _ = LF.prune_delta_files(snap, [("l_suppkey", "<", K_SKEY)])
    df = LF.read_delta_snapshot(
        spark, tbl, predicate=[("l_orderkey", "<", K_OKEY)]
    )
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .select(
            "*",
            F.lit(len(snap["files"])).cast("int").alias("files_total"),
            F.lit(len(kept_o)).cast("int").alias("files_kept_okey"),
            F.lit(len(kept_s)).cast("int").alias("files_kept_skey"),
        )
    )


def _delta_zorder_rewrite_sql() -> str:
    # the oracle's OWN bit-interleave (column j's bucket bit i lands at
    # z-bit i*2+j), written against DuckDB's native >> << & operators —
    # independent of the writer's Column-expression builder
    z_terms = " + ".join(
        f"(((b{c} >> {i}) & 1) << {i * 2 + j})"
        for i in range(8)
        for j, c in ((0, "o"), (1, "s"))
    )
    s = _DSUM.format(c="l_quantity")
    return f"""
WITH frag AS (SELECT * FROM lineitem WHERE l_orderkey % 7 = 0),
mm AS (
  SELECT min(l_orderkey) omn, max(l_orderkey) omx,
         min(l_suppkey) smn, max(l_suppkey) smx
  FROM frag
),
bucketed AS (
  SELECT f.*,
         ((l_orderkey - omn) * 256) // (omx - omn + 1) AS bo,
         ((l_suppkey - smn) * 256) // (smx - smn + 1) AS bs
  FROM frag f, mm
),
zed AS (SELECT *, {z_terms} AS zval FROM bucketed),
ordered AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY zval, l_orderkey, l_suppkey
         ) - 1 AS rn
  FROM zed
),
files AS (
  SELECT l_returnflag, rn // 200 AS fid,
         min(l_orderkey) AS okmin, min(l_suppkey) AS skmin
  FROM ordered GROUP BY 1, 2
),
ev AS (
  SELECT CAST(count(*) AS INTEGER) AS files_total,
         CAST(count(*) FILTER (WHERE okmin < 15000) AS INTEGER)
           AS files_kept_okey,
         CAST(count(*) FILTER (WHERE skmin < 13) AS INTEGER)
           AS files_kept_skey
  FROM files
)
SELECT
  l_returnflag,
  count(*) AS n_rows,
  {s} AS sum_qty,
  min(l_suppkey) AS min_supp,
  max(l_suppkey) AS max_supp,
  (SELECT files_total FROM ev) AS files_total,
  (SELECT files_kept_okey FROM ev) AS files_kept_okey,
  (SELECT files_kept_skey FROM ev) AS files_kept_skey
FROM frag
WHERE l_orderkey < 15000
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------- F27


def iceberg_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg SCHEMA EVOLUTION on append (merge_schema — F25's
    format-v2 twin): snapshot 1 writes orders WITHOUT o_orderpriority;
    snapshot 2 appends the full shape, the column joining the CURRENT
    schema under a fresh field id via a new schemas[] entry — no data
    rewrites, and the evolved read returns NULL priority for every
    snapshot-1 row (each snapshot pins its own schema-id, so time
    travel keeps the old shape — pinned by unit test).  The rollup's
    NULL-priority group is the metadata-only proof."""
    prep(spark)
    from ..sources import icebergwriter as IW

    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        a = orders.filter(F.col("o_orderkey") % 3 == 0).drop("o_orderpriority")
        b = orders.filter(F.col("o_orderkey") % 3 == 1)
        IW.write_iceberg(spark, a, tbl, partition_by=["o_orderstatus"])
        IW.write_iceberg(
            spark, b, tbl, partition_by=["o_orderstatus"], merge_schema=True
        )

    tbl = str(_ensure("wrt_ice_evolve", sf_dir, build))
    latest = max(
        Path(tbl, "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    df = LF.read_iceberg_snapshot(spark, str(latest))
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------- F28


def iceberg_equality_delete_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY-DELETE write — the CDC-friendly delete: the
    key tuples (low nation keys actually present) land in a delete
    parquet with equality_ids, NO table scan (position deletes pay
    one; equality deletes are why streaming upsert sinks can keep up),
    and the snapshot's sequence number scopes the delete STRICTLY
    BEFORE it — proven in-key by re-appending customers of the deleted
    nations afterwards: the re-appended rows must survive the read.
    Evidence: keys_written (distinct deleted nation keys) beside the
    per-nation survivor rollup."""
    prep(spark)
    from ..sources import icebergwriter as IW

    cust = load(spark, sf_dir, "customer")

    def build(tbl: str) -> None:
        r1 = IW.write_iceberg(spark, cust, tbl)
        keys = (
            cust.filter(F.col("c_nationkey") < 5)
            .select("c_nationkey")
            .distinct()
        )
        r2 = IW.delete_iceberg_equality(r1["metadata_path"], keys)
        re_add = cust.filter(
            (F.col("c_nationkey") < 5) & (F.col("c_custkey") % 9 == 0)
        )
        IW.write_iceberg(spark, re_add, tbl)
        (Path(tbl) / "_RT_EQDEL_KEYS").write_text(str(r2["keys_written"]))

    tbl = str(_ensure("wrt_ice_eqdel", sf_dir, build))
    keys_written = int((Path(tbl) / "_RT_EQDEL_KEYS").read_text())
    latest = max(
        Path(tbl, "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    df = LF.read_iceberg_snapshot(spark, str(latest))
    return (
        df.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
            F.min("c_custkey").alias("min_key"),
        )
        .select(
            "*", F.lit(keys_written).cast("int").alias("keys_written")
        )
    )


def _iceberg_equality_delete_write_sql() -> str:
    s = _DSUM.format(c="c_acctbal")
    return f"""
WITH survivors AS (
  SELECT * FROM customer WHERE c_nationkey >= 5
  UNION ALL
  SELECT * FROM customer
  WHERE c_nationkey < 5 AND c_custkey % 9 = 0
),
ev AS (
  SELECT CAST(count(DISTINCT c_nationkey) AS INTEGER) AS keys_written
  FROM customer WHERE c_nationkey < 5
)
SELECT
  c_nationkey,
  count(*) AS n_rows,
  {s} AS sum_bal,
  min(c_custkey) AS min_key,
  (SELECT keys_written FROM ev) AS keys_written
FROM survivors
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------- F29


def delta_constraints_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS end-to-end: commit 0 writes non-negative
    orders, commit 1 is ALTER ADD CONSTRAINT (validating every
    existing row in one scan, raising the protocol to the
    checkConstraints writer feature), commit 2 appends a valid slice —
    then a deliberately violating batch (negated totalprice) must be
    REFUSED with nothing staged, so the table ends at version 2 with
    only the valid rows.  Evidence: blocked_append (1 iff the
    violating batch raised), final_version, n_constraints — all
    closed-form from the data alone."""
    prep(spark)
    from ..sources.deltawriter import DeltaConstraintViolationError

    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        a = orders.filter(F.col("o_orderkey") % 5 == 0)
        b = orders.filter(F.col("o_orderkey") % 5 == 1)
        DW.write_delta(spark, a, tbl, partition_by=["o_orderstatus"])
        DW.add_check_constraint(spark, tbl, "price_nonneg", "o_totalprice >= 0")
        DW.write_delta(spark, b, tbl, partition_by=["o_orderstatus"])
        bad = b.withColumn("o_totalprice", -F.col("o_totalprice"))
        blocked = 0
        try:
            DW.write_delta(spark, bad, tbl, partition_by=["o_orderstatus"])
        except DeltaConstraintViolationError:
            blocked = 1
        (Path(tbl) / "_RT_BLOCKED").write_text(str(blocked))

    tbl = str(_ensure("wrt_orders_check", sf_dir, build))
    blocked = int((Path(tbl) / "_RT_BLOCKED").read_text())
    snap = LF.delta_snapshot(tbl)
    n_cons = sum(
        1 for k in snap["configuration"] if k.startswith("delta.constraints.")
    )
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .select(
            "*",
            F.lit(blocked).cast("int").alias("blocked_append"),
            F.lit(int(snap["version"])).cast("int").alias("final_version"),
            F.lit(n_cons).cast("int").alias("n_constraints"),
        )
    )


def _delta_constraints_audit_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH valid AS (
  SELECT * FROM orders WHERE o_orderkey % 5 IN (0, 1)
),
ev AS (
  SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS blocked_append
  FROM orders
  WHERE o_orderkey % 5 = 1 AND -o_totalprice < 0
)
SELECT
  o_orderstatus,
  count(*) AS n_rows,
  {s} AS sum_price,
  (SELECT CAST(blocked_append AS INTEGER) FROM ev) AS blocked_append,
  CAST(2 AS INTEGER) AS final_version,
  CAST(1 AS INTEGER) AS n_constraints
FROM valid
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------- F30


def delta_uniform_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm-style Delta → Iceberg EXPORT: the Delta table's live
    parquet serves BOTH logs — ``delta_to_iceberg`` authors Iceberg
    format-v2 metadata (footer-exact Appendix-D bounds, typed
    partition records) over the current snapshot, and each re-export
    after more Delta commits lands as a new Iceberg snapshot.  This
    key reads BOTH exported snapshots back through the ICEBERG bridge
    (which reconstructs the Delta-stripped partition column via the
    spec's identity back-fill rule) — per-segment rollups must equal
    SQL off the source parquet, and files_total/files_kept under a
    segment predicate must equal the colocate layout's closed form
    through the EXPORTED manifests' own bounds."""
    prep(spark)
    from ..sources import icebergwriter as IW

    cust = load(spark, sf_dir, "customer")

    def build(tbl: str) -> None:
        a = cust.filter(F.col("c_custkey") % 4 == 0)
        b = cust.filter(F.col("c_custkey") % 4 == 1)
        DW.write_delta(spark, a, tbl, partition_by=["c_mktsegment"])
        r1 = IW.delta_to_iceberg(spark, tbl)
        DW.write_delta(spark, b, tbl, partition_by=["c_mktsegment"])
        r2 = IW.delta_to_iceberg(spark, tbl)
        # ids only — _ensure atomically renames the build dir, so any
        # absolute path recorded here would go stale
        (Path(tbl) / "_RT_EXPORT_SNAPS").write_text(
            f"{r1['snapshot_id']}\n{r2['snapshot_id']}"
        )

    tbl = str(_ensure("wrt_uniform", sf_dir, build))
    s1, s2 = (Path(tbl) / "_RT_EXPORT_SNAPS").read_text().split("\n")
    meta_path = str(
        max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    pred = [("c_mktsegment", "=", "BUILDING")]
    outs = []
    for ver, sid in ((0, int(s1)), (1, int(s2))):
        full = LF.read_iceberg_snapshot(spark, meta_path, snapshot_id=sid)
        pruned = LF.read_iceberg_snapshot(
            spark, meta_path, snapshot_id=sid, predicate=pred
        )
        outs.append(
            full.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
                F.min("c_custkey").alias("min_key"),
            )
            .select(
                F.lit(ver).cast("int").alias("export_version"),
                "*",
                F.lit(len(full.inputFiles())).cast("int").alias("files_total"),
                F.lit(len(pruned.inputFiles())).cast("int").alias("files_kept"),
            )
        )
    return outs[0].unionByName(outs[1])


def _delta_uniform_export_sql() -> str:
    s = _DSUM.format(c="c_acctbal")
    return f"""
WITH a AS (SELECT * FROM customer WHERE c_custkey % 4 = 0),
ab AS (SELECT * FROM customer WHERE c_custkey % 4 IN (0, 1)),
versions AS (
  SELECT 0 AS export_version, * FROM a
  UNION ALL SELECT 1, * FROM ab
),
-- colocate layout: one file per (delta commit, segment); export 0
-- sees commit 0's files, export 1 sees both commits'
fa AS (SELECT count(DISTINCT c_mktsegment) AS n,
              count(DISTINCT CASE WHEN c_mktsegment = 'BUILDING'
                                  THEN c_mktsegment END) AS k FROM a),
fb AS (SELECT count(DISTINCT c_mktsegment) AS n,
              count(DISTINCT CASE WHEN c_mktsegment = 'BUILDING'
                                  THEN c_mktsegment END) AS k
       FROM customer WHERE c_custkey % 4 = 1),
files AS (
  SELECT 0 AS v, (SELECT n FROM fa) AS ft, (SELECT k FROM fa) AS fk
  UNION ALL
  SELECT 1, (SELECT n FROM fa) + (SELECT n FROM fb),
         (SELECT k FROM fa) + (SELECT k FROM fb)
)
SELECT
  CAST(v.export_version AS INTEGER) AS export_version,
  v.c_mktsegment,
  count(*) AS n_rows,
  {s} AS sum_bal,
  min(v.c_custkey) AS min_key,
  CAST(f.ft AS INTEGER) AS files_total,
  CAST(f.fk AS INTEGER) AS files_kept
FROM versions v JOIN files f ON f.v = v.export_version
GROUP BY v.export_version, v.c_mktsegment, f.ft, f.fk
"""


# ---------------------------------------------------------------- F31


def iceberg_compact_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REWRITE DATA FILES (Iceberg's OPTIMIZE, F16's format-v2 twin):
    a lineitem slice fragments at 200 rows/file, a position delete
    lands on top, then compaction rewrites the surviving state —
    deletes applied PHYSICALLY — as one 'replace' snapshot with a
    single file per returnflag partition.  Closed-form evidence:
    files_before = Σ ceil(rows_per_flag / 200), files_after = #flags;
    the rollup under the survivors must equal SQL; pre-compaction
    snapshots stay travelable (pinned by unit test)."""
    prep(spark)
    from ..sources import icebergwriter as IW

    li = load(spark, sf_dir, "lineitem")

    def build(tbl: str) -> None:
        frag = li.filter(F.col("l_orderkey") % 13 == 0)
        r = IW.write_iceberg(
            spark,
            frag,
            tbl,
            partition_by=["l_returnflag"],
            max_records_per_file=200,
        )
        r = IW.delete_iceberg(
            spark, r["metadata_path"], [("l_orderkey", "<", 10000)]
        )
        c = IW.compact_iceberg(spark, r["metadata_path"])
        (Path(tbl) / "_RT_COMPACT").write_text(
            f"{c['files_before']}\n{c['files_after']}"
        )

    tbl = str(_ensure("wrt_ice_compact", sf_dir, build))
    fb, fa = map(int, (Path(tbl) / "_RT_COMPACT").read_text().split("\n"))
    latest = max(
        Path(tbl, "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    df = LF.read_iceberg_snapshot(spark, str(latest))
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.min("l_orderkey").alias("min_key"),
        )
        .select(
            "*",
            F.lit(fb).cast("int").alias("files_before"),
            F.lit(fa).cast("int").alias("files_after"),
        )
    )


def _iceberg_compact_rewrite_sql() -> str:
    s = _DSUM.format(c="l_quantity")
    return f"""
WITH frag AS (SELECT * FROM lineitem WHERE l_orderkey % 13 = 0),
surv AS (SELECT * FROM frag WHERE l_orderkey >= 10000),
ev AS (
  SELECT
    (SELECT CAST(sum(CEIL(n / 200.0)) AS INTEGER)
     FROM (SELECT l_returnflag, count(*) AS n FROM frag GROUP BY 1))
      AS files_before,
    -- the rewrite emits one file per flag PRESENT IN THE SURVIVORS
    (SELECT CAST(count(DISTINCT l_returnflag) AS INTEGER) FROM surv)
      AS files_after
)
SELECT
  l_returnflag,
  count(*) AS n_rows,
  {s} AS sum_qty,
  min(l_orderkey) AS min_key,
  (SELECT files_before FROM ev) AS files_before,
  (SELECT files_after FROM ev) AS files_after
FROM surv
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------- F32


def iceberg_refs_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named REFS (tags/branches, spec v2 ``refs``): three appended
    supplier slices, the FIRST snapshot tagged ``v1``, then EXPIRE
    keep_last=1 — the tag must RETAIN its snapshot (production
    retention's rule) while the untagged middle snapshot dies.  The
    key reads the tag AND the latest state through the bridge; the
    evidence column snapshots_expired = 1 is the closed form (3
    snapshots − 1 window − 1 ref-protected)."""
    prep(spark)
    from ..sources import icebergwriter as IW

    supp = load(spark, sf_dir, "supplier")

    def build(tbl: str) -> None:
        r1 = IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 3 == 0), tbl)
        IW.set_iceberg_ref(r1["metadata_path"], "v1")
        IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 3 == 1), tbl)
        r3 = IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 3 == 2), tbl)
        aud = IW.expire_iceberg_snapshots(
            r3["metadata_path"], keep_last=1
        )
        (Path(tbl) / "_RT_EXPIRED").write_text(str(aud["snapshots_expired"]))

    tbl = str(_ensure("wrt_ice_refs", sf_dir, build))
    expired = int((Path(tbl) / "_RT_EXPIRED").read_text())
    latest = str(
        max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    outs = []
    for label, df in (
        ("v1", LF.read_iceberg_snapshot(spark, latest, ref="v1")),
        ("latest", LF.read_iceberg_snapshot(spark, latest)),
    ):
        outs.append(
            df.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(_dec("s_acctbal")).cast("double").alias("sum_bal"),
                F.countDistinct("s_nationkey").alias("n_nations"),
            )
            .select(
                F.lit(label).alias("ref_name"),
                "*",
                F.lit(expired).cast("int").alias("snapshots_expired"),
            )
        )
    return outs[0].unionByName(outs[1])


def _iceberg_refs_travel_sql() -> str:
    s = _DSUM.format(c="s_acctbal")
    return f"""
WITH states AS (
  SELECT 'v1' AS ref_name, * FROM supplier WHERE s_suppkey % 3 = 0
  UNION ALL
  SELECT 'latest', * FROM supplier
)
SELECT
  ref_name,
  count(*) AS n_rows,
  {s} AS sum_bal,
  count(DISTINCT s_nationkey) AS n_nations,
  CAST(1 AS INTEGER) AS snapshots_expired
FROM states
GROUP BY ref_name
"""


# ---------------------------------------------------------------- F33


def delta_generated_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED COLUMNS in their classic role — a generated
    PARTITION column: the table is created with
    ``o_year = year(o_orderdate)`` stored as
    delta.generationExpression field metadata (protocol writer 4);
    commit 0's frame LACKS the column (the writer computes it), commit
    1 PROVIDES it correctly (the writer validates null-safe equality),
    and a deliberately drifted batch must REFUSE — a stored value that
    disagrees with the expression breaks every reader that prunes on
    it.  The key reads under an ``o_year = 1995`` predicate: the
    per-status rollup must equal SQL computing year() itself, and
    files_kept is the colocate layout's closed form (one file per
    (commit, year) → #commits holding 1995)."""
    prep(spark)
    from ..sources.deltawriter import DeltaConstraintViolationError

    orders = load(spark, sf_dir, "orders")

    def build(tbl: str) -> None:
        a = orders.filter(F.col("o_orderkey") % 4 == 0)
        b = orders.filter(F.col("o_orderkey") % 4 == 1)
        DW.write_delta(
            spark,
            a,
            tbl,
            partition_by=["o_year"],
            generated={"o_year": "year(o_orderdate)"},
        )
        DW.write_delta(
            spark,
            b.withColumn("o_year", F.year("o_orderdate")),
            tbl,
            partition_by=["o_year"],
        )
        bad = b.withColumn(
            "o_year", (F.year("o_orderdate") + 500).cast("int")
        )
        blocked = 0
        try:
            DW.write_delta(spark, bad, tbl, partition_by=["o_year"])
        except DeltaConstraintViolationError:
            blocked = 1
        (Path(tbl) / "_RT_GEN_BLOCKED").write_text(str(blocked))

    tbl = str(_ensure("wrt_orders_gen", sf_dir, build))
    blocked = int((Path(tbl) / "_RT_GEN_BLOCKED").read_text())
    snap = LF.delta_snapshot(tbl)
    pred = [("o_year", "=", 1995)]
    kept, _ = LF.prune_delta_files(snap, pred)
    df = LF.read_delta_snapshot(spark, tbl, predicate=pred)
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
        )
        .select(
            "*",
            F.lit(len(snap["files"])).cast("int").alias("files_total"),
            F.lit(len(kept)).cast("int").alias("files_kept"),
            F.lit(blocked).cast("int").alias("blocked_append"),
        )
    )


def _delta_generated_partition_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH both_slices AS (
  SELECT *, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         o_orderkey % 4 AS slice
  FROM orders WHERE o_orderkey % 4 IN (0, 1)
),
ev AS (
  SELECT
    (SELECT CAST(count(*) AS INTEGER)
     FROM (SELECT DISTINCT slice, o_year FROM both_slices)) AS files_total,
    (SELECT CAST(count(DISTINCT slice) AS INTEGER)
     FROM both_slices WHERE o_year = 1995) AS files_kept
)
SELECT
  o_orderstatus,
  count(*) AS n_rows,
  {s} AS sum_price,
  min(o_orderkey) AS min_key,
  (SELECT files_total FROM ev) AS files_total,
  (SELECT files_kept FROM ev) AS files_kept,
  CAST(1 AS INTEGER) AS blocked_append
FROM both_slices
WHERE o_year = 1995
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------- F34


def iceberg_bucket_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side bucket partitioning: supplier
    lands in ONE commit under ``bucket(8, s_suppkey)`` — the murmur3
    bucket computed executor-side as pure Column expressions
    (functions/icetransforms.py), one file per non-empty bucket by the
    colocate contract — and per-key equality probes must answer
    through the read bridge's transform pruning while opening ONLY the
    probed key's bucket.

    Evidence per probed key: the probe's OWN row values (a wrong
    bucket placement returns zero rows and fails the value hash, not
    just a boolean), ``probe_file_surplus`` = files opened − 1
    (exactly one bucket file may open; expected 0), and
    ``wrong_bucket_files`` = opened files outside the key's spec-true
    bucket computed by the independent driver-side hash
    (skipping.iceberg_bucket_hash; expected 0).  files_total is
    checked as a surplus over the distinct non-empty bucket count the
    partition dirs prove (expected 0) — closed-form bucket counts are
    not SQL-expressible (murmur3), so the invariants carry the layout
    check while the row values carry the correctness check.

    100 TB: the bucketed layout is exactly what production Iceberg key
    lookups rely on — a point probe opens 1/N of the table regardless
    of total size, and the write's shuffle is the one repartition by
    bucket the table's layout demands anyway."""
    prep(spark)
    from ..sources import icebergwriter as IW
    from ..sources import skipping as SK

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(spark, sup, tbl, partition_by=["bucket(8, s_suppkey)"])

    root = _ensure("wrt_ice_bucket", sf_dir, build)
    meta = str(
        max(
            (root / "table" / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    full = LF.read_iceberg_snapshot(spark, meta)
    full_files = full.inputFiles()
    files_total = len(full_files)
    n_buckets_live = len(
        {f.split("s_suppkey_bucket=")[1].split("/")[0] for f in full_files}
    )
    keys = [
        int(r[0])
        for r in sup.select("s_suppkey").orderBy("s_suppkey").limit(5).collect()
    ]
    # One probe PLAN per key (the pruning evidence — inputFiles() is a
    # driver-side listing of what the pruner handed the scan), but ONE
    # collect for all five probes: a per-key collect loop pays five
    # job round-trips ≈ 0.4 s of pure scheduling on a 5-row result; a
    # tagged union answers identically in one.
    evidence = {}
    probes = []
    for k in keys:
        pr = LF.read_iceberg_snapshot(
            spark, meta, predicate=[("s_suppkey", "=", k)]
        )
        opened = pr.inputFiles()
        want = (SK.iceberg_bucket_hash("long", k) & 0x7FFFFFFF) % 8
        wrong = sum(1 for f in opened if f"s_suppkey_bucket={want}" not in f)
        evidence[k] = (len(opened) - 1, wrong)
        probes.append(
            pr.select(
                F.lit(k).cast("long").alias("probe_key"),
                "s_suppkey",
                "s_nationkey",
                _dec("s_acctbal").alias("acctbal"),
            )
        )
    u = probes[0]
    for p in probes[1:]:
        u = u.unionByName(p)
    by_key: dict[int, list] = {k: [] for k in keys}
    for r in u.collect():
        by_key[int(r.probe_key)].append(r)
    rows = []
    for k in keys:
        got = by_key[k]
        surplus, wrong = evidence[k]
        rows.append(
            (
                k,
                len(got),
                int(got[0].s_nationkey) if got else None,
                float(got[0].acctbal) if got else None,
                surplus,
                wrong,
                files_total - n_buckets_live,
            )
        )
    return spark.createDataFrame(
        rows,
        "s_suppkey long, n_rows int, s_nationkey int, acctbal double, "
        "probe_file_surplus int, wrong_bucket_files int, "
        "files_total_surplus int",
    )


def _iceberg_bucket_write_prune_sql() -> str:
    return """
WITH probe AS (
  SELECT s_suppkey, s_nationkey, s_acctbal
  FROM supplier ORDER BY s_suppkey LIMIT 5
)
SELECT
  s_suppkey,
  CAST(1 AS INTEGER) AS n_rows,
  s_nationkey,
  CAST(CAST(CAST(s_acctbal AS DECIMAL(18,4)) AS VARCHAR) AS DOUBLE) AS acctbal,
  CAST(0 AS INTEGER) AS probe_file_surplus,
  CAST(0 AS INTEGER) AS wrong_bucket_files,
  CAST(0 AS INTEGER) AS files_total_surplus
FROM probe
"""


# ---------------------------------------------------------------- F35


def iceberg_transform_write_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """truncate[W] + month partition transforms on the WRITE side: an
    orders slice lands under ``truncate(2, o_orderpriority),
    month(o_orderdate)``, and — unlike bucket — BOTH the rollup and
    the physical layout are CLOSED-FORM in SQL: one file per
    (prefix-2, month-ordinal) group by the colocate contract, so the
    oracle recomputes files_total and the per-predicate kept counts
    straight from the source table.  A range probe on the priority
    prefix and an equality probe on a month must prune to exactly the
    matching groups' files through the read bridge."""
    prep(spark)
    from ..sources import icebergwriter as IW

    orders = load(spark, sf_dir, "orders")
    sl = orders.filter(F.col("o_orderkey") % 4 == 0)

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(
            spark,
            sl,
            tbl,
            partition_by=["truncate(2, o_orderpriority)", "month(o_orderdate)"],
        )

    root = _ensure("wrt_ice_transforms", sf_dir, build)
    meta = str(
        max(
            (root / "table" / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    full = LF.read_iceberg_snapshot(spark, meta)
    files_total = len(full.inputFiles())
    kept_pri = len(
        LF.read_iceberg_snapshot(
            spark, meta, predicate=[("o_orderpriority", "<", "3")]
        ).inputFiles()
    )
    # probe at the LAST month's start: earlier-month files must all
    # prune (the min month would trivially keep everything).  The probe
    # is tz-AWARE: a naive datetime against a timestamptz column is
    # session-tz-dependent, so the prune machinery correctly refuses to
    # use it (normalizes to _TS_UNUSABLE) — the aware UTC instant is
    # what a production probe sends
    import datetime as _dtm

    probe_month = sl.select(F.max("o_orderdate").alias("d")).collect()[0].d
    kept_month = len(
        LF.read_iceberg_snapshot(
            spark,
            meta,
            predicate=[
                (
                    "o_orderdate",
                    ">=",
                    probe_month.replace(
                        day=1,
                        hour=0,
                        minute=0,
                        second=0,
                        microsecond=0,
                        tzinfo=_dtm.timezone.utc,
                    ),
                )
            ],
        ).inputFiles()
    )
    return (
        full.groupBy(
            F.substring("o_orderpriority", 1, 2).alias("pri2"),
            (
                (F.year("o_orderdate") - F.lit(1970)) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("int").alias("month_ord"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .select(
            "*",
            F.lit(files_total).cast("int").alias("files_total"),
            F.lit(kept_pri).cast("int").alias("files_kept_pri_lt3"),
            F.lit(kept_month).cast("int").alias("files_kept_from_min_month"),
        )
    )


def _iceberg_transform_write_audit_sql() -> str:
    s = _DSUM.format(c="o_totalprice")
    return f"""
WITH sl AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
g AS (
  SELECT substr(o_orderpriority, 1, 2) AS pri2,
         (CAST(strftime(o_orderdate, '%Y') AS INTEGER) - 1970) * 12
           + CAST(strftime(o_orderdate, '%m') AS INTEGER) - 1 AS month_ord,
         count(*) AS n_rows,
         {s} AS sum_price
  FROM sl GROUP BY 1, 2
),
ev AS (
  SELECT count(*) AS files_total,
         count(*) FILTER (WHERE pri2 < '3') AS kept_pri,
         count(*) FILTER (WHERE month_ord >= (SELECT max(month_ord) FROM g))
           AS kept_month
  FROM g
)
SELECT
  g.pri2,
  CAST(g.month_ord AS INTEGER) AS month_ord,
  g.n_rows,
  g.sum_price,
  CAST((SELECT files_total FROM ev) AS INTEGER) AS files_total,
  CAST((SELECT kept_pri FROM ev) AS INTEGER) AS files_kept_pri_lt3,
  CAST((SELECT kept_month FROM ev) AS INTEGER) AS files_kept_from_min_month
FROM g
"""


# ---------------------------------------------------------------- F37


def delta_uniform_dv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm export over a LIVE-DV table (the modern-default Delta
    shape): customer lands
    in Delta, a predicate slice DV-deletes (no rewrite), and
    ``delta_to_iceberg`` translates the deletion vectors into Iceberg
    POSITION DELETES committed with the export snapshot — the same
    parquet bytes serve both logs, and both hide the same rows.

    Evidence is fully closed-form: the per-segment rollup equals SQL
    over ``customer WHERE NOT (deleted predicate)``, ``dv_positions``
    equals the SQL count of the deleted slice, and
    ``delta_minus_iceberg``/``iceberg_minus_delta`` (exceptAll both
    ways between the two bridges' reads) are 0."""
    prep(spark)
    from ..sources import icebergwriter as IW

    cust = load(spark, sf_dir, "customer")

    def build(tbl: str) -> None:
        DW.write_delta(
            spark, cust, tbl, partition_by=["c_mktsegment"],
            max_records_per_file=200,
        )
        DW.delete_delta(spark, tbl, [("c_acctbal", "<", 0.0)])
        r = IW.delta_to_iceberg(spark, tbl)
        (Path(tbl) / "_RT_DV_EXPORT").write_text(
            f"{r['dv_positions_exported']}"
        )

    tbl = str(_ensure("wrt_uniform_dv", sf_dir, build))
    dv_positions = int((Path(tbl) / "_RT_DV_EXPORT").read_text())
    meta = str(
        max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    d_side = LF.read_delta_snapshot(spark, tbl)
    i_side = LF.read_iceberg_snapshot(spark, meta)
    cols = d_side.columns
    d_minus_i = d_side.exceptAll(i_side.select(*cols)).count()
    i_minus_d = i_side.select(*cols).exceptAll(d_side).count()
    return (
        i_side.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
            F.min("c_custkey").alias("min_key"),
        )
        .select(
            "*",
            F.lit(dv_positions).cast("long").alias("dv_positions"),
            F.lit(d_minus_i).cast("long").alias("delta_minus_iceberg"),
            F.lit(i_minus_d).cast("long").alias("iceberg_minus_delta"),
        )
    )


def _delta_uniform_dv_export_sql() -> str:
    s = _DSUM.format(c="c_acctbal")
    return f"""
WITH live AS (SELECT * FROM customer WHERE NOT (c_acctbal < 0.0)),
ev AS (SELECT count(*) AS dv FROM customer WHERE c_acctbal < 0.0)
SELECT
  c_mktsegment,
  count(*) AS n_rows,
  {s} AS sum_bal,
  min(c_custkey) AS min_key,
  CAST((SELECT dv FROM ev) AS BIGINT) AS dv_positions,
  CAST(0 AS BIGINT) AS delta_minus_iceberg,
  CAST(0 AS BIGINT) AS iceberg_minus_delta
FROM live
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- F38


def delta_uniform_mapped_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm export over a COLUMN-MAPPED Delta table: supplier lands
    as four deterministic physical-name parquet slices (``s_suppkey %
    4``; Spark writes the footer field ids via
    ``spark.sql.parquet.fieldId.write.enabled`` from column metadata), a
    hand-authored mode-'name' Delta log maps logical → physical, and
    ``delta_to_iceberg`` exports with Iceberg field ids = the mapping
    ids — so the bridge's footer-id resolution reads ``col-k`` as
    ``s_suppkey`` without a name in common.

    Closed-form evidence: the per-nation rollup equals SQL off the
    source table UNDER LOGICAL NAMES (a name-based reader null-fills
    every column and zeroes the hash), files_total = the non-empty
    residue count, and a global-min equality probe keeps exactly the
    residue slice holding it (every other slice's footer lower bound
    exceeds the global min)."""
    prep(spark)
    import json as _json

    from ..sources import icebergwriter as IW

    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    phys = {"s_suppkey": "col-k", "s_nationkey": "col-n", "s_acctbal": "col-b"}
    ids = {"s_suppkey": 1, "s_nationkey": 2, "s_acctbal": 3}

    def build(root: str) -> None:
        prev = spark.conf.get("spark.sql.parquet.fieldId.write.enabled", "false")
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        try:
            adds = []
            for i in range(4):
                sl = sup.filter(F.col("s_suppkey") % 4 == i).select(
                    *[
                        F.col(c).alias(
                            phys[c], metadata={"parquet.field.id": ids[c]}
                        )
                        for c in sup.columns
                    ]
                )
                # one file per residue slice: bounded by slice size, and
                # the layout closed form the oracle recomputes needs it
                (f,) = staging.land_parquet(
                    spark, sl.coalesce(1), root, prefix="p", version=i
                )
                adds.append(
                    {
                        "add": {
                            "path": f.path,
                            "partitionValues": {},
                            "size": f.size,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
        finally:
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", prev)

        def fld(logical, typ):
            return {
                "name": logical,
                "type": typ,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": ids[logical],
                    "delta.columnMapping.physicalName": phys[logical],
                },
            }

        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping"],
                    "writerFeatures": ["columnMapping"],
                }
            },
            {
                "metaData": {
                    "id": "djrs-uniform-mapped",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {
                            "type": "struct",
                            "fields": [
                                fld("s_suppkey", "long"),
                                fld("s_nationkey", "integer"),
                                fld("s_acctbal", "double"),
                            ],
                        }
                    ),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            },
            *adds,
        ]
        log = Path(root) / "_delta_log"
        log.mkdir()
        (log / f"{0:020d}.json").write_text(
            "\n".join(_json.dumps(a, sort_keys=True) for a in actions) + "\n"
        )
        IW.delta_to_iceberg(spark, root)

    tbl = str(_ensure("wrt_uniform_mapped", sf_dir, build))
    meta = str(
        max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    full = LF.read_iceberg_snapshot(spark, meta)
    files_total = len(full.inputFiles())
    gmin = int(sup.agg(F.min("s_suppkey")).collect()[0][0])
    pruned = LF.read_iceberg_snapshot(
        spark, meta, predicate=[("s_suppkey", "=", gmin)]
    )
    files_kept = len(pruned.inputFiles())
    return (
        full.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("s_acctbal")).cast("double").alias("sum_bal"),
            F.min("s_suppkey").alias("min_key"),
        )
        .select(
            "*",
            F.lit(files_total).cast("int").alias("files_total"),
            F.lit(files_kept).cast("int").alias("files_kept_min_probe"),
        )
    )


def _delta_uniform_mapped_export_sql() -> str:
    s = _DSUM.format(c="s_acctbal")
    return f"""
WITH g AS (
  SELECT s_suppkey % 4 AS residue, min(s_suppkey) AS mn
  FROM supplier GROUP BY 1
),
ev AS (
  SELECT count(*) AS files_total,
         count(*) FILTER (
           WHERE mn = (SELECT min(s_suppkey) FROM supplier)
         ) AS files_kept
  FROM g
)
SELECT
  s_nationkey,
  count(*) AS n_rows,
  {s} AS sum_bal,
  min(s_suppkey) AS min_key,
  CAST((SELECT files_total FROM ev) AS INTEGER) AS files_total,
  CAST((SELECT files_kept FROM ev) AS INTEGER) AS files_kept_min_probe
FROM supplier
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------- F39


def iceberg_decimal_bucket_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side bucket partitioning over a DECIMAL key: supplier with
    ``s_bal = CAST(s_acctbal AS DECIMAL(12,2))`` lands under ``bucket(8,
    s_bal)`` — the Appendix-B decimal hash (murmur3 over the MINIMAL
    big-endian two's-complement unscaled bytes) computed executor-side
    as chain-bound Column projections
    (functions/icetransforms.with_murmur3_decimal), the same codegen
    cost shape as the integer path.  Per-value equality probes answer
    through the read bridge's transform pruning, opening ONLY the probed
    value's bucket.

    Evidence per probed value (same structure as F34
    ``iceberg_bucket_write_prune``): the probe's own row rollup
    (n_rows + sum of matching s_suppkey — a wrong bucket placement
    returns zero rows and fails the value hash), ``probe_file_surplus``
    = files opened − 1 (expected 0), ``wrong_bucket_files`` = opened
    files outside the value's spec-true bucket computed by the
    INDEPENDENT driver-side hash (skipping.iceberg_bucket_hash over
    Decimal; expected 0), and files_total as a surplus over the
    distinct non-empty bucket count (expected 0).

    100 TB: decimal surrogate keys are the norm in finance-shaped
    tables; this is the layout their point lookups rely on — 1/N of
    the table opens per probe regardless of total size, and the hash
    runs JVM-side in whole-stage codegen, not in a Python UDF."""
    prep(spark)
    from decimal import Decimal

    from ..sources import icebergwriter as IW
    from ..sources import skipping as SK

    sup = load(spark, sf_dir, "supplier").withColumn(
        "s_bal", F.col("s_acctbal").cast("decimal(12,2)")
    )

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(spark, sup, tbl, partition_by=["bucket(8, s_bal)"])

    root = _ensure("wrt_ice_decbucket", sf_dir, build)
    meta = str(
        max(
            (root / "table" / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    full = LF.read_iceberg_snapshot(spark, meta)
    full_files = full.inputFiles()
    files_total = len(full_files)
    n_buckets_live = len(
        {f.split("s_bal_bucket=")[1].split("/")[0] for f in full_files}
    )
    probe_vals = [
        Decimal(r[0])
        for r in sup.select("s_bal").distinct().orderBy("s_bal").limit(5).collect()
    ]
    # per-probe prune evidence from the plan (inputFiles, driver-side),
    # row values from ONE tagged-union collect instead of one job per
    # probe (the same scheduling-latency fix as the s_suppkey bucket
    # key; answers are identical, five round-trips become one)
    evidence = {}
    probes = []
    for v in probe_vals:
        pr = LF.read_iceberg_snapshot(spark, meta, predicate=[("s_bal", "=", v)])
        opened = pr.inputFiles()
        want = (SK.iceberg_bucket_hash("decimal(12, 2)", v) & 0x7FFFFFFF) % 8
        wrong = sum(1 for f in opened if f"s_bal_bucket={want}" not in f)
        evidence[v] = (len(opened) - 1, wrong)
        probes.append(
            pr.select(
                F.lit(v).cast("decimal(12,2)").alias("probe_bal"), "s_suppkey"
            )
        )
    u = probes[0]
    for p in probes[1:]:
        u = u.unionByName(p)
    by_val: dict[Decimal, list] = {v: [] for v in probe_vals}
    for r in u.collect():
        by_val[Decimal(r.probe_bal)].append(r)
    rows = []
    for v in probe_vals:
        got = by_val[v]
        surplus, wrong = evidence[v]
        rows.append(
            (
                float(v),
                len(got),
                int(sum(r.s_suppkey for r in got)) if got else None,
                surplus,
                wrong,
                files_total - n_buckets_live,
            )
        )
    return spark.createDataFrame(
        rows,
        "bal double, n_rows int, sum_suppkey long, "
        "probe_file_surplus int, wrong_bucket_files int, "
        "files_total_surplus int",
    )


def _iceberg_decimal_bucket_prune_sql() -> str:
    return """
WITH vals AS (
  SELECT DISTINCT CAST(s_acctbal AS DECIMAL(12,2)) AS s_bal
  FROM supplier ORDER BY s_bal LIMIT 5
)
SELECT
  CAST(CAST(v.s_bal AS VARCHAR) AS DOUBLE) AS bal,
  CAST(count(*) AS INTEGER) AS n_rows,
  CAST(sum(s.s_suppkey) AS BIGINT) AS sum_suppkey,
  CAST(0 AS INTEGER) AS probe_file_surplus,
  CAST(0 AS INTEGER) AS wrong_bucket_files,
  CAST(0 AS INTEGER) AS files_total_surplus
FROM vals v
JOIN supplier s ON CAST(s.s_acctbal AS DECIMAL(12,2)) = v.s_bal
GROUP BY v.s_bal
"""


# ---------------------------------------------------------------- F40


def iceberg_files_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``files`` METADATA TABLE surface — what production
    engines expose as ``SELECT * FROM t$files`` (Trino) /
    ``t.files`` (Spark): one row per live data file with its
    partition tuple, record count, and per-column bounds, straight
    from the manifest entries, no data file opened.

    Gate evidence is fully closed-form: supplier commits partitioned
    by ``s_nationkey`` (identity), so per-nation record counts and the
    decoded s_suppkey lower/upper bounds must equal the SQL
    min/max/count over the source table — a wrong Appendix-D bound
    encode, a lost manifest entry, or a partition misplacement each
    fail the value hash.  Rows aggregate per partition value so the
    check is layout-independent (maxRecordsPerFile splits would still
    pass).

    100 TB: this is the table-maintenance query surface — OPTIMIZE
    candidates, small-file audits, skew reports all read the files
    table, which costs O(metadata) regardless of data size (and the
    pure-Python avro reader keeps the walk ~ms per manifest)."""
    prep(spark)
    from ..sources import icebergwriter as IW
    from ..sources import skipping as SK

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(spark, sup, tbl, partition_by=["s_nationkey"])

    root = _ensure("wrt_ice_filestbl", sf_dir, build)
    meta = str(
        max(
            (root / "table" / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    import json as _json

    mjson = _json.loads(Path(meta).read_text())
    cur_schema = {s["schema-id"]: s for s in mjson["schemas"]}[
        mjson["current-schema-id"]
    ]
    suppkey_id = next(
        f["id"] for f in cur_schema["fields"] if f["name"] == "s_suppkey"
    )

    entries = LF.iceberg_snapshot_entries(meta)
    agg: dict[int, list] = {}
    for e in entries:
        if e["status"] == 2 or e["content"] != 0:
            continue
        nk = int(e["partition"]["s_nationkey"])
        lo = hi = None
        for kv in e["lower_bounds"] or []:
            if int(kv["key"]) == suppkey_id:
                lo = SK.decode_iceberg_bound("long", kv["value"])
        for kv in e["upper_bounds"] or []:
            if int(kv["key"]) == suppkey_id:
                hi = SK.decode_iceberg_bound("long", kv["value"])
        cur = agg.setdefault(nk, [0, None, None, 0])
        cur[0] += int(e["record_count"])
        # bounds can legitimately be absent (footer_column_stats omits
        # untrusted row-group stats — 'unknown', not zero); min/max
        # over the known ones, None only if no file carried a bound
        if lo is not None:
            cur[1] = lo if cur[1] is None else min(cur[1], lo)
        if hi is not None:
            cur[2] = hi if cur[2] is None else max(cur[2], hi)
        cur[3] += 1 if e["record_count"] > 0 else 0
    rows = [
        (
            nk,
            c[0],
            None if c[1] is None else int(c[1]),
            None if c[2] is None else int(c[2]),
            1 if c[3] >= 1 else 0,
        )
        for nk, c in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows,
        "s_nationkey int, n_rows long, min_suppkey long, max_suppkey long, "
        "has_live_file int",
    )


def _iceberg_files_table_sql() -> str:
    return """
SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
       count(*) AS n_rows,
       CAST(min(s_suppkey) AS BIGINT) AS min_suppkey,
       CAST(max(s_suppkey) AS BIGINT) AS max_suppkey,
       CAST(1 AS INTEGER) AS has_live_file
FROM supplier
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------- F41-F44
# The rest of the Iceberg METADATA-TABLE family beside F40's `files`:
# what production engines expose as
# `SELECT * FROM t$snapshots / $history / $partitions / $manifests`
# (Trino) / `t.snapshots` etc. (Spark).  All four are O(metadata) at
# any data size — the JSON snapshot list plus one manifest-list avro
# read; no data file is ever opened (reference parity: the reference
# has no lake layer at all — these keys are engine-side surface, cited
# against the public Iceberg spec's Metadata Tables section).
#
# Shared fixture (snapshots/partitions/manifests): THREE commits on a
# supplier table partitioned by s_nationkey —
#   c1 append  s_suppkey % 3 == 0
#   c2 append  s_suppkey % 3 != 0
#   c3 delete  s_suppkey <= 3   (v2 position deletes)
# so every rollup below is closed-form SQL over the supplier source.


def _ice_meta_fixture(spark: SparkSession, sf_dir: str) -> Path:
    from ..sources import icebergwriter as IW

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(
            spark, sup.filter(F.col("s_suppkey") % 3 == 0), tbl,
            partition_by=["s_nationkey"],
        )
        IW.write_iceberg(
            spark, sup.filter(F.col("s_suppkey") % 3 != 0), tbl,
            partition_by=["s_nationkey"],
        )
        IW.delete_iceberg(
            spark, _latest_meta(Path(root)), [("s_suppkey", "<=", 3)]
        )

    return _ensure("wrt_ice_metatbl", sf_dir, build)


def _latest_meta(root: Path) -> str:
    return str(
        max(
            (root / "table" / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )


def _mlist_rows_current(meta_path: str) -> list[dict]:
    """Current snapshot's manifest-list rows (one ~KB avro read)."""
    info = LF.iceberg_snapshot_info(meta_path)
    table_dir = os.path.dirname(os.path.dirname(os.path.abspath(meta_path)))
    return LF._read_avro_records(
        LF._resolve(info["snapshot"]["manifest-list"], table_dir)
    )


def iceberg_snapshots_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``snapshots`` metadata table: one row per snapshot with its
    commit ordinal (sequence number), operation, parent linkage, and
    manifest-list rollups (manifest count, data rows appended by all
    visible data manifests, delete rows).  Snapshot ids and wall-clock
    timestamps are writer-salted, so the surfaced columns are the
    DETERMINISTIC projection: ordinals + operations + counts — a lost
    snapshot, a wrong parent, a missed carry-forward, or a wrong
    sequence assignment each fail the value hash.

    100 TB: the snapshots table is the audit trail every maintenance
    job starts from (expire candidates, commit-rate dashboards); cost
    is O(#snapshots) JSON plus one manifest-list read per row, never
    the data."""
    prep(spark)
    root = _ice_meta_fixture(spark, sf_dir)
    meta_path = _latest_meta(root)
    info = LF.iceberg_snapshot_info(meta_path)
    meta = info["metadata"]
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    seq_of = {s["snapshot-id"]: s["sequence-number"] for s in snaps}
    table_dir = str(root / "table")
    rows = []
    for s in snaps:
        mrows = LF._read_avro_records(
            LF._resolve(s["manifest-list"], table_dir)
        )
        data_rows = sum(
            int(m["added_rows_count"]) for m in mrows if int(m["content"] or 0) == 0
        )
        del_rows = sum(
            int(m["added_rows_count"]) for m in mrows if int(m["content"] or 0) == 1
        )
        rows.append(
            (
                int(s["sequence-number"]),
                s["summary"]["operation"],
                seq_of.get(s.get("parent-snapshot-id")),
                len(mrows),
                data_rows,
                del_rows,
                1 if s["snapshot-id"] == meta["current-snapshot-id"] else 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "ordinal int, operation string, parent_ordinal int, n_manifests int, "
        "data_rows long, delete_rows long, is_current int",
    )


def _iceberg_snapshots_table_sql() -> str:
    return """
WITH c1 AS (SELECT count(*) AS n FROM supplier WHERE s_suppkey % 3 = 0),
c2 AS (SELECT count(*) AS n FROM supplier WHERE s_suppkey % 3 <> 0),
d3 AS (SELECT count(*) AS n FROM supplier WHERE s_suppkey <= 3)
SELECT * FROM (
  SELECT CAST(1 AS INTEGER) AS ordinal, 'append' AS operation,
         CAST(NULL AS INTEGER) AS parent_ordinal,
         CAST(1 AS INTEGER) AS n_manifests,
         CAST((SELECT n FROM c1) AS BIGINT) AS data_rows,
         CAST(0 AS BIGINT) AS delete_rows,
         CAST(0 AS INTEGER) AS is_current
  UNION ALL
  SELECT 2, 'append', 1, 2,
         (SELECT n FROM c1) + (SELECT n FROM c2), 0, 0
  UNION ALL
  SELECT 3, 'delete', 2, 3,
         (SELECT n FROM c1) + (SELECT n FROM c2),
         (SELECT n FROM d3), 1
)
"""


def iceberg_history_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``history`` metadata table: the snapshot LOG (every time a
    snapshot was made current, in order) with the spec's
    is_current_ancestor flag — the column that distinguishes live
    lineage from rolled-back-over commits.  Fixture: three appends
    (s_suppkey % 4 == 0 / 1 / 2) then ``rollback_iceberg`` to the
    second snapshot, so the log carries FOUR entries and exactly one
    (the rolled-back third commit) is a non-ancestor.  Timestamps are
    wall-clock and excluded; the gate also proves the read side
    follows current-snapshot-id after a rollback (current_rows = the
    first two slices only).

    100 TB: history + rollback is the incident-response path (bad
    commit landed → roll back, audit what was orphaned); pure JSON
    metadata, O(#log entries)."""
    prep(spark)
    from ..sources import icebergwriter as IW

    sup = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        for m in (0, 1, 2):
            IW.write_iceberg(
                spark, sup.filter(F.col("s_suppkey") % 4 == m), tbl,
                partition_by=["s_nationkey"],
            )
        meta = _latest_meta(Path(root))
        mj = LF.iceberg_metadata(meta)
        target = sorted(mj["snapshots"], key=lambda s: s["sequence-number"])[1]
        IW.rollback_iceberg(meta, target["snapshot-id"])

    root = _ensure("wrt_ice_history", sf_dir, build)
    meta_path = _latest_meta(root)
    mj = LF.iceberg_metadata(meta_path)
    seq_of = {s["snapshot-id"]: s["sequence-number"] for s in mj["snapshots"]}
    ancestors = IW.ancestor_ids(mj)
    cur_rows = LF.read_iceberg_snapshot(spark, meta_path).count()
    slog = mj["snapshot-log"]
    # the spec requires log timestamps monotonic; surface the check as
    # data so the oracle gates it rather than an assert nobody reruns
    monotonic = all(
        slog[i]["timestamp-ms"] > slog[i - 1]["timestamp-ms"]
        for i in range(1, len(slog))
    )
    rows = [
        (
            i + 1,
            int(seq_of[e["snapshot-id"]]),
            1 if e["snapshot-id"] in ancestors else 0,
            1 if monotonic else 0,
            int(cur_rows),
        )
        for i, e in enumerate(slog)
    ]
    return spark.createDataFrame(
        rows,
        "log_ordinal int, snapshot_ordinal int, is_current_ancestor int, "
        "log_monotonic int, current_rows long",
    )


def _iceberg_history_table_sql() -> str:
    return """
WITH cur AS (
  SELECT count(*) AS n FROM supplier WHERE s_suppkey % 4 IN (0, 1)
)
SELECT CAST(v.log_ordinal AS INTEGER) AS log_ordinal,
       CAST(v.snapshot_ordinal AS INTEGER) AS snapshot_ordinal,
       CAST(v.is_anc AS INTEGER) AS is_current_ancestor,
       CAST(1 AS INTEGER) AS log_monotonic,
       CAST((SELECT n FROM cur) AS BIGINT) AS current_rows
FROM (VALUES (1, 1, 1), (2, 2, 1), (3, 3, 0), (4, 2, 1))
     AS v(log_ordinal, snapshot_ordinal, is_anc)
"""


def iceberg_partitions_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``partitions`` metadata table: per-partition rollup of the
    LIVE manifest entries at the current snapshot — record count, data
    file count, and the spec id — plus the table-level position-delete
    row count (delete files are unpartitioned in this writer, as the
    delete parquet spans partitions; surfacing the count table-level
    mirrors what the entries actually say instead of inventing a
    per-partition split the metadata does not hold).

    The file count is CLOSED-FORM under the writer's colocate
    contract: one data file per partition per commit that had rows for
    it — so it equals the number of fixture slices (s_suppkey%3==0 /
    !=0) with ≥1 row in that nation, which SQL recomputes from the
    source.  A lost entry, a double-counted carry-forward, or a
    misplaced partition tuple each fail the hash.

    100 TB: this is the skew/small-file dashboard — partitions with
    huge record_count or file_count are the OPTIMIZE work queue;
    O(#manifest entries), no data read."""
    prep(spark)
    root = _ice_meta_fixture(spark, sf_dir)
    meta_path = _latest_meta(root)
    entries = LF.iceberg_snapshot_entries(meta_path)
    agg: dict[int, list] = {}
    del_rows = 0
    for e in entries:
        if e["status"] == 2:
            continue
        if e["content"] == 1:
            del_rows += int(e["record_count"])
            continue
        if e["content"] != 0:
            continue
        nk = int(e["partition"]["s_nationkey"])
        cur = agg.setdefault(nk, [0, 0])
        cur[0] += int(e["record_count"])
        cur[1] += 1
    rows = [
        (nk, c[0], c[1], 0, int(del_rows)) for nk, c in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows,
        "s_nationkey int, record_count long, file_count int, spec_id int, "
        "table_delete_rows long",
    )


def _iceberg_partitions_table_sql() -> str:
    return """
WITH d AS (SELECT count(*) AS n FROM supplier WHERE s_suppkey <= 3)
SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
       count(*) AS record_count,
       CAST(count(DISTINCT CASE WHEN s_suppkey % 3 = 0 THEN 0 ELSE 1 END)
            AS INTEGER) AS file_count,
       CAST(0 AS INTEGER) AS spec_id,
       CAST((SELECT n FROM d) AS BIGINT) AS table_delete_rows
FROM supplier
GROUP BY s_nationkey
"""


def iceberg_manifests_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``manifests`` metadata table: one row per manifest in the
    CURRENT snapshot's manifest list — content kind, added/existing/
    deleted file and row counts, and the partition FIELD SUMMARIES
    (Appendix-D decoded lower/upper bound of s_nationkey) that drive
    manifest-level pruning.  Paths and lengths are salted; ordinals by
    (sequence_number, content) are the stable identity.

    Closed form: manifest 1 = the %3==0 append (bounds = min/max
    nationkey over that slice), manifest 2 = the %3!=0 append,
    manifest 3 = the position-delete manifest (content 1, one file,
    bounds null).  A wrong field-summary encode — the thing manifest
    pruning trusts BEFORE opening any manifest — fails the hash here
    even when the entries inside are right.

    100 TB: the manifests table is how you audit WHY pruning did or
    didn't skip (bad summaries → full scans); one manifest-list avro
    read, ~KB."""
    prep(spark)
    from ..sources import skipping as SK

    root = _ice_meta_fixture(spark, sf_dir)
    meta_path = _latest_meta(root)
    mrows = _mlist_rows_current(meta_path)
    out = []
    for m in sorted(
        mrows, key=lambda m: (int(m["sequence_number"]), int(m["content"] or 0))
    ):
        lo = hi = None
        parts = m.get("partitions")
        if parts:
            p0 = parts[0]
            if p0.get("lower_bound") is not None:
                lo = int(SK.decode_iceberg_bound("int", p0["lower_bound"]))
            if p0.get("upper_bound") is not None:
                hi = int(SK.decode_iceberg_bound("int", p0["upper_bound"]))
        out.append(
            (
                int(m["sequence_number"]),
                int(m["content"] or 0),
                int(m["added_files_count"]),
                int(m["existing_files_count"]),
                int(m["deleted_files_count"]),
                int(m["added_rows_count"]),
                lo,
                hi,
            )
        )
    return spark.createDataFrame(
        out,
        "ordinal int, content int, added_files int, existing_files int, "
        "deleted_files int, added_rows long, nk_lower int, nk_upper int",
    )


def _iceberg_manifests_table_sql() -> str:
    return """
WITH s1 AS (
  SELECT count(*) AS rows_, count(DISTINCT s_nationkey) AS files_,
         min(s_nationkey) AS lo, max(s_nationkey) AS hi
  FROM supplier WHERE s_suppkey % 3 = 0
),
s2 AS (
  SELECT count(*) AS rows_, count(DISTINCT s_nationkey) AS files_,
         min(s_nationkey) AS lo, max(s_nationkey) AS hi
  FROM supplier WHERE s_suppkey % 3 <> 0
),
d3 AS (SELECT count(*) AS rows_ FROM supplier WHERE s_suppkey <= 3)
SELECT CAST(1 AS INTEGER) AS ordinal, CAST(0 AS INTEGER) AS content,
       CAST((SELECT files_ FROM s1) AS INTEGER) AS added_files,
       CAST(0 AS INTEGER) AS existing_files,
       CAST(0 AS INTEGER) AS deleted_files,
       CAST((SELECT rows_ FROM s1) AS BIGINT) AS added_rows,
       CAST((SELECT lo FROM s1) AS INTEGER) AS nk_lower,
       CAST((SELECT hi FROM s1) AS INTEGER) AS nk_upper
UNION ALL
SELECT 2, 0, (SELECT files_ FROM s2), 0, 0, (SELECT rows_ FROM s2),
       (SELECT lo FROM s2), (SELECT hi FROM s2)
UNION ALL
SELECT 3, 1, 1, 0, 0, (SELECT rows_ FROM d3), NULL, NULL
"""


# ---------------------------------------------------------------- F45


def iceberg_binary_bucket_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side bucket partitioning over a BINARY key: supplier with
    ``s_key = unhex(md5(s_suppkey))`` — a 16-byte uuid-shaped digest
    key, the shape content-addressed and surrogate-keyed tables actually
    use — lands under ``bucket(8, s_key)``.  Appendix B hashes the RAW
    bytes; the executor side runs the same bounded-buffer HOF murmur3
    the decimal path uses (functions/icetransforms.murmur3_binary,
    operand bound once), property-tested bit-for-bit against the
    pure-Python reference over every tail-length class.

    Per probed key (suppkeys 1..5's digests): the probe's own row
    rollup (n_rows + the matching s_suppkey — a wrong bucket placement
    returns zero rows and fails the value hash), probe_file_surplus =
    files opened − 1 (expected 0), wrong_bucket_files = opened files
    outside the key's spec-true bucket per the INDEPENDENT driver-side
    hash (skipping.iceberg_bucket_hash over bytes; expected 0), and
    files_total surplus over live buckets (expected 0).

    100 TB: digest/uuid point lookups open 1/N of the table regardless
    of size, with the hash in whole-stage codegen — the remaining
    Appendix-B source-type gap after F39 closed decimals."""
    prep(spark)
    from ..sources import icebergwriter as IW
    from ..sources import skipping as SK

    sup = load(spark, sf_dir, "supplier").withColumn(
        "s_key", F.unhex(F.md5(F.col("s_suppkey").cast("string")))
    )

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        IW.write_iceberg(spark, sup, tbl, partition_by=["bucket(8, s_key)"])

    root = _ensure("wrt_ice_binbucket", sf_dir, build)
    meta = _latest_meta(root)
    full = LF.read_iceberg_snapshot(spark, meta)
    full_files = full.inputFiles()
    files_total = len(full_files)
    n_buckets_live = len(
        {f.split("s_key_bucket=")[1].split("/")[0] for f in full_files}
    )
    import hashlib as _hl

    # per-probe prune evidence from the plan (inputFiles, driver-side),
    # row values from ONE tagged-union collect instead of one job per
    # probe (the same scheduling-latency fix as F34/F39)
    probe_keys = [_hl.md5(str(k).encode()).digest() for k in range(1, 6)]
    evidence = {}
    probes = []
    for key in probe_keys:
        pr = LF.read_iceberg_snapshot(spark, meta, predicate=[("s_key", "=", key)])
        opened = pr.inputFiles()
        want = (SK.iceberg_bucket_hash("binary", key) & 0x7FFFFFFF) % 8
        wrong = sum(1 for f in opened if f"s_key_bucket={want}" not in f)
        evidence[key] = (len(opened) - 1, wrong)
        probes.append(
            pr.select(F.lit(key.hex()).alias("probe_hex"), "s_suppkey")
        )
    u = probes[0]
    for p in probes[1:]:
        u = u.unionByName(p)
    by_key: dict[str, list] = {key.hex(): [] for key in probe_keys}
    for r in u.collect():
        by_key[r.probe_hex].append(r)
    rows = []
    for key in probe_keys:
        got = by_key[key.hex()]
        surplus, wrong = evidence[key]
        rows.append(
            (
                key.hex(),
                len(got),
                int(sum(r.s_suppkey for r in got)) if got else None,
                surplus,
                wrong,
                files_total - n_buckets_live,
            )
        )
    return spark.createDataFrame(
        rows,
        "key_hex string, n_rows int, sum_suppkey long, "
        "probe_file_surplus int, wrong_bucket_files int, "
        "files_total_surplus int",
    )


def _iceberg_binary_bucket_prune_sql() -> str:
    return """
WITH probes AS (SELECT k FROM (VALUES (1), (2), (3), (4), (5)) AS v(k))
SELECT
  md5(CAST(p.k AS VARCHAR)) AS key_hex,
  CAST(count(*) AS INTEGER) AS n_rows,
  CAST(sum(s.s_suppkey) AS BIGINT) AS sum_suppkey,
  CAST(0 AS INTEGER) AS probe_file_surplus,
  CAST(0 AS INTEGER) AS wrong_bucket_files,
  CAST(0 AS INTEGER) AS files_total_surplus
FROM probes p
JOIN supplier s ON s.s_suppkey = p.k
GROUP BY p.k
"""


# ---------------------------------------------------------------- F46


def iceberg_refs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``refs`` metadata table — production's ``t$refs`` /
    ``t.refs``: one row per named ref (tags and branches, spec v2
    ``refs`` map) plus the implicit ``main`` head, with each ref's
    snapshot ordinal and the ROW COUNT visible through it (the read
    bridge resolves ``ref=`` — so a silently moved or misresolved ref
    fails the value hash, not just the name list).

    Fixture: three appended supplier slices (%5 == 0/1/2); tag ``v1``
    pins snapshot 1, branch ``dev`` pins snapshot 2, main ends at
    snapshot 3.  All closed-form over the supplier source.

    100 TB: refs are the deploy/rollback/experiment surface (pin an
    eval set, branch an backfill); the table is O(#refs) JSON plus one
    pinned read per ref."""
    prep(spark)
    from ..sources import icebergwriter as IW

    supp = load(spark, sf_dir, "supplier")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        r1 = IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 5 == 0), tbl)
        IW.set_iceberg_ref(r1["metadata_path"], "v1", ref_type="tag")
        r2 = IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 5 == 1), tbl)
        latest2 = _latest_meta(Path(root))
        IW.set_iceberg_ref(
            latest2, "dev", snapshot_id=r2["snapshot_id"], ref_type="branch"
        )
        IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 5 == 2), tbl)

    root = _ensure("wrt_ice_refstbl", sf_dir, build)
    meta_path = _latest_meta(root)
    mj = LF.iceberg_metadata(meta_path)
    seq_of = {s["snapshot-id"]: s["sequence-number"] for s in mj["snapshots"]}
    rows = []
    for name in sorted(mj.get("refs") or {}):
        ref = mj["refs"][name]
        n = LF.read_iceberg_snapshot(spark, meta_path, ref=name).count()
        rows.append(
            (name, ref["type"], int(seq_of[ref["snapshot-id"]]), int(n))
        )
    cur = LF.read_iceberg_snapshot(spark, meta_path).count()
    rows.append(
        ("main", "branch", int(seq_of[mj["current-snapshot-id"]]), int(cur))
    )
    return spark.createDataFrame(
        rows, "ref_name string, ref_type string, snapshot_ordinal int, ref_rows long"
    )


def _iceberg_refs_table_sql() -> str:
    return """
WITH c AS (
  SELECT
    (SELECT count(*) FROM supplier WHERE s_suppkey % 5 = 0) AS n1,
    (SELECT count(*) FROM supplier WHERE s_suppkey % 5 IN (0, 1)) AS n2,
    (SELECT count(*) FROM supplier WHERE s_suppkey % 5 IN (0, 1, 2)) AS n3
)
SELECT v.ref_name, v.ref_type,
       CAST(v.ord AS INTEGER) AS snapshot_ordinal,
       CAST(CASE v.ord WHEN 1 THEN c.n1 WHEN 2 THEN c.n2 ELSE c.n3 END AS BIGINT)
         AS ref_rows
FROM (VALUES ('v1', 'tag', 1), ('dev', 'branch', 2), ('main', 'branch', 3))
     AS v(ref_name, ref_type, ord), c
"""


# ---------------------------------------------------------------- F47


def _delta_history_rows(table_path: str) -> list[tuple[int, str | None, int]]:
    """(version, commitInfo operation, net live rows) per commit, from
    the _delta_log alone: each commit replays through the reader's own
    ``_parse_commit`` / ``_apply_commit``, and a version's rows are the
    add.stats numRecords minus DV cardinality of the files live at it.
    ``add.stats`` is optional in the protocol, but this replay has no
    other source of row counts, so a stats-less add raises."""
    log = Path(table_path) / "_delta_log"
    rows: list[tuple[int, str | None, int]] = []
    state = LF._DeltaState()
    live: dict[str, int] = {}  # path -> net rows of its latest add
    for v in LF._log_versions(log)[0]:
        parsed = LF._parse_commit(log, v)
        for a in parsed["adds"]:
            stats = a.get("stats")
            if not stats:
                raise LF.LakeFormatError(
                    "delta history derives rows from add.stats "
                    f"numRecords; {a['path']} at version {v} carries "
                    "none"
                )
            n = int(json.loads(stats)["numRecords"])
            dv = a.get("deletionVector")
            if dv:
                n -= int(dv["cardinality"])
            live[a["path"]] = n
        LF._apply_commit(state, parsed)
        op = (parsed["commit_info"] or {}).get("operation")
        rows.append((v, op, int(sum(live[p] for p in state.files))))
    return rows


def delta_history_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for Delta — the Delta twin of F42's
    Iceberg history table: one row per commit with its version, the
    commitInfo OPERATION the writer recorded, and the ROW COUNT
    visible at that version through time travel — so the history
    surface is value-gated (a mislabeled operation, a broken
    time-travel read, or a RESTORE that didn't restore all fail the
    hash), not just a name listing.

    Fixture: WRITE (orders %4==0) → WRITE append (%4==1) → DELETE
    (o_orderkey <= 50, DV path) → OPTIMIZE (no data change) → RESTORE
    to version 1.  Every per-version count is closed-form SQL over the
    orders source; RESTORE must land back on exactly the version-1
    state.

    100 TB: the history table is the ops surface — audit trails,
    incident forensics ('what did the 03:00 job do'), restore
    decisions; O(#commits) JSON reads of the log, no data touched —
    ``rows_at`` is log-only arithmetic (``_delta_history_rows``) and
    exactly ONE time-travel read gates the restored head's value
    against it, so the surface never runs a data scan per version."""
    prep(spark)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )

    def build(tbl: str) -> None:
        DW.write_delta(spark, orders.filter(F.col("o_orderkey") % 4 == 0), tbl)
        DW.write_delta(
            spark,
            orders.filter(F.col("o_orderkey") % 4 == 1),
            tbl,
            mode="append",
        )
        DW.delete_delta(spark, tbl, [("o_orderkey", "<=", 50)])
        DW.optimize_delta(spark, tbl)
        DW.restore_delta(tbl, 1)

    tbl = str(_ensure("wrt_delta_history", sf_dir, build))
    rows = _delta_history_rows(tbl)
    # the ONE sanctioned data read: time-travel the restored head and
    # gate it against the log arithmetic, so a stats lie or a broken
    # replay fails loudly without re-scanning every version
    head = int(LF.read_delta_snapshot(spark, tbl).count())
    if head != rows[-1][2]:
        raise LF.LakeFormatError(
            f"log-derived head rows {rows[-1][2]} != time-travel read {head}"
        )
    return spark.createDataFrame(rows, "version int, operation string, rows_at long")


def _delta_history_table_sql() -> str:
    return """
WITH c AS (
  SELECT
    (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 0) AS n0,
    (SELECT count(*) FROM orders WHERE o_orderkey % 4 IN (0, 1)) AS n01,
    (SELECT count(*) FROM orders
      WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey > 50) AS n_del
)
SELECT CAST(v.version AS INTEGER) AS version, v.operation,
       CAST(CASE v.version
            WHEN 0 THEN c.n0
            WHEN 1 THEN c.n01
            WHEN 2 THEN c.n_del
            WHEN 3 THEN c.n_del
            ELSE c.n01 END AS BIGINT) AS rows_at
FROM (VALUES (0, 'WRITE'), (1, 'WRITE'), (2, 'DELETE'),
             (3, 'OPTIMIZE'), (4, 'RESTORE')) AS v(version, operation), c
"""


# ---------------------------------------------------------------- F48


def delta_files_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta add-file introspection surface — F40's twin for
    Delta (what DESCRIBE DETAIL / the add-file listing backs): one row
    per partition value with live file count, add.stats record count,
    DV-deleted row count, and the NET live rows — all from the
    _delta_log alone, no data file opened.

    Fixture: customer partitioned by c_mktsegment (colocate → one file
    per segment), then DELETE c_acctbal < 0.0 as deletion vectors — so
    per-segment record counts, DV cardinalities, and the net are each
    closed-form SQL over the customer source.  A wrong stats write, a
    lost DV descriptor, or a partitionValues misplacement each fail
    the value hash.

    Like F14 (which shares this fixture), the closed form assumes no
    segment is FULLY deleted: a file whose every row matched becomes a
    plain remove and leaves the listing, while the SQL twin would
    still emit its segment with n_files=1 — stock data keeps every
    segment mixed-sign, and a violation fails the hash loudly rather
    than silently.

    100 TB: this is the OPTIMIZE/small-file/delete-debt dashboard for
    Delta tables — DV debt per partition is exactly what schedules a
    REWRITE; O(#add entries) JSON, no data read."""
    prep(spark)
    import json as _json

    tbl = _cust_del_fixture(spark, sf_dir)
    snap = LF.delta_snapshot(tbl)
    agg: dict[str, list] = {}
    for f in snap["files"]:
        seg = f["partitionValues"]["c_mktsegment"]
        n = _json.loads(f["stats"])["numRecords"]
        dv = f.get("deletionVector")
        card = int(dv["cardinality"]) if dv else 0
        cur = agg.setdefault(seg, [0, 0, 0])
        cur[0] += 1
        cur[1] += int(n)
        cur[2] += card
    rows = [
        (seg, c[0], c[1], c[2], c[1] - c[2]) for seg, c in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows,
        "c_mktsegment string, n_files int, record_count long, "
        "dv_deleted long, live_rows long",
    )


def _delta_files_table_sql() -> str:
    return """
SELECT c_mktsegment,
       CAST(1 AS INTEGER) AS n_files,
       count(*) AS record_count,
       CAST(sum(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS dv_deleted,
       CAST(count(*) - sum(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS live_rows
FROM customer
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- F49


def iceberg_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH on Iceberg branch refs — the production WAP
    loop end-to-end: supplier slice
    %3==0 commits to main; slice %3==1 STAGES on an ``audit`` branch
    (``write_iceberg(..., ref="audit")`` — the refs-map head moves,
    ``current-snapshot-id``/``snapshot-log`` do not); the audit gate
    validates the branch read; ``fast_forward_iceberg("main",
    "audit")`` publishes atomically; a later main commit (%3==2) makes
    the branch head stale and a second fast-forward must REFUSE
    (non-ancestor — it would drop main's new commit).

    Three value-gated phases, each read through the independent
    bridge AT ITS OWN metadata version (old vN.metadata.json files
    persist, so pre-publish isolation is read back, not remembered):
    ``main_staged`` (pre-publish main: %3==0 only — staged data
    INVISIBLE), ``audit_staged`` (pre-publish branch: %3 in (0,1)),
    ``main_final`` (published + post-publish commit: all rows).
    Evidence columns published=1 (one snapshot fast-forwarded) and
    ff_refused=1 (the stale publish refused) are closed-form.

    100 TB: WAP is THE production pattern for validated ingestion —
    stage terabytes on a branch, run quality gates against the branch
    read, publish by flipping one metadata pointer; a failed gate
    costs zero main-table churn.  Reference frame: the public Iceberg
    spec's `refs` section (explore.R has no lake layer)."""
    prep(spark)
    import json as _json

    from ..sources import icebergwriter as IW

    supp = load(spark, sf_dir, "supplier")

    def build(tbl: str) -> None:
        IW.write_iceberg(spark, supp.filter(F.col("s_suppkey") % 3 == 0), tbl)
        st = IW.write_iceberg(
            spark, supp.filter(F.col("s_suppkey") % 3 == 1), tbl, ref="audit"
        )
        staged_meta = st["metadata_path"]
        # the AUDIT gate: validate the branch read before publishing
        staged_rows = LF.read_iceberg_snapshot(
            spark, staged_meta, ref="audit"
        ).count()
        expect = supp.filter(F.col("s_suppkey") % 3 < 2).count()
        if staged_rows != expect:
            raise LF.LakeFormatError(
                f"audit gate failed: staged branch has {staged_rows} rows, "
                f"expected {expect} — refusing to publish"
            )
        pub = IW.fast_forward_iceberg(staged_meta, "main", "audit")
        r3 = IW.write_iceberg(
            spark, supp.filter(F.col("s_suppkey") % 3 == 2), tbl
        )
        refused = 0
        try:
            IW.fast_forward_iceberg(r3["metadata_path"], "main", "audit")
        except LF.LakeFormatError:
            refused = 1
        (Path(tbl) / "_RT_WAP").write_text(
            _json.dumps(
                {
                    "staged_meta": os.path.basename(staged_meta),
                    "published": pub["published"],
                    "refused": refused,
                }
            )
        )

    tbl = str(_ensure("wrt_ice_wap", sf_dir, build))
    wap = _json.loads((Path(tbl) / "_RT_WAP").read_text())
    staged_meta = str(Path(tbl) / "metadata" / wap["staged_meta"])
    latest = str(
        max(
            Path(tbl, "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name.split(".")[0][1:]),
        )
    )
    outs = []
    for phase, df in (
        ("main_staged", LF.read_iceberg_snapshot(spark, staged_meta)),
        ("audit_staged", LF.read_iceberg_snapshot(spark, staged_meta, ref="audit")),
        ("main_final", LF.read_iceberg_snapshot(spark, latest)),
    ):
        outs.append(
            df.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(_dec("s_acctbal")).cast("double").alias("sum_bal"),
                F.countDistinct("s_nationkey").alias("n_nations"),
            )
            .select(
                F.lit(phase).alias("phase"),
                "*",
                F.lit(int(wap["published"])).cast("int").alias("published"),
                F.lit(int(wap["refused"])).cast("int").alias("ff_refused"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _iceberg_wap_publish_sql() -> str:
    s = _DSUM.format(c="s_acctbal")
    return f"""
WITH states AS (
  SELECT 'main_staged' AS phase, * FROM supplier WHERE s_suppkey % 3 = 0
  UNION ALL
  SELECT 'audit_staged', * FROM supplier WHERE s_suppkey % 3 IN (0, 1)
  UNION ALL
  SELECT 'main_final', * FROM supplier
)
SELECT
  phase,
  count(*) AS n_rows,
  {s} AS sum_bal,
  count(DISTINCT s_nationkey) AS n_nations,
  CAST(1 AS INTEGER) AS published,
  CAST(1 AS INTEGER) AS ff_refused
FROM states
GROUP BY phase
"""
