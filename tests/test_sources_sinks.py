"""E-plumbing tests (SURVEY.md §2 E): partitioned writes prune
directories, the artifact reader scales over many files, the
exactly-once Delta streaming sink, the Python data source, and the Delta/Iceberg read
bridges."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_json_readr_spark import sinks
from tests.plan_utils import formatted_plan


def test_write_partitioned_lays_out_pruneable_dirs(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", 1.0, "2024-01-01"), (2, "y", 2.0, "2024-01-02")],
        "id long, name string, v double, dt string",
    )
    out = str(tmp_path / "out")
    sinks.write_partitioned(df, out, ["dt"])
    assert sorted(d for d in os.listdir(out) if d.startswith("dt=")) == [
        "dt=2024-01-01",
        "dt=2024-01-02",
    ]
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-01")
    # partition pruning: only one partition directory is read
    assert "PartitionFilters" in formatted_plan(back)
    assert back.count() == 1


def test_artifact_reader_scales_over_many_files(spark, tmp_path):
    """The 100 TB posture: a glob of N manifest files parses as N rows
    ×nodes in ONE distributed scan (reference reads exactly one file)."""
    import shutil

    from dbt_json_readr_spark.sources import artifacts as A

    src = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "fixtures", "dbt", "target", "manifest.json",
    )
    for i in range(3):
        shutil.copy(src, tmp_path / f"manifest_{i}.json")
    one = A.manifest_nodes(spark, src)
    many = A.manifest_nodes(spark, str(tmp_path / "manifest_*.json"))
    assert many.count() == 3 * one.count()
    # rows from different files are distinguished by artifact_path
    assert many.select("artifact_path").distinct().count() == 3


def test_observed_metrics_ride_along_with_the_action(spark, sf_dir):
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.session import observed
    from dbt_json_readr_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    df, obs = observed(
        li.filter(F.col("l_quantity") > 25),
        "scan_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("qty"),
    )
    n = df.count()  # one action materializes data AND metrics
    got = obs.get
    assert got["n_rows"] == n and got["qty"] > 0


# ------------------------------------------------ exactly-once Delta sink


def test_delta_sink_streaming_restart_exactly_once(spark, tmp_path):
    """End-to-end: a checkpointed stream drains into a Delta table through
    the shared exactly-once sink, the query restarts with more input, and
    the committed table holds every source row exactly once."""
    import glob
    import shutil

    from dbt_json_readr_spark.sources import lakeformats as LF
    from dbt_json_readr_spark.sources.tables import load
    from dbt_json_readr_spark.streaming.jobs import delta_sink

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    src = tmp_path / "src"
    src.mkdir()
    ev = load(spark, sf, "events")
    halves = []
    for i, pred in enumerate(["event_id % 2 = 0", "event_id % 2 = 1"]):
        part_dir = str(tmp_path / f"w{i}")
        half = ev.filter(pred).select("event_id", "event_type", "value")
        halves.append({r.event_id for r in half.select("event_id").collect()})
        half.coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"half_{i}.parquet")
        shutil.rmtree(part_dir)

    tbl = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "events_*.parquet")
            .parquet(str(src))
            .select("event_id", "event_type", "value")
        )
        q = (
            stream.writeStream.foreachBatch(delta_sink(tbl, "restart-test"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    shutil.copy(tmp_path / "half_0.parquet", src / "events_0.parquet")
    run_once()
    assert {r.event_id for r in LF.read_delta_snapshot(spark, tbl).collect()} == halves[0]

    shutil.copy(tmp_path / "half_1.parquet", src / "events_1.parquet")
    run_once()
    ids = [r.event_id for r in LF.read_delta_snapshot(spark, tbl).collect()]
    assert len(ids) == len(set(ids)), "duplicates after restart"
    assert set(ids) == halves[0] | halves[1]


def test_pysource_batch_partitions_and_determinism(spark):
    """The Python Data Source connector plans one partition per row
    range and yields md5-deterministic rows: two reads with different
    partition counts must return identical row sets (the determinism
    contract a custom connector owes its consumers)."""
    from dbt_json_readr_spark.sources import pysource

    pysource.register(spark)

    def rows(parts):
        return sorted(
            tuple(r)
            for r in spark.read.format("synthetic_events")
            .option("n", 500)
            .option("n_users", 50)
            .option("partitions", parts)
            .load()
            .collect()
        )

    a, b = rows(2), rows(13)
    assert a == b and len(a) == 500
    # pure-Python replay of the contract for row 0
    assert a[0] == pysource._row(0, 50)


def test_pysource_stream_drains_to_batch_equality(spark):
    """The streaming side (DataSourceStreamReader, partition-planned
    micro-batches) must converge to exactly the batch read's rows."""
    from dbt_json_readr_spark.sources import pysource

    pysource.register(spark)
    batch = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_events")
        .option("n", 400)
        .option("n_users", 40)
        .load()
        .collect()
    )
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", 400)
        .option("n_users", 40)
        .option("rows_per_batch", 100)
        .option("partitions", 4)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pysource_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = sorted(tuple(r) for r in spark.table("pysource_stream").collect())
    assert got == batch


def test_pysource_stream_reader_tiles_batches_completely():
    """Offset planning: partitions(start, end) must tile [start, end)
    COMPLETELY with rows_per_batch-bounded ranges.  The original
    formulation capped coverage at rows_per_batch × partitions — but
    the plain MicroBatchStream API commits `end` regardless of what
    partitions() planned, so truncation silently DROPPED the rows past
    the cap (caught by r4 code review; under availableNow the engine
    plans the whole backlog as one batch)."""
    from dbt_json_readr_spark.sources.pysource import _StreamReader

    r = _StreamReader({"n": "1000", "rows_per_batch": "100", "partitions": "4"})
    assert r.initialOffset() == {"i": 0}
    assert r.latestOffset() == {"i": 1000}
    parts = r.partitions({"i": 0}, {"i": 1000})
    # complete coverage of the committed range — nothing lost
    covered = sorted((p.start, p.end) for p in parts)
    assert covered[0][0] == 0
    assert max(p.end for p in parts) == 1000
    for (s1, e1), (s2, _e2) in zip(covered, covered[1:]):
        assert e1 == s2
    # every partition stays executor-memory-bounded
    assert all(p.end - p.start <= 100 for p in parts)


# ---------------------------------------------------------------- r6
# External-format bridges (VERDICT r5 item 6): read-path correctness is
# covered by the gated E-keys; these pin the LOUD gates and the Iceberg
# type translation.


def test_delta_bridge_gates_and_time_travel(spark, tmp_path):
    import json

    import pytest

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    # time travel pins exact file sets (v1 = v0 files + one add,
    # restated file not yet visible)
    v0 = {f["path"] for f in LF.delta_snapshot(str(LP.DELTA_DIR), 0)["files"]}
    v1 = {f["path"] for f in LF.delta_snapshot(str(LP.DELTA_DIR), 1)["files"]}
    v2 = {f["path"] for f in LF.delta_snapshot(str(LP.DELTA_DIR))["files"]}
    assert v1 == v0 | {"year=2025/part-1.parquet"}
    assert "year=2024/part-0.parquet" in v0 and "year=2024/part-0.parquet" not in v2

    # reader-protocol 3 with an UNIMPLEMENTED feature gates loudly
    # (deletionVectors, columnMapping and — since r9 — v2Checkpoint are
    # implemented and pass)
    t = tmp_path / "v2ck_table"
    (t / "_delta_log").mkdir(parents=True)
    (t / "_delta_log" / f"{0:020d}.json").write_text(
        json.dumps({"protocol": {"minReaderVersion": 3, "readerFeatures": ["timestampNtz"]}})
        + "\n"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="timestampNtz"):
        LF.delta_snapshot(str(t))

    # non-Delta dir is a plain error
    with pytest.raises(LF.LakeFormatError, match="_delta_log"):
        LF.delta_snapshot(str(tmp_path / "nope"))


def test_delta_checkpoint_replay_and_vacuumed_history_gate(spark, tmp_path):
    """r6: checkpoint-parquet replay is REAL (the old loud gate became
    an implementation): a vacuumed table (JSON commits 0-1 gone, state
    at the checkpoint) must read exactly — checkpoint seeds the file
    set, later JSON commits replay on top; time travel BEHIND the
    retained log still gates loudly because that history is gone."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "ckpt_table"
    log = t / "_delta_log"
    log.mkdir(parents=True)
    for name, lo in (("part-a.parquet", 1), ("part-b.parquet", 6), ("part-c.parquet", 11)):
        pq.write_table(
            pa.table({"id": pa.array(range(lo, lo + 5), pa.int64())}), t / name
        )
    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [{"name": "id", "type": "long", "nullable": False, "metadata": {}}],
        }
    )

    # checkpoint at version 1: protocol + metaData + adds for a, b
    pv_type = pa.map_(pa.string(), pa.string())
    add_type = pa.struct([("path", pa.string()), ("partitionValues", pv_type)])
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("format", pa.struct([("provider", pa.string())])),
        ]
    )
    proto_type = pa.struct([("minReaderVersion", pa.int32())])
    rows = [
        {"add": None, "metaData": None, "protocol": {"minReaderVersion": 1}},
        {
            "add": None,
            "metaData": {
                "id": "ck",
                "schemaString": schema_string,
                "partitionColumns": [],
                "format": {"provider": "parquet"},
            },
            "protocol": None,
        },
        {"add": {"path": "part-a.parquet", "partitionValues": []}, "metaData": None, "protocol": None},
        {"add": {"path": "part-b.parquet", "partitionValues": []}, "metaData": None, "protocol": None},
    ]
    ck = pa.table(
        {
            "add": pa.array([r["add"] for r in rows], add_type),
            "metaData": pa.array([r["metaData"] for r in rows], meta_type),
            "protocol": pa.array([r["protocol"] for r in rows], proto_type),
        }
    )
    pq.write_table(ck, log / f"{1:020d}.checkpoint.parquet")
    (log / "_last_checkpoint").write_text('{"version": 1}')
    # JSON commit 2 (the only retained one): restate a -> c
    (log / f"{2:020d}.json").write_text(
        "\n".join(
            _json.dumps(a)
            for a in [
                {"remove": {"path": "part-a.parquet", "dataChange": True}},
                {"add": {"path": "part-c.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
            ]
        )
        + "\n"
    )

    snap = LF.delta_snapshot(str(t))
    assert snap["version"] == 2
    assert {f["path"] for f in snap["files"]} == {"part-b.parquet", "part-c.parquet"}
    got = sorted(r.id for r in LF.read_delta_snapshot(spark, str(t)).collect())
    assert got == list(range(6, 16))

    # time travel TO the checkpoint itself: its state alone
    snap1 = LF.delta_snapshot(str(t), 1)
    assert {f["path"] for f in snap1["files"]} == {"part-a.parquet", "part-b.parquet"}

    # behind the retained log: loud gate, history is vacuumed
    with pytest.raises(LF.LakeFormatGatedError, match="vacuumed"):
        LF.delta_snapshot(str(t), 0)

    # a missing checkpoint part is a metadata error, not silence
    (log / f"{1:020d}.checkpoint.parquet").unlink()
    with pytest.raises(LF.LakeFormatError, match="missing checkpoint part"):
        LF.delta_snapshot(str(t))


def test_iceberg_schema_translation_and_avro_gate(spark):
    import pytest
    from pyspark.sql import types as T

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    schema = LF.iceberg_schema_to_spark(
        {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": True, "type": "long"},
                {"id": 2, "name": "amt", "required": False, "type": "decimal(12,2)"},
                {
                    "id": 3,
                    "name": "tags",
                    "required": False,
                    "type": {"type": "list", "element": "string", "element-required": True},
                },
                {
                    "id": 4,
                    "name": "props",
                    "required": False,
                    "type": {"type": "map", "key": "string", "value": "double"},
                },
                {
                    "id": 5,
                    "name": "nested",
                    "required": False,
                    "type": {
                        "type": "struct",
                        "fields": [
                            {"id": 6, "name": "ts", "required": False, "type": "timestamptz"}
                        ],
                    },
                },
            ],
        }
    )
    assert schema["id"].dataType == T.LongType() and not schema["id"].nullable
    assert schema["amt"].dataType == T.DecimalType(12, 2)
    assert schema["tags"].dataType == T.ArrayType(T.StringType(), False)
    assert schema["props"].dataType == T.MapType(T.StringType(), T.DoubleType(), True)
    assert schema["nested"].dataType["ts"].dataType == T.TimestampType()
    with pytest.raises(LF.LakeFormatError, match="unsupported"):
        LF.iceberg_schema_to_spark(
            {"type": "struct", "fields": [{"id": 1, "name": "x", "type": "geometry"}]}
        )

    # unknown snapshot id is a plain metadata error
    LP.ensure_lake_fixtures()
    with pytest.raises(LF.LakeFormatError, match="not in metadata"):
        LF.iceberg_snapshot_info(str(LP.ICEBERG_META), 9999)


def test_iceberg_data_walk_gates(spark, tmp_path):
    """Position AND equality deletes apply, so the gates that remain
    are semantic: an equality delete that CANNOT be applied correctly
    (no equality_ids / sequence numbers in the manifest) must refuse
    loudly rather than guess."""
    import json
    import shutil

    import pytest

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_iceberg_manifests()
    # clone the fixture, swap 1004's delete manifest for an EQUALITY one
    t = tmp_path / "tbl"
    shutil.copytree(LP.ICEBERG_DIR, t)
    LF.write_avro_records(
        str(t / "metadata" / "dm-1004.avro"),
        json.dumps(
            {
                "type": "record",
                "name": "manifest_entry",
                "fields": [
                    {"name": "status", "type": "int"},
                    {"name": "snapshot_id", "type": ["null", "long"], "default": None},
                    {
                        "name": "data_file",
                        "type": {
                            "type": "record",
                            "name": "r2",
                            "fields": [
                                {"name": "content", "type": "int"},
                                {"name": "file_path", "type": "string"},
                                {"name": "file_format", "type": "string"},
                                {"name": "record_count", "type": "long"},
                            ],
                        },
                    },
                ],
            }
        ),
        [{"status": 1, "snapshot_id": 1004,
          "data_file": {"content": 2, "file_path": "data/eqdel.parquet",
                        "file_format": "PARQUET", "record_count": 2}}],
    )
    with pytest.raises(LF.LakeFormatGatedError, match="without equality_ids"):
        LF.read_iceberg_snapshot(
            spark, str(t / "metadata" / "v3.metadata.json"), 1004
        )


def test_delta_column_mapping_name_mode_read_and_rename(spark):
    """Column mapping 'name' (r7): both snapshots of the column-mapped
    fixture read the same physical parquet bytes; v1's metadata-only
    rename changes the logical column name and nothing else."""
    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    v0 = LF.read_delta_snapshot(spark, str(LP.DELTA_CM_DIR), version=0)
    v1 = LF.read_delta_snapshot(spark, str(LP.DELTA_CM_DIR), version=1)
    assert v0.columns == ["id", "quantity", "region"]
    assert v1.columns == ["id", "qty_renamed", "region"]
    rows0 = {(r.id, r.quantity, r.region) for r in v0.collect()}
    # v0 pins commits ≤0: two files, regions resolved via PHYSICAL
    # partitionValues key
    assert rows0 == {
        (i, i * 3 + 1, "east") for i in range(1, 9)
    } | {(i, i * 3 + 1, "west") for i in range(9, 15)}
    rows1 = {(r.id, r.qty_renamed, r.region) for r in v1.collect()}
    assert rows1 == rows0 | {(i, i * 3 + 1, "east") for i in range(15, 20)}


def test_delta_column_mapping_gates(spark, tmp_path):
    """'id' mode without field ids, missing physicalName, and
    non-columnMapping reader features all gate loudly instead of
    mis-reading."""
    import json

    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    def write_log(actions):
        import shutil

        t = tmp_path / "t"
        shutil.rmtree(t, ignore_errors=True)
        (t / "_delta_log").mkdir(parents=True)
        (t / "_delta_log" / f"{0:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
        return str(t)

    proto = {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
    base_field = {
        "name": "id",
        "type": "long",
        "nullable": True,
        "metadata": {"delta.columnMapping.physicalName": "col-x"},
    }

    # id mode (r8: supported) is MALFORMED without delta.columnMapping.id
    md = {
        "metaData": {
            "id": "x",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": [base_field]}
            ),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
        }
    }
    with pytest.raises(LF.LakeFormatError, match="columnMapping.id"):
        LF.delta_snapshot(write_log([proto, md]))

    # name mode without physicalName is malformed
    bare = dict(base_field, metadata={})
    md2 = {
        "metaData": {
            "id": "x",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [bare]}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }
    }
    with pytest.raises(LF.LakeFormatError, match="physicalName"):
        LF.delta_snapshot(write_log([proto, md2]))

    # reader 3 with columnMapping alone is now READABLE; an
    # unimplemented feature still gates
    ok3 = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
        }
    }
    md3 = {
        "metaData": {
            "id": "x",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": [base_field]}
            ),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }
    }
    snap = LF.delta_snapshot(write_log([ok3, md3]))
    assert snap["physical_names"] == {"id": "col-x"}
    bad3 = {
        "protocol": {
            "minReaderVersion": 3,
            "readerFeatures": ["columnMapping", "timestampNtz"],
        }
    }
    with pytest.raises(LF.LakeFormatGatedError, match="timestampNtz"):
        LF.delta_snapshot(write_log([bad3, md3]))


def test_iceberg_resolve_gates_foreign_uri_schemes():
    """s3:// (or any non-file scheme) in metadata locations gates
    loudly instead of resolving to a nonsense local path."""
    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    with pytest.raises(LF.LakeFormatGatedError, match="s3"):
        LF._resolve("s3://bucket/warehouse/t/metadata/snap.avro", "/tmp/root")
    assert LF._resolve("file:///x/y.avro", "/r") == "/x/y.avro"
    assert LF._resolve("data/f.parquet", "/r") == "/r/data/f.parquet"


def test_delta_bridge_reads_protocol_md_example_log(spark, tmp_path):
    """VERDICT r6 item 3: a bridge input the bridge author did NOT
    shape.  The commit actions below are transcribed from the examples
    published in Delta Lake's PROTOCOL.md (commitInfo from 'Commit
    Provenance Information', protocol from 'Protocol Evolution',
    metaData — table id af23c9d7... — from 'Change Metadata', add/
    remove from 'Add File and Remove File', stats from 'Per-file
    Statistics'); only the spec's elisions (schemaString contents, the
    elided part-file name) are filled in minimally so the log is
    complete.  The bridge must replay a writer-shaped log bit-for-bit:
    tolerate commitInfo / stats / tags / engineInfo fields it does not
    model, key partitions off partitionValues, and honor the remove."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "events_table"
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "letter", "type": "string", "nullable": True, "metadata": {}},
                {"name": "number", "type": "long", "nullable": True, "metadata": {}},
                {"name": "date", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    add_path = (
        "date=2017-12-10/part-00000-9bc6af16-b391-4b1f-a4cd-ed842a742b27.c000.gz.parquet"
    )
    commit0 = [
        {
            "commitInfo": {
                "timestamp": 1515491537026,
                "userId": "100121",
                "userName": "michael@databricks.com",
                "operation": "WRITE",
                "operationParameters": {"mode": "ErrorIfExists", "partitionBy": "[]"},
                "notebook": {"notebookId": "4443029"},
                "clusterId": "1052-171324-bared597",
                "isBlindAppend": True,
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "af23c9d7-fff1-4a5a-a2c8-55c59bd782aa",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": ["date"],
                "configuration": {"appendOnly": "true"},
            }
        },
        {
            "add": {
                "path": add_path,
                "partitionValues": {"date": "2017-12-10"},
                "size": 841454,
                "modificationTime": 1512909768000,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": 2,
                        "minValues": {"letter": "a", "number": 1},
                        "maxValues": {"letter": "b", "number": 3},
                        "nullCount": {"letter": 0, "number": 0},
                    }
                ),
                "tags": {"INSERTION_TIME": "1512909768000"},
            }
        },
    ]
    commit1 = [
        {
            "remove": {
                "path": add_path,
                "deletionTimestamp": 1515488792485,
                "dataChange": True,
            }
        },
        {
            "add": {
                "path": "date=2017-12-11/part-00000-1fb2b56a.c000.snappy.parquet",
                "partitionValues": {"date": "2017-12-11"},
                "size": 452,
                "modificationTime": 1515488792485,
                "dataChange": True,
            }
        },
    ]
    log = t / "_delta_log"
    log.mkdir(parents=True)
    for v, actions in enumerate([commit0, commit1]):
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
    file_rows = {
        add_path: (["a", "b"], [1, 3]),
        "date=2017-12-11/part-00000-1fb2b56a.c000.snappy.parquet": (["c"], [7]),
    }
    for rel, (letters, numbers) in file_rows.items():
        dest = t / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "letter": pa.array(letters, pa.string()),
                    "number": pa.array(numbers, pa.int64()),
                }
            ),
            dest,
        )

    v0 = LF.read_delta_snapshot(spark, str(t), version=0)
    assert {(r.letter, r.number, r.date) for r in v0.collect()} == {
        ("a", 1, "2017-12-10"),
        ("b", 3, "2017-12-10"),
    }
    v1 = LF.read_delta_snapshot(spark, str(t))
    assert {(r.letter, r.number, r.date) for r in v1.collect()} == {
        ("c", 7, "2017-12-11")
    }


def test_iceberg_bridge_reads_spec_appendix_shaped_metadata(tmp_path):
    """Iceberg half of VERDICT r6 item 3: the schema / partition-spec /
    sort-order JSON blocks follow the Iceberg table spec's Appendix C
    serialization examples (field ids, required flags, transform
    strings, source-ids) rather than this repo's fixture conventions;
    the metadata parse + type translation must take them as-is."""
    import json

    from dbt_json_readr_spark.sources import lakeformats as LF

    meta = {
        "format-version": 2,
        "table-uuid": "fb072c92-a02b-11e9-ae9c-1bb7bc9eca94",
        "location": "s3://b/wh/data.db/table",
        "last-sequence-number": 1,
        "last-updated-ms": 1515100955770,
        "last-column-id": 3,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "identifier-field-ids": [1],
                "fields": [
                    {"id": 1, "name": "id", "required": True, "type": "uuid"},
                    {"id": 2, "name": "data", "required": False, "type": "string"},
                    {
                        "id": 3,
                        "name": "measurement",
                        "required": True,
                        "type": "decimal(9, 2)",
                    },
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "source-id": 2,
                        "field-id": 1000,
                        "name": "data_bucket",
                        "transform": "bucket[16]",
                    }
                ],
            }
        ],
        "last-partition-id": 1000,
        "default-sort-order-id": 1,
        "sort-orders": [
            {
                "order-id": 1,
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": 2,
                        "direction": "asc",
                        "null-order": "nulls-first",
                    }
                ],
            }
        ],
        "current-snapshot-id": 3051729675574597004,
        "snapshots": [
            {
                "snapshot-id": 3051729675574597004,
                "sequence-number": 1,
                "timestamp-ms": 1515100955770,
                "manifest-list": "s3://b/wh/.../s1.avro",
                "summary": {"operation": "append"},
            }
        ],
    }
    p = tmp_path / "metadata" / "v2.metadata.json"
    p.parent.mkdir(parents=True)
    p.write_text(json.dumps(meta))

    info = LF.iceberg_snapshot_info(str(p))
    assert info["snapshot"]["snapshot-id"] == 3051729675574597004
    names = [f.name for f in info["schema"].fields]
    assert names == ["id", "data", "measurement"]
    # uuid → string, required → non-nullable, decimal(9,2) exact
    import pyspark.sql.types as T

    assert isinstance(info["schema"]["measurement"].dataType, T.DecimalType)
    assert info["schema"]["measurement"].dataType.precision == 9
    assert not info["schema"]["id"].nullable
    assert info["field_names_by_id"] == {1: "id", 2: "data", 3: "measurement"}


def test_iceberg_entry_inheritance_from_manifest_list(spark, tmp_path):
    """Iceberg metadata inheritance (spec: manifest-entry snapshot_id /
    sequence numbers are optional and inherited from the manifest
    list's added_snapshot_id / sequence_number when null).  Real fast
    appends write entries exactly this way — before the r7 close
    review every such entry read as ownerless (snapshot_id None), the
    change feed silently skipped it, and an all-null table crashed
    instead of gating."""
    import json

    from dbt_json_readr_spark.sources import lakeformats as LF

    meta_dir = tmp_path / "metadata"
    meta_dir.mkdir(parents=True)
    manifest_schema = json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"], "default": None},
                {"name": "sequence_number", "type": ["null", "long"], "default": None},
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {"name": "record_count", "type": "long"},
                        ],
                    },
                },
            ],
        }
    )
    mlist_schema = json.dumps(
        {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
                {"name": "sequence_number", "type": ["null", "long"], "default": None},
            ],
        }
    )
    # fast-append style: ADDED entry with BOTH inheritable fields null,
    # plus an EXISTING entry whose explicit ids must NOT be overwritten
    LF.write_avro_records(
        str(meta_dir / "m-77.avro"),
        manifest_schema,
        [
            {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": "data/new.parquet",
                    "file_format": "PARQUET",
                    "record_count": 5,
                },
            },
            {
                "status": 0,
                "snapshot_id": 42,
                "sequence_number": 3,
                "data_file": {
                    "content": 0,
                    "file_path": "data/old.parquet",
                    "file_format": "PARQUET",
                    "record_count": 7,
                },
            },
        ],
    )
    LF.write_avro_records(
        str(meta_dir / "snap-77.avro"),
        mlist_schema,
        [
            {
                "manifest_path": "metadata/m-77.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 77,
                "sequence_number": 9,
            }
        ],
    )
    (meta_dir / "v1.metadata.json").write_text(
        json.dumps(
            {
                "format-version": 2,
                "location": str(tmp_path),
                "current-snapshot-id": 77,
                "schemas": [
                    {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": [
                            {"id": 1, "name": "id", "required": False, "type": "long"}
                        ],
                    }
                ],
                "current-schema-id": 0,
                "snapshots": [
                    {
                        "snapshot-id": 77,
                        "sequence-number": 9,
                        "timestamp-ms": 0,
                        "manifest-list": "metadata/snap-77.avro",
                        "summary": {"operation": "append"},
                    }
                ],
            }
        )
    )

    entries = LF.iceberg_snapshot_entries(
        str(meta_dir / "v1.metadata.json"), 77
    )
    by_path = {e["rel_path"]: e for e in entries}
    added = by_path["data/new.parquet"]
    assert added["snapshot_id"] == 77  # inherited from added_snapshot_id
    assert added["sequence_number"] == 9  # inherited (status 1 only)
    existing = by_path["data/old.parquet"]
    assert existing["snapshot_id"] == 42  # explicit ids win
    assert existing["sequence_number"] == 3

    # the DATA-read path shares the same walk (r7 second close review:
    # its duplicate walk skipped inheritance, so a fast-append table
    # wrongly gated on "data files lack sequence numbers" once any
    # equality delete was present) — an eq delete with an INHERITED
    # sequence number must apply against the inherited-seq data file.
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "data").mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
        tmp_path / "data" / "new.parquet",
    )
    pq.write_table(
        pa.table({"id": pa.array([10, 11], pa.int64())}),
        tmp_path / "data" / "old.parquet",
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64())}),
        tmp_path / "data" / "eqdel.parquet",
    )
    eq_schema = json.loads(manifest_schema)
    eq_schema["fields"][3]["type"]["name"] = "r2eq"
    eq_schema["fields"][3]["type"]["fields"].append(
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "default": None,
        }
    )
    LF.write_avro_records(
        str(meta_dir / "dm-77.avro"),
        json.dumps(eq_schema),
        [
            {
                "status": 1,
                "snapshot_id": None,
                # null → inherits seq 10 from the delete manifest's
                # list row; eq deletes apply to data files with seq <
                # the delete's, so inherited 10 beats the data's 9
                "sequence_number": None,
                "data_file": {
                    "content": 2,
                    "file_path": "data/eqdel.parquet",
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "equality_ids": [1],
                },
            }
        ],
    )
    mlist2 = json.loads(mlist_schema)
    LF.write_avro_records(
        str(meta_dir / "snap-78.avro"),
        json.dumps(mlist2),
        [
            {
                "manifest_path": "metadata/m-77.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 77,
                "sequence_number": 9,
            },
            {
                "manifest_path": "metadata/dm-77.avro",
                "manifest_length": 0,
                "content": 1,
                "added_snapshot_id": 78,
                "sequence_number": 10,
            },
        ],
    )
    meta2 = json.loads((meta_dir / "v1.metadata.json").read_text())
    meta2["current-snapshot-id"] = 78
    meta2["snapshots"].append(
        {
            "snapshot-id": 78,
            "sequence-number": 10,
            "timestamp-ms": 0,
            "manifest-list": "metadata/snap-78.avro",
            "summary": {"operation": "delete"},
        }
    )
    (meta_dir / "v2.metadata.json").write_text(json.dumps(meta2))

    got = sorted(
        r["id"]
        for r in LF.read_iceberg_snapshot(
            spark, str(meta_dir / "v2.metadata.json"), 78
        ).collect()
    )
    # id=2 equality-deleted (delete seq 10 > data seq 9); the rest live
    assert got == [1, 3, 10, 11]


def test_delta_protocol_gate_future_and_featureless():
    """Protocol gate edges (r7 close review): a reader version NEWER
    than 3 must gate whole — its requirements are not expressed via the
    readerFeatures list this bridge knows — and a protocol-3 log
    WITHOUT a readerFeatures list is malformed, not feature-free."""
    import pytest

    from dbt_json_readr_spark.sources.lakeformats import (
        LakeFormatGatedError,
        _DeltaState,
    )

    st = _DeltaState()
    with pytest.raises(LakeFormatGatedError, match="newer"):
        st.check_protocol({"minReaderVersion": 4, "readerFeatures": []})
    with pytest.raises(LakeFormatGatedError, match="without a readerFeatures"):
        st.check_protocol({"minReaderVersion": 3})
    # exactly-3 with only supported features passes
    st.check_protocol({"minReaderVersion": 3, "readerFeatures": ["columnMapping"]})
    st.check_protocol({"minReaderVersion": 1})


def test_iceberg_field_id_rename_resolution(spark, tmp_path):
    """Iceberg resolves columns by FIELD ID, not name (spec): after a
    rename, data files keep the OLD parquet column name and only the
    schema's name changes.  A name-based read silently null-fills the
    renamed column; the grouped field-id read must return the real
    values under the new name.  A second file WITHOUT field ids pins
    the fallback: name-based schema evolution (absent column → NULL)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_json_readr_spark.sources import lakeformats as LF

    meta_dir = tmp_path / "metadata"
    meta_dir.mkdir(parents=True)
    (tmp_path / "data").mkdir()
    # old file: columns carry field ids; "amount" was later renamed
    pq.write_table(
        pa.table(
            {"id": pa.array([1, 2], pa.int64()), "amount": pa.array([10.0, 20.0])},
            schema=pa.schema(
                [
                    pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
                    pa.field(
                        "amount", pa.float64(), metadata={b"PARQUET:field_id": b"2"}
                    ),
                ]
            ),
        ),
        tmp_path / "data" / "old-name.parquet",
    )
    # new file: written post-rename, current name, with ids
    pq.write_table(
        pa.table(
            {"id": pa.array([3], pa.int64()), "revenue": pa.array([30.0])},
            schema=pa.schema(
                [
                    pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
                    pa.field(
                        "revenue", pa.float64(), metadata={b"PARQUET:field_id": b"2"}
                    ),
                ]
            ),
        ),
        tmp_path / "data" / "new-name.parquet",
    )
    # id-less file (imported/non-Iceberg writer): name-based fallback,
    # its missing "revenue" column evolves to NULL
    pq.write_table(
        pa.table({"id": pa.array([4], pa.int64())}),
        tmp_path / "data" / "no-ids.parquet",
    )
    manifest_schema = json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"], "default": None},
                {"name": "sequence_number", "type": ["null", "long"], "default": None},
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {"name": "record_count", "type": "long"},
                        ],
                    },
                },
            ],
        }
    )
    mlist_schema = json.dumps(
        {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
            ],
        }
    )
    LF.write_avro_records(
        str(meta_dir / "m-5.avro"),
        manifest_schema,
        [
            {
                "status": 1,
                "snapshot_id": 5,
                "sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": f"data/{n}.parquet",
                    "file_format": "PARQUET",
                    "record_count": 1,
                },
            }
            for n in ("old-name", "new-name", "no-ids")
        ],
    )
    LF.write_avro_records(
        str(meta_dir / "snap-5.avro"),
        mlist_schema,
        [
            {
                "manifest_path": "metadata/m-5.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 5,
            }
        ],
    )
    (meta_dir / "v1.metadata.json").write_text(
        json.dumps(
            {
                "format-version": 2,
                "location": str(tmp_path),
                "current-snapshot-id": 5,
                "current-schema-id": 1,
                "schemas": [
                    {
                        "type": "struct",
                        "schema-id": 1,
                        "fields": [
                            {"id": 1, "name": "id", "required": False, "type": "long"},
                            {
                                "id": 2,
                                "name": "revenue",  # renamed from "amount"
                                "required": False,
                                "type": "double",
                            },
                        ],
                    }
                ],
                "snapshots": [
                    {
                        "snapshot-id": 5,
                        "sequence-number": 1,
                        "timestamp-ms": 0,
                        "manifest-list": "metadata/snap-5.avro",
                        "summary": {"operation": "append"},
                    }
                ],
            }
        )
    )

    rows = {
        r["id"]: r["revenue"]
        for r in LF.read_iceberg_snapshot(
            spark, str(meta_dir / "v1.metadata.json"), 5
        ).collect()
    }
    # pre-rename file values surface under the NEW name (field-id map);
    # post-rename file reads plain; id-less file evolves to NULL
    assert rows == {1: 10.0, 2: 20.0, 3: 30.0, 4: None}


def test_roaring_decode_spec_vectors():
    """Hand-built blobs per the PUBLIC formats (independent of the
    module's own encoder): RoaringFormatSpec portable cookies 12346
    (array container, with offsets) and 12347 (run container, no
    offsets under 4 containers), delta-io's 64-bit bucket framing, and
    the Z85 test vector from ZeroMQ RFC 32."""
    import struct

    from dbt_json_readr_spark.sources import roaring as R

    # array container under high bucket 0
    hand = struct.pack("<iq", R.MAGIC, 1) + struct.pack("<i", 0)
    hand += struct.pack("<ii", 12346, 1) + struct.pack("<HH", 0, 2)
    hand += struct.pack("<i", 16)
    hand += struct.pack("<3H", 1, 2, 7)
    assert R.decode_dv_blob(hand) == [1, 2, 7]

    # run container [10..14] in 16-bit key 3 under high bucket 2
    hand = struct.pack("<iq", R.MAGIC, 1) + struct.pack("<i", 2)
    hand += struct.pack("<i", 12347 | (0 << 16))
    hand += b"\x01"
    hand += struct.pack("<HH", 3, 4)
    hand += struct.pack("<H", 1) + struct.pack("<HH", 10, 4)
    assert R.decode_dv_blob(hand) == [
        (2 << 32) | ((3 << 16) + v) for v in range(10, 15)
    ]

    # ZeroMQ RFC 32 Z85 test vector
    assert R.z85_decode("HelloWorld") == bytes.fromhex("864FD26FB559F75B")
    assert R.z85_encode(bytes.fromhex("864FD26FB559F75B")) == "HelloWorld"

    # wrong magic gates loudly
    import pytest

    bad = struct.pack("<iq", 99, 0)
    with pytest.raises(R.DeletionVectorError, match="magic"):
        R.decode_dv_blob(bad)


def test_delta_deletion_vectors_read_and_gates(spark, tmp_path):
    """The DV fixture reads correctly at both snapshots (u-storage and
    inline DVs applied; v0 time-travels to the undeleted rows), and a
    cardinality that disagrees with the log gates."""
    import json

    import pytest

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    cur = LF.read_delta_snapshot(spark, str(LP.DELTA_DV_DIR))
    ids = sorted(r["id"] for r in cur.collect())
    gone = {pos + 1 for pos in LP._DV_DELETES["fa.parquet"]} | {
        pos + 11 for pos in LP._DV_DELETES["fb.parquet"]
    }
    assert ids == sorted(set(range(1, 31)) - gone)
    v0 = LF.read_delta_snapshot(spark, str(LP.DELTA_DV_DIR), 0)
    assert v0.count() == 30

    # corrupt cardinality: copy the table, bump the descriptor
    import shutil

    t = tmp_path / "bad_dv"
    shutil.copytree(LP.DELTA_DV_DIR, t)
    log = t / "_delta_log"
    lines = (log / f"{1:020d}.json").read_text().splitlines()
    out = []
    for ln in lines:
        a = json.loads(ln)
        if "add" in a and a["add"].get("deletionVector"):
            a["add"]["deletionVector"]["cardinality"] += 1
        out.append(json.dumps(a))
    (log / f"{1:020d}.json").write_text("\n".join(out) + "\n")
    with pytest.raises(LF.LakeFormatError, match="cardinality"):
        LF.read_delta_snapshot(spark, str(t))


def test_delta_commit_action_order_is_immaterial(spark, tmp_path):
    """PROTOCOL.md treats a commit's actions as a set keyed by
    (path, dvId) — a DV update serialized add-BEFORE-remove must not
    drop the file (r7 third review: sequential path-keyed replay lost
    the whole file, silent data loss)."""
    import json
    import shutil

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    t = tmp_path / "swapped"
    shutil.copytree(LP.DELTA_DV_DIR, t)
    log = t / "_delta_log"
    for v in (1, 2):
        actions = [
            json.loads(ln)
            for ln in (log / f"{v:020d}.json").read_text().splitlines()
        ]
        assert [list(a)[0] for a in actions] == ["remove", "add"]
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in reversed(actions)) + "\n"
        )
    swapped = LF.read_delta_snapshot(spark, str(t))
    orig = LF.read_delta_snapshot(spark, str(LP.DELTA_DV_DIR))
    assert sorted(r["id"] for r in swapped.collect()) == sorted(
        r["id"] for r in orig.collect()
    )


def test_iceberg_nested_rename_gates(tmp_path):
    """A renamed NESTED field cannot be resolved by the top-level
    remap; the grouped read must gate, not null-fill silently."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    f = tmp_path / "d.parquet"
    inner = pa.field("amount", pa.int64(), metadata={b"PARQUET:field_id": b"3"})
    pq.write_table(
        pa.table(
            {"id": [1], "s": [{"amount": 5}]},
            schema=pa.schema(
                [
                    pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
                    pa.field(
                        "s",
                        pa.struct([inner]),
                        metadata={b"PARQUET:field_id": b"2"},
                    ),
                ]
            ),
        ),
        f,
    )
    schema_json = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {
                "id": 2,
                "name": "s",
                "required": False,
                "type": {
                    "type": "struct",
                    "fields": [
                        # renamed: amount → revenue, same field id 3
                        {"id": 3, "name": "revenue", "required": False, "type": "long"}
                    ],
                },
            },
        ],
    }
    info = {
        "schema": LF.iceberg_schema_to_spark(schema_json),
        "field_names_by_id": {1: "id", 2: "s"},
        "nested_names_by_id": LF._iceberg_nested_ids(schema_json),
    }
    assert info["nested_names_by_id"] == {3: "revenue"}
    with pytest.raises(LF.LakeFormatGatedError, match="NESTED"):
        LF._iceberg_grouped_read(None, [str(f)], info, with_meta=False)


def test_delta_dv_cap_routes_to_executor_side_decode(spark, tmp_path, monkeypatch):
    """Above the driver cap the DV decode moves EXECUTOR-side instead
    of gating: a cap of 0 forces the distributed path on the fixture and the result is IDENTICAL to the
    driver path; a synthetic 60k-position DV (> a 1k cap) reads
    correctly through it too, so total DV cardinality has no driver
    ceiling."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF
    from dbt_json_readr_spark.sources import roaring

    LP.ensure_lake_fixtures()
    driver = sorted(
        tuple(r)
        for r in LF.read_delta_snapshot(spark, str(LP.DELTA_DV_DIR)).collect()
    )
    monkeypatch.setattr(LF, "_DV_DRIVER_CAP", 0)
    distributed = sorted(
        tuple(r)
        for r in LF.read_delta_snapshot(spark, str(LP.DELTA_DV_DIR)).collect()
    )
    assert driver == distributed and len(driver) == 27

    # scale probe: one file of 100k rows, a DV deleting every odd row
    # index (60k > the 1k cap → distributed), result = the even ids
    t = tmp_path / "bigdv"
    t.mkdir()
    n = 100_000
    pq.write_table(
        pa.table({"id": pa.array(range(n), pa.int64())}), t / "f.parquet"
    )
    deleted = list(range(1, n, 2))
    body, size, card = roaring.encode_inline(deleted)
    log = t / "_delta_log"
    log.mkdir()
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "bigdv",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "id", "type": "long", "nullable": False, "metadata": {}}
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "f.parquet",
                "partitionValues": {},
                "size": 0,
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "i",
                    "pathOrInlineDv": body,
                    "sizeInBytes": size,
                    "cardinality": card,
                },
            }
        },
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )
    monkeypatch.setattr(LF, "_DV_DRIVER_CAP", 1000)
    df = LF.read_delta_snapshot(spark, str(t))
    got = df.agg({"id": "count"}).collect()[0][0]
    assert got == n - len(deleted)
    assert df.filter("id % 2 = 1").count() == 0


def test_delta_cdf_read_and_gates(spark, tmp_path):
    """CDF reader semantics: the update commit contributes only its
    _change_data rows (no double count of the same-commit remove/add
    pair); a table without delta.enableChangeDataFeed gates; a derived
    commit touching deletion vectors gates."""
    import pytest

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    df = LF.read_delta_changes(spark, str(LP.DELTA_CDF_DIR), 1, 1)
    rows = sorted(
        (r["_change_type"], r["id"], r["qty"]) for r in df.collect()
    )
    assert [t for t, _, _ in rows].count("update_preimage") == 5
    assert [t for t, _, _ in rows].count("update_postimage") == 5
    assert len(rows) == 10  # remove(f1)+add(f2) NOT double-counted

    # CDF not enabled (the plain delta fixture) gates
    with pytest.raises(LF.LakeFormatGatedError, match="enableChangeDataFeed"):
        LF.read_delta_changes(spark, str(LP.DELTA_DIR), 0)

    # a DV-bearing derived commit gates: enable CDF on a copy of the DV
    # fixture's log (no cdc files exist there)
    import json
    import shutil

    t = tmp_path / "dv_cdf"
    shutil.copytree(LP.DELTA_DV_DIR, t)
    log = t / "_delta_log"
    lines = (log / f"{0:020d}.json").read_text().splitlines()
    out = []
    for ln in lines:
        a = json.loads(ln)
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.enableChangeDataFeed": "true"
            }
        out.append(json.dumps(a))
    (log / f"{0:020d}.json").write_text("\n".join(out) + "\n")
    with pytest.raises(LF.LakeFormatGatedError, match="deletion vectors|cdc"):
        LF.read_delta_changes(spark, str(t), 0)


def test_delta_cdf_per_commit_enablement(spark, tmp_path):
    """CDF enablement is judged PER COMMIT, not from the end snapshot:
    commits made before delta.enableChangeDataFeed was set recorded no
    change data (deriving them would fabricate whole-file churn), while
    the post-enablement tail of the range reads fine.  A same-schema
    metaData re-issue inside the range must NOT trip the
    schema-changed gate."""
    import json
    import shutil

    import pytest

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    t = tmp_path / "late_enable"
    shutil.copytree(LP.DELTA_CDF_DIR, t)
    log = t / "_delta_log"
    # strip the flag from commit 0's metaData...
    lines = [
        json.loads(ln)
        for ln in (log / f"{0:020d}.json").read_text().splitlines()
    ]
    meta = None
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"] = {}
            meta = json.loads(json.dumps(a["metaData"]))
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in lines) + "\n"
    )
    # ...and re-enable it via a metaData action in commit 2 (same schema)
    meta["configuration"] = {"delta.enableChangeDataFeed": "true"}
    c2 = (log / f"{2:020d}.json").read_text()
    (log / f"{2:020d}.json").write_text(
        json.dumps({"metaData": meta}) + "\n" + c2
    )

    # pre-enablement commits gate, naming the commit
    with pytest.raises(LF.LakeFormatGatedError, match="commit 0"):
        LF.read_delta_changes(spark, str(t), 0)
    # the enabled tail reads: v2 insert + v3 delete, no schema-gate trip
    rows = sorted(
        (r["_commit_version"], r["_change_type"])
        for r in LF.read_delta_changes(spark, str(t), 2).collect()
    )
    assert rows == [(2, "insert")] * 3 + [(3, "delete")] * 5


def test_delta_cdf_null_partition_groups(spark, tmp_path):
    """Batched CDF scans group by partitionValues; a null (Hive default)
    partition value must sort next to string values without crashing
    (None-safe key, same as the snapshot reader's)."""
    import json

    from dbt_json_readr_spark.sources import lakeformats as LF

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "nullpart"
    (t / "_delta_log").mkdir(parents=True)
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), t / "fn.parquet")
    pq.write_table(pa.table({"id": pa.array([3], pa.int64())}), t / "fx.parquet")
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {
            "metaData": {
                "id": "np",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": ["p"],
                "configuration": {"delta.enableChangeDataFeed": "true"},
            }
        },
        {"add": {"path": "fn.parquet", "partitionValues": {"p": None}, "size": 0, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "fx.parquet", "partitionValues": {"p": "x"}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ]
    (t / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )
    rows = sorted(
        (r["id"], r["p"], r["_change_type"])
        for r in LF.read_delta_changes(spark, str(t), 0).collect()
    )
    assert rows == [(1, None, "insert"), (2, None, "insert"), (3, "x", "insert")]


def test_dv_descriptor_missing_offset_is_loud(tmp_path):
    """A file-backed DV descriptor missing offset/sizeInBytes fails the
    module's loud LakeFormatError contract, not a bare KeyError (the
    spec marks offset optional — r7 advice)."""
    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    desc = {"storageType": "p", "pathOrInlineDv": "dv.bin", "cardinality": 1}
    with pytest.raises(LF.LakeFormatError, match="missing required field"):
        LF._dv_positions(str(tmp_path), desc)


def test_avro_cache_keys_on_mtime_ns(spark, tmp_path):
    """Rewriting a manifest with identical size and float-identical
    mtime (fixture regeneration in fast loops) must serve the FRESH
    content — the cache keys on st_mtime_ns (r7 advice; the footer
    cache already did)."""
    import json
    import os

    from dbt_json_readr_spark.sources import lakeformats as LF

    schema = json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [{"name": "v", "type": "string"}],
        }
    )
    p = tmp_path / "m.avro"
    LF.write_avro_records(str(p), schema, [{"v": "aaaa"}])
    t_ns = os.stat(p).st_mtime_ns
    assert LF._read_avro_records(str(p))[0]["v"] == "aaaa"
    # same byte length, different content; +1 ns collides as float
    LF.write_avro_records(str(p), schema, [{"v": "bbbb"}])
    os.utime(p, ns=(t_ns + 1, t_ns + 1))
    assert os.stat(p).st_mtime == os.stat(p).st_mtime  # sanity
    assert LF._read_avro_records(str(p))[0]["v"] == "bbbb"


def test_delta_column_mapping_id_mode_read(spark, tmp_path):
    """Column mapping mode 'id' (r8, VERDICT r7 item 3): parquet
    columns resolve by FOOTER FIELD ID against delta.columnMapping.id —
    file A's physical names match nothing in the metadata (only its
    field ids do), file B has no field ids and falls back to the
    metadata physicalName; a logical rename (ids unchanged) reads both
    snapshots; a file with neither ids nor a physicalName fallback
    gates loudly."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    def field_meta(logical, fid, phys=True):
        m = {"delta.columnMapping.id": fid}
        if phys:
            m["delta.columnMapping.physicalName"] = f"col-{fid}"
        return {
            "name": logical,
            "type": "long",
            "nullable": True,
            "metadata": m,
        }

    def schema_string(qty_logical, phys=True):
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    field_meta("id", 1, phys),
                    field_meta(qty_logical, 2, phys),
                ],
            }
        )

    def meta_action(qty_logical, phys=True):
        return {
            "metaData": {
                "id": "id-mode-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string(qty_logical, phys),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
            }
        }

    t = tmp_path / "idmode"
    t.mkdir()
    # file A: arbitrary physical names, field ids present
    pq.write_table(
        pa.table(
            {"zzz_a": [1, 2, 3], "zzz_b": [10, 20, 30]},
            schema=pa.schema(
                [
                    pa.field("zzz_a", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
                    pa.field("zzz_b", pa.int64(), metadata={b"PARQUET:field_id": b"2"}),
                ]
            ),
        ),
        t / "fa.parquet",
    )
    # file B: physicalName columns, NO field ids (older writer)
    pq.write_table(
        pa.table({"col-1": [4, 5], "col-2": [40, 50]}),
        t / "fb.parquet",
    )
    log = t / "_delta_log"
    log.mkdir()
    commits = [
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta_action("qty"),
            {"add": {"path": "fa.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "fb.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
        ],
        [meta_action("qty_renamed")],  # rename by id: data untouched
    ]
    for v, actions in enumerate(commits):
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
    v0 = LF.read_delta_snapshot(spark, str(t), version=0)
    assert sorted((r["id"], r["qty"]) for r in v0.collect()) == [
        (1, 10),
        (2, 20),
        (3, 30),
        (4, 40),
        (5, 50),
    ]
    v1 = LF.read_delta_snapshot(spark, str(t), version=1)
    assert v1.columns == ["id", "qty_renamed"]
    assert sorted(r["qty_renamed"] for r in v1.collect()) == [10, 20, 30, 40, 50]
    # stats-predicate pruning composes with id-mode resolution
    df = LF.read_delta_snapshot(spark, str(t), predicate=[("id", ">=", 4)])
    assert sorted(r["id"] for r in df.collect()) == [4, 5]

    # no footer ids AND no physicalName fallback → loud gate
    t2 = tmp_path / "idmode_bare"
    t2.mkdir()
    pq.write_table(pa.table({"col-1": [1], "col-2": [2]}), t2 / "fb.parquet")
    log2 = t2 / "_delta_log"
    log2.mkdir()
    (log2 / f"{0:020d}.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                meta_action("qty", phys=False),
                {"add": {"path": "fb.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
            ]
        )
        + "\n"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="no parquet field id"):
        LF.read_delta_snapshot(spark, str(t2)).collect()


def test_delta_cdf_mapped_rename_passes_layout_change_gates(spark, tmp_path):
    """CDF over a mode-'name' mapped table (r8): the mid-range logical
    RENAME in the fixture passes (physical fingerprint unchanged), a
    mid-range ADD COLUMN still gates naming the commit, and mode-'id'
    mapped tables gate."""
    import json
    import shutil

    import pytest

    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    # the fixture range (with its commit-2 rename) reads end-to-end
    df = LF.read_delta_changes(spark, str(LP.DELTA_CDFM_DIR), 0)
    assert df.columns == ["id", "qty_r", "region", "_change_type", "_commit_version"]
    # 4 inserts (v0) + 4 update images (v1 cdc) + 1 insert (v2) + 2 deletes (v3)
    assert df.count() == 11

    # mid-range physical layout change (add a column) gates
    t = tmp_path / "addcol"
    shutil.copytree(LP.DELTA_CDFM_DIR, t)
    log = t / "_delta_log"
    lines = [
        json.loads(ln)
        for ln in (log / f"{2:020d}.json").read_text().splitlines()
    ]
    for a in lines:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"].append(
                {
                    "name": "extra",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 4,
                        "delta.columnMapping.physicalName": "col-x",
                    },
                }
            )
            a["metaData"]["schemaString"] = json.dumps(sch)
    (log / f"{2:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in lines) + "\n"
    )
    with pytest.raises(LF.LakeFormatGatedError, match="commit 2 changes"):
        LF.read_delta_changes(spark, str(t), 0)

    # mode-'id' mapped CDF (supported since r9): the same table flipped
    # to id mode — its files carry NO footer ids, so every scan resolves
    # through the metadata physicalName fallback — must produce the
    # identical change stream the mode-'name' read does
    t2 = tmp_path / "idmode"
    shutil.copytree(LP.DELTA_CDFM_DIR, t2)
    log2 = t2 / "_delta_log"
    for v in range(4):
        p = log2 / f"{v:020d}.json"
        lines = [json.loads(ln) for ln in p.read_text().splitlines()]
        for a in lines:
            if "metaData" in a:
                a["metaData"]["configuration"][
                    "delta.columnMapping.mode"
                ] = "id"
        p.write_text("\n".join(json.dumps(a) for a in lines) + "\n")
    by_name = sorted(
        tuple(r) for r in LF.read_delta_changes(spark, str(LP.DELTA_CDFM_DIR), 0).collect()
    )
    by_id = sorted(
        tuple(r) for r in LF.read_delta_changes(spark, str(t2), 0).collect()
    )
    assert by_id == by_name and len(by_id) > 0


def test_delta_timestamp_travel_clock_rules(spark, tmp_path):
    """The commit clock honors inCommitTimestamp over file mtime,
    adjusts non-monotonic mtimes forward (clock skew between writers
    must not resolve a later version before an earlier one), and a
    probe before the earliest retained commit gates loudly."""
    import json
    import os

    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "tt"
    (t / "_delta_log").mkdir(parents=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, lo in (("f0.parquet", 1), ("f1.parquet", 11), ("f2.parquet", 21)):
        pq.write_table(
            pa.table({"id": pa.array(range(lo, lo + 3), pa.int64())}), t / name
        )
    md = {
        "metaData": {
            "id": "tt",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": "id", "type": "long", "nullable": False, "metadata": {}}
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {},
        }
    }
    commits = [
        # v0: commitInfo WITH inCommitTimestamp — mtime must be ignored
        [
            {"commitInfo": {"inCommitTimestamp": 1_000_000, "timestamp": 5}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            md,
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
        ],
        # v1/v2: mtime-clocked, with v2's mtime SKEWED BEHIND v1's
        [{"add": {"path": "f1.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}}],
        [{"add": {"path": "f2.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}}],
    ]
    log = t / "_delta_log"
    for v, actions in enumerate(commits):
        p = log / f"{v:020d}.json"
        p.write_text("\n".join(json.dumps(a) for a in actions) + "\n")
    # v0 mtime deliberately HUGE (ignored in favor of inCommitTimestamp)
    os.utime(log / f"{0:020d}.json", ns=(9_000_000_000_000_000, 9_000_000_000_000_000))
    os.utime(log / f"{1:020d}.json", ns=(3_000_000_000_000_000, 3_000_000_000_000_000))
    # v2 mtime BEHIND v1 → adjusted to v1 + 1 ms
    os.utime(log / f"{2:020d}.json", ns=(2_000_000_000_000_000, 2_000_000_000_000_000))

    stamps = LF.delta_commit_timestamps(str(t))
    assert stamps[0] == 1_000_000  # inCommitTimestamp wins
    assert stamps[1] == 3_000_000_000
    assert stamps[2] == 3_000_000_001  # monotonic adjustment

    assert LF.delta_version_at_timestamp(str(t), 1_000_000) == 0
    assert LF.delta_version_at_timestamp(str(t), 3_000_000_000) == 1
    assert LF.delta_version_at_timestamp(str(t), 3_000_000_001) == 2
    got = sorted(
        r["id"]
        for r in LF.read_delta_snapshot(
            spark, str(t), timestamp=3_000_000_000
        ).collect()
    )
    assert got == [1, 2, 3, 11, 12, 13]
    with pytest.raises(LF.LakeFormatGatedError, match="predates"):
        LF.delta_version_at_timestamp(str(t), 999_999)
    with pytest.raises(LF.LakeFormatError, match="not both"):
        LF.read_delta_snapshot(spark, str(t), version=1, timestamp=1_000_000)

    # datetime probes: naive = UTC
    import datetime as dt

    # 1970-02-01 UTC = 2,678,400,000 ms: after v0 (1e6), before v1 (3e9)
    assert LF.delta_version_at_timestamp(str(t), dt.datetime(1970, 2, 1)) == 0

    # Iceberg: before every snapshot gates
    from dbt_json_readr_spark.plans import lake as LP

    LP.ensure_lake_fixtures()
    with pytest.raises(LF.LakeFormatGatedError, match="predates"):
        LF.iceberg_snapshot_at_timestamp(str(LP.ICEBERG_META), 1)
    assert (
        LF.iceberg_snapshot_at_timestamp(str(LP.ICEBERG_META), 1735646400000)
        == 1002
    )


def test_delta_ict_regression_gates(tmp_path):
    """A non-monotonic inCommitTimestamp is log corruption (the ICT
    feature guarantees strict monotonicity) — gate, don't clamp."""
    import json

    import pytest

    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "ict"
    log = t / "_delta_log"
    log.mkdir(parents=True)
    md = {
        "metaData": {
            "id": "x",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": "id", "type": "long", "nullable": True, "metadata": {}}
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {},
        }
    }
    c0 = [
        {"commitInfo": {"inCommitTimestamp": 5000}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        md,
    ]
    c1 = [{"commitInfo": {"inCommitTimestamp": 4000}}]  # regressed
    for v, actions in enumerate((c0, c1)):
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
    with pytest.raises(LF.LakeFormatGatedError, match="corrupt commit clock"):
        LF.delta_commit_timestamps(str(t))


def test_delta_ict_boundary_with_mtime_clamps_not_gates(tmp_path):
    """Mixed clocks are spec-valid: an ICT commit whose timestamp sits
    at-or-before a SKEWED mtime predecessor clamps forward (the spec
    promises strict monotonicity only among ICT commits), while an
    ICT-after-ICT regression still gates."""
    import json
    import os

    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "mixed"
    log = t / "_delta_log"
    log.mkdir(parents=True)
    md = {
        "metaData": {
            "id": "x",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": "id", "type": "long", "nullable": True, "metadata": {}}
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {},
        }
    }
    c0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        md,
    ]
    c1 = [{"commitInfo": {"inCommitTimestamp": 4000}}]  # honest ICT
    for v, actions in enumerate((c0, c1)):
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
    # v0's mtime far in the future (restored/copied log)
    os.utime(log / f"{0:020d}.json", ns=(9_000_000_000_000_000,) * 2)
    stamps = LF.delta_commit_timestamps(str(t))
    assert stamps[0] == 9_000_000_000
    assert stamps[1] == 9_000_000_001  # clamped, NOT gated


def test_delta_cdf_mapid_footer_resolution(spark):
    """Mode-'id' CDF end-to-end on the dedicated fixture: three naming
    schemes (footer-a, footer-b, physicalName fallback) + a mid-range
    logical rename resolve into one change stream; values pin the
    per-file resolution (a physicalName-only reader would null-fill
    the footer-named files)."""
    from dbt_json_readr_spark.plans import lake as LP
    from dbt_json_readr_spark.sources import lakeformats as LF

    LP.ensure_lake_fixtures()
    df = LF.read_delta_changes(spark, str(LP.DELTA_CDFID_DIR), 0)
    got = sorted(
        (r._commit_version, r._change_type, r.region, r.id, r.qty_r)
        for r in df.collect()
    )
    assert got == sorted(
        [
            (0, "insert", "east", 1, 10),
            (0, "insert", "east", 2, 20),
            (0, "insert", "west", 3, 30),
            (0, "insert", "west", 4, 40),
            (1, "update_preimage", "west", 3, 30),
            (1, "update_preimage", "west", 4, 40),
            (1, "update_postimage", "west", 3, 31),
            (1, "update_postimage", "west", 4, 41),
            (2, "insert", "east", 5, 50),
            (3, "delete", "east", 1, 10),
            (3, "delete", "east", 2, 20),
        ]
    )


def test_delta_v2_checkpoint_read(spark, tmp_path):
    """V2 CHECKPOINT (r9, VERDICT r8 item 6): a UUID-named parquet
    manifest carrying protocol/metaData/checkpointMetadata + sidecar
    refs, with the file actions in _delta_log/_sidecars parquet, seeds
    the same replay state a classic checkpoint does.  Commits 0-1 are
    DELETED so only the checkpoint can answer; a post-checkpoint JSON
    commit replays on top; declaring v2Checkpoint in readerFeatures no
    longer gates."""
    import json as _json
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "t"
    t.mkdir()
    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    for rel, rows in {
        "f0.parquet": [(1, 10), (2, 20)],
        "f1.parquet": [(3, 30)],
        "f2.parquet": [(4, 40)],
        "f3.parquet": [(5, 50)],
    }.items():
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([r[0] for r in rows], pa.int64()),
                    "v": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            t / rel,
        )
    log = t / "_delta_log"
    log.mkdir()
    meta = {
        "metaData": {
            "id": "v2ck-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": [],
            "configuration": {},
        }
    }
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }
    }

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

    commits = [
        [proto, meta, add("f0.parquet")],
        [add("f1.parquet")],
        [add("f2.parquet")],  # checkpointed at v2
        [add("f3.parquet")],  # replays on top of the checkpoint
    ]
    for v, actions in enumerate(commits):
        (log / f"{v:020d}.json").write_text(
            "\n".join(_json.dumps(a) for a in actions) + "\n"
        )

    # v2 checkpoint at version 2: manifest + two sidecars
    sidecars = log / "_sidecars"
    sidecars.mkdir()

    def sidecar(name, paths):
        pq.write_table(
            pa.table(
                {
                    "add": pa.array(
                        [
                            {
                                "path": p,
                                "partitionValues": {},
                                "size": 1,
                                "modificationTime": 0,
                                "dataChange": True,
                            }
                            for p in paths
                        ],
                        pa.struct(
                            [
                                pa.field("path", pa.string()),
                                pa.field(
                                    "partitionValues",
                                    pa.map_(pa.string(), pa.string()),
                                ),
                                pa.field("size", pa.int64()),
                                pa.field("modificationTime", pa.int64()),
                                pa.field("dataChange", pa.bool_()),
                            ]
                        ),
                    )
                }
            ),
            sidecars / name,
        )
        return name

    s1 = sidecar("sc-1.parquet", ["f0.parquet", "f1.parquet"])
    s2 = sidecar("sc-2.parquet", ["f2.parquet"])
    manifest_rows = [
        {"protocol": proto["protocol"], "metaData": None, "checkpointMetadata": None, "sidecar": None},
        {"protocol": None, "metaData": meta["metaData"], "checkpointMetadata": None, "sidecar": None},
        {"protocol": None, "metaData": None, "checkpointMetadata": {"version": 2}, "sidecar": None},
        {"protocol": None, "metaData": None, "checkpointMetadata": None, "sidecar": {"path": s1, "sizeInBytes": 1}},
        {"protocol": None, "metaData": None, "checkpointMetadata": None, "sidecar": {"path": s2, "sizeInBytes": 1}},
    ]
    manifest_schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field(
                                        "options", pa.map_(pa.string(), pa.string())
                                    ),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field(
                            "configuration", pa.map_(pa.string(), pa.string())
                        ),
                    ]
                ),
            ),
            pa.field(
                "checkpointMetadata",
                pa.struct([pa.field("version", pa.int64())]),
            ),
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("sizeInBytes", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(manifest_rows, schema=manifest_schema),
        log / f"{2:020d}.checkpoint.{uuid.uuid4()}.parquet",
    )
    (log / "_last_checkpoint").write_text(_json.dumps({"version": 2}))
    # drop the pre-checkpoint commits: only the v2 checkpoint can answer
    (log / f"{0:020d}.json").unlink()
    (log / f"{1:020d}.json").unlink()

    got = LF.read_delta_snapshot(spark, str(t))
    assert sorted((r.id, r.v) for r in got.collect()) == [
        (1, 10), (2, 20), (3, 30), (4, 40), (5, 50),
    ]
    # time travel exactly AT the checkpoint: no JSON replay at all
    at2 = LF.read_delta_snapshot(spark, str(t), version=2)
    assert sorted(r.id for r in at2.collect()) == [1, 2, 3, 4]


def test_multipart_checkpoint_without_parts_field(spark, tmp_path):
    """A MULTIPART checkpoint whose _last_checkpoint omits the optional
    "parts" field must read ALL parts — the v2 UUID glob must not
    swallow part 1 as a complete manifest and silently drop every file
    (and txn marker) in part 2."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_json_readr_spark.sources import deltawriter as DW
    from dbt_json_readr_spark.sources import lakeformats as LF

    t = tmp_path / "t"
    t.mkdir()
    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    for rel, ids in {"f0.parquet": [1, 2], "f1.parquet": [3]}.items():
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), t / rel)
    log = t / "_delta_log"
    log.mkdir()
    meta = {
        "metaData": {
            "id": "mp-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": [],
            "configuration": {},
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    txn = {"txn": {"appId": "mp-app", "version": 4, "lastUpdated": None}}

    def add_row(path):
        return {
            "path": path,
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }

    (log / f"{0:020d}.json").write_text(
        "\n".join(
            _json.dumps(a)
            for a in [proto, meta, {"add": add_row("f0.parquet")}, {"add": add_row("f1.parquet")}, txn]
        )
        + "\n"
    )
    # two-part checkpoint at v0: part 1 holds protocol+metaData+f0,
    # part 2 holds ONLY f1 — dropping part 2 loses a file
    add_struct = pa.struct(
        [
            pa.field("path", pa.string()),
            pa.field("partitionValues", pa.map_(pa.string(), pa.string())),
            pa.field("size", pa.int64()),
            pa.field("modificationTime", pa.int64()),
            pa.field("dataChange", pa.bool_()),
        ]
    )
    meta_struct = pa.struct(
        [
            pa.field("id", pa.string()),
            pa.field(
                "format",
                pa.struct(
                    [
                        pa.field("provider", pa.string()),
                        pa.field("options", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            pa.field("schemaString", pa.string()),
            pa.field("partitionColumns", pa.list_(pa.string())),
            pa.field("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_struct = pa.struct(
        [
            pa.field("minReaderVersion", pa.int32()),
            pa.field("minWriterVersion", pa.int32()),
        ]
    )
    sch = pa.schema(
        [
            pa.field("protocol", proto_struct),
            pa.field("metaData", meta_struct),
            pa.field("add", add_struct),
            pa.field(
                "txn",
                pa.struct(
                    [
                        pa.field("appId", pa.string()),
                        pa.field("version", pa.int64()),
                        pa.field("lastUpdated", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"protocol": proto["protocol"], "metaData": None, "add": None},
                {"protocol": None, "metaData": meta["metaData"], "add": None},
                {"protocol": None, "metaData": None, "add": add_row("f0.parquet")},
            ],
            schema=sch,
        ),
        log / f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"protocol": None, "metaData": None, "add": add_row("f1.parquet")},
                {"protocol": None, "metaData": None, "add": None, **txn},
            ],
            schema=sch,
        ),
        log / f"{0:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    )
    # the spec marks "parts" optional — omit it
    (log / "_last_checkpoint").write_text(_json.dumps({"version": 0}))
    (log / f"{0:020d}.json").unlink()  # only the checkpoint can answer
    got = LF.read_delta_snapshot(spark, str(t))
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    assert DW.last_txn_version(str(t), "mp-app") == 4


def _write_avro_records_jvm(
    spark,
    dest: str,
    schema_json: str,
    records: list[dict],
    codec: str | None = None,
    sync_interval: int | None = None,
) -> None:
    """Reference writer through avro's own JVM ``DataFileWriter``, for
    the byte-compatibility pins against avrocore.  ``codec`` is an avro
    codec name (``CodecFactory.fromString``); ``sync_interval`` bounds
    the block size so small inputs still span many blocks.

    py4j auto-unboxes java.lang.Long returns to Python ints, so
    hand-built GenericData.Record fields lose their Java types and fail
    avro's union resolution; routing each record through avro's OWN
    json decoder sidesteps the bridge (types come from the schema)."""
    import json

    from dbt_json_readr_spark.sources import avrocore

    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    parsed = json.loads(schema_json)
    named: dict[str, dict] = {}
    avrocore._register_names(parsed, named)

    def _branch_label(branch) -> str:
        if isinstance(branch, str):
            return branch  # primitive or a named-type reference
        t = branch.get("type")
        if t in ("record", "enum", "fixed"):
            return branch["name"]  # no namespaces in this repo's schemas
        return t  # array / map / logicalType-annotated primitive

    def _avro_json(sch, v):
        if isinstance(sch, list):  # union
            if v is None:
                return None
            # the branch the VALUE's type names, by the binary
            # encoder's own rule, so the two writers cannot disagree
            branch = sch[avrocore._union_branch(sch, v, named)]
            return {_branch_label(branch): _avro_json(branch, v)}
        if isinstance(sch, str):
            if sch in named:
                return _avro_json(named[sch], v)
            if sch == "bytes" and isinstance(v, (bytes, bytearray)):
                return bytes(v).decode("latin-1")
            return v
        t = sch["type"]
        if t == "record":
            return {
                f["name"]: _avro_json(f["type"], (v or {}).get(f["name"]))
                for f in sch["fields"]
            }
        if t == "array":
            return [_avro_json(sch["items"], x) for x in (v or [])]
        if t == "map":
            return {k: _avro_json(sch["values"], x) for k, x in (v or {}).items()}
        if t in ("bytes", "fixed") and isinstance(v, (bytes, bytearray)):
            return bytes(v).decode("latin-1")
        if isinstance(t, (list, dict)):
            return _avro_json(t, v)
        if t in named:
            return _avro_json(named[t], v)
        return v

    reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
    factory = jvm.org.apache.avro.io.DecoderFactory.get()
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    if codec is not None:
        writer.setCodec(jvm.org.apache.avro.file.CodecFactory.fromString(codec))
    if sync_interval is not None:
        writer.setSyncInterval(sync_interval)
    writer.create(schema, jvm.java.io.File(dest))
    try:
        for d in records:
            dec = factory.jsonDecoder(schema, json.dumps(_avro_json(parsed, d)))
            writer.append(reader.read(None, dec))
    finally:
        writer.close()


def _rewrite_avro_jvm(spark, src: str, dest: str) -> None:
    """Decode ``src`` with the JVM ``DataFileReader`` and write every
    record back out with ``DataFileWriter`` — what a Python-written
    file looks like to avro-java, in a form avrocore can compare."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(src), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    try:
        schema = reader.getSchema()
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(schema)
        )
        writer.create(schema, jvm.java.io.File(dest))
        try:
            while reader.hasNext():
                writer.append(reader.next())
        finally:
            writer.close()
    finally:
        reader.close()


def test_avro_python_writer_jvm_reader_roundtrip(spark, tmp_path):
    """The pure-Python avro WRITER must produce container bytes the
    JVM DataFileReader decodes to the same records, and the JVM
    reference writer's bytes must decode identically through the
    Python reader — cross-implementation, both directions, over the
    manifest schemas' full shape vocabulary: unions of more than two
    branches, enum, fixed, float32, maps, nested records, arrays of
    records and logicalType-annotated primitives."""
    import json

    from dbt_json_readr_spark.sources import avrocore

    schema = json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [
                {"name": "l", "type": "long"},
                {"name": "s", "type": "string"},
                {"name": "b", "type": ["null", "bytes"], "default": None},
                {
                    "name": "multi",
                    "type": ["null", "string", "bytes"],
                    "default": None,
                },
                {"name": "d", "type": "double"},
                {"name": "f", "type": "float"},
                {"name": "flag", "type": "boolean"},
                {
                    "name": "kv",
                    "type": [
                        "null",
                        {
                            "type": "array",
                            "items": {
                                "type": "record",
                                "name": "kv2",
                                "fields": [
                                    {"name": "key", "type": "int"},
                                    {"name": "value", "type": "bytes"},
                                ],
                            },
                        },
                    ],
                    "default": None,
                },
                {"name": "m", "type": {"type": "map", "values": "long"}},
                {
                    "name": "e",
                    "type": {
                        "type": "enum",
                        "name": "col2",
                        "symbols": ["RED", "GREEN"],
                    },
                },
                {"name": "fx", "type": {"type": "fixed", "name": "f3", "size": 3}},
                {
                    "name": "ts",
                    "type": {
                        "type": "long",
                        "logicalType": "timestamp-micros",
                        "adjust-to-utc": True,
                    },
                },
                {
                    "name": "dt",
                    "type": ["null", {"type": "int", "logicalType": "date"}],
                    "default": None,
                },
            ],
        }
    )
    rows = [
        {
            "l": -(2**62) + 1,
            "s": "héllo",
            "b": b"\x00\xff\x80",
            "multi": b"\x01\x02",
            "d": -2.5,
            "f": 1.5,
            "flag": True,
            "kv": [{"key": 1, "value": b"lo"}, {"key": -2, "value": b""}],
            "m": {"a": 1, "b": -9},
            "e": "GREEN",
            "fx": b"abc",
            "ts": 1_700_000_000_000_000,
            "dt": 19700,
        },
        {
            "l": 0,
            "s": "",
            "b": None,
            "multi": "txt",
            "d": 0.0,
            "f": -0.375,
            "flag": False,
            "kv": None,
            "m": {},
            "e": "RED",
            "fx": b"\x00\x00\x00",
            "ts": 0,
            "dt": None,
        },
    ]

    # Python writer → JVM reader: avro-java decodes every record and
    # re-encodes it, and the re-encoded file holds the same records
    p1 = tmp_path / "pywrite.avro"
    avrocore.write_container(str(p1), schema, rows)
    p1b = tmp_path / "pywrite_jvm.avro"
    _rewrite_avro_jvm(spark, str(p1), str(p1b))
    assert avrocore.read_container(str(p1b)) == rows

    # JVM writer → Python reader
    p2 = tmp_path / "jvmwrite.avro"
    _write_avro_records_jvm(spark, str(p2), schema, rows)
    assert avrocore.read_container(str(p2)) == rows

    # null codec + multi-block chunking also round-trip
    p3 = tmp_path / "nullcodec.avro"
    avrocore.write_container(str(p3), schema, rows * 5, codec="null", block_records=3)
    assert avrocore.read_container(str(p3)) == rows * 5

    # real manifest shapes: an actual Iceberg commit's manifest + list
    # survive the same JVM decode/re-encode
    from dbt_json_readr_spark.sources import icebergwriter as IW

    tbl = tmp_path / "tbl"
    IW.write_iceberg(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string"),
        str(tbl),
        partition_by=["g"],
    )
    for f in sorted((tbl / "metadata").glob("*.avro")):
        back = tmp_path / f"jvm-{f.name}"
        _rewrite_avro_jvm(spark, str(f), str(back))
        assert avrocore.read_container(str(back)) == avrocore.read_container(str(f)), f.name


def _avro_block_spans(path) -> list[tuple[int, int]]:
    """(offset, size) of every block payload in an avro container."""
    from dbt_json_readr_spark.sources import avrocore

    cur = avrocore._Cur(path.read_bytes(), 4)
    while True:  # header metadata map
        n = cur.read_long()
        if n == 0:
            break
        if n < 0:
            cur.read_long()
            n = -n
        for _ in range(n):
            cur.read_bytes()
            cur.read_bytes()
    cur.take(16)
    spans = []
    while cur.i < len(cur.b):
        cur.read_long()
        size = cur.read_long()
        spans.append((cur.i, size))
        cur.take(size + 16)
    return spans


_AVRO_CODECS = ["null", "deflate", "bzip2", "xz", "snappy", "zstandard"]


@pytest.mark.parametrize("codec", _AVRO_CODECS)
def test_avro_codec_reads_jvm_written(spark, tmp_path, codec):
    """Every codec the avro spec defines decodes through avrocore:
    avro-java's own DataFileWriter writes the records across many
    blocks, and avrocore returns exactly them.  A flipped payload byte
    raises AvroReadError, for every codec."""
    import json

    from dbt_json_readr_spark.sources import avrocore

    schema_json = json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "s", "type": "string"},
                {"name": "b", "type": ["null", "bytes"], "default": None},
            ],
        }
    )
    # repetitive strings so the compressors emit real back-references
    rows = [
        {"k": i, "s": "the quick brown fox " * 4 + str(i % 7),
         "b": bytes([i % 11]) * 24 if i % 3 else None}
        for i in range(300)
    ]
    dest = tmp_path / f"{codec}.avro"
    _write_avro_records_jvm(
        spark, str(dest), schema_json, rows, codec=codec, sync_interval=2048
    )
    assert codec.encode() in dest.read_bytes()[:1024]
    spans = _avro_block_spans(dest)
    assert len(spans) > 3
    assert avrocore.read_container(str(dest)) == rows

    raw = bytearray(dest.read_bytes())
    off, size = spans[0]
    raw[off + size // 2] ^= 0xFF
    bad = tmp_path / f"bad-{codec}.avro"
    bad.write_bytes(bytes(raw))
    with pytest.raises(avrocore.AvroReadError):
        avrocore.read_container(str(bad))


def test_avro_snappy_overstated_preamble_is_refused(tmp_path):
    """A snappy block whose length preamble claims more bytes than its
    body can expand to is refused before anything is allocated."""
    import json
    import struct
    import zlib

    from dbt_json_readr_spark.sources import avrocore

    from tests.binutils import snappy_uvarint

    schema = json.dumps({"type": "record", "name": "r", "fields": [{"name": "s", "type": "string"}]})
    p = tmp_path / "s.avro"
    avrocore.write_container(str(p), schema, [{"s": "hello"}], codec="null")
    spans = _avro_block_spans(p)
    (off, size), = spans
    data = p.read_bytes()
    payload = data[off : off + size]
    literal = bytes([(len(payload) - 1) << 2]) + payload
    crc = struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)

    def container(preamble: bytes) -> bytes:
        block = preamble + literal + crc
        head = data[: off - 2].replace(b"\x08null", b"\x0csnappy")
        return head + avrocore._zigzag(1) + avrocore._zigzag(len(block)) + block + data[-16:]

    good = tmp_path / "good.avro"
    good.write_bytes(container(snappy_uvarint(len(payload))))
    assert avrocore.read_container(str(good)) == [{"s": "hello"}]
    over = tmp_path / "over.avro"
    over.write_bytes(container(snappy_uvarint(1 << 31)))
    with pytest.raises(avrocore.AvroReadError, match="preamble"):
        avrocore.read_container(str(over))


def test_avro_reader_malformed_and_logical_types(tmp_path):
    """Loud-malformed pins for avrocore: (a) a negative block size
    raises instead of looping forever, (b) a corrupt deflate block
    raises AvroReadError (not a bare zlib.error), (c) logicalType-
    annotated primitives — the shape real Iceberg writers emit for
    date/timestamp fields — decode, (d) a malformed container through
    the manifest walk raises LakeFormatError."""
    import json

    from dbt_json_readr_spark.sources import avrocore
    from dbt_json_readr_spark.sources import lakeformats as LF

    # (c) logicalType wrappers round-trip
    schema = json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [
                {
                    "name": "ts",
                    "type": {
                        "type": "long",
                        "logicalType": "timestamp-micros",
                        "adjust-to-utc": True,
                    },
                },
                {
                    "name": "d",
                    "type": ["null", {"type": "int", "logicalType": "date"}],
                    "default": None,
                },
            ],
        }
    )
    rows = [{"ts": 1_700_000_000_000_000, "d": 19700}, {"ts": 0, "d": None}]
    p = tmp_path / "lt.avro"
    avrocore.write_container(str(p), schema, rows)
    assert avrocore.read_container(str(p)) == rows
    LF._AVRO_CACHE.clear()
    assert LF._read_avro_records(str(p)) == rows

    # (a) negative block size: loud, no hang (hand-crafted container)
    evil = bytearray()
    evil += avrocore._MAGIC
    evil += avrocore._zigzag(1)
    k = b"avro.schema"
    v = json.dumps({"type": "record", "name": "r", "fields": []}).encode()
    evil += avrocore._zigzag(len(k)) + k + avrocore._zigzag(len(v)) + v
    evil += avrocore._zigzag(0)
    evil += b"S" * 16
    evil += avrocore._zigzag(0) + avrocore._zigzag(-18)  # count=0, size=-18
    pbad = tmp_path / "neg.avro"
    pbad.write_bytes(bytes(evil))
    with pytest.raises(avrocore.AvroReadError, match="negative"):
        avrocore.read_container(str(pbad))

    # (b) corrupt deflate payload: AvroReadError, not zlib.error
    data = bytearray(p.read_bytes())
    data[-20] ^= 0xFF
    data[-21] ^= 0xFF
    pcorrupt = tmp_path / "corrupt.avro"
    pcorrupt.write_bytes(bytes(data))
    with pytest.raises(avrocore.AvroReadError):
        avrocore.read_container(str(pcorrupt))

    # (d) malformed container through the walk path = LakeFormatError
    LF._AVRO_CACHE.clear()
    with pytest.raises(LF.LakeFormatError, match="avro manifest decode"):
        LF._read_avro_records(str(pcorrupt))


def test_delta_history_refuses_statsless_adds(spark, tmp_path):
    """add.stats is optional in the Delta protocol, but the F47 history
    replay derives every row count from it: a stats-less add must
    raise, not report a wrong count."""
    import json
    from pathlib import Path

    import pytest

    from dbt_json_readr_spark.plans import lakewrite
    from dbt_json_readr_spark.sources import deltawriter as DW
    from dbt_json_readr_spark.sources import lakeformats as LF

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    tbl = str(tmp_path / "dl")
    DW.write_delta(spark, cust.limit(8), tbl)
    DW.write_delta(spark, cust.limit(4), tbl, mode="append")
    assert [(v, n) for v, _op, n in lakewrite._delta_history_rows(tbl)] == [(0, 8), (1, 12)]

    # strip stats from version 1's adds — legal per the protocol
    log = Path(tbl) / "_delta_log" / f"{1:020d}.json"
    lines = []
    for line in log.read_text().splitlines():
        a = json.loads(line)
        if "add" in a:
            a["add"].pop("stats", None)
        lines.append(json.dumps(a))
    log.write_text("\n".join(lines) + "\n")

    assert LF.read_delta_snapshot(spark, tbl).count() == 12
    with pytest.raises(LF.LakeFormatError, match="carries none"):
        lakewrite._delta_history_rows(tbl)


