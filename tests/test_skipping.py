"""Stats-based file skipping (sources/skipping.py + the predicate
parameters on read_delta_snapshot / read_iceberg_snapshot).

The contract under test: a file is dropped from the scan list ONLY
when its stats prove no row matches (conservative), the predicate is
also applied row-level (skipping is a pure optimization), and the
pruned scan list is what actually reaches Spark (df.inputFiles())."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest

from dbt_json_readr_spark.sources import lakeformats as LF
from dbt_json_readr_spark.sources import skipping as S

# ONE copy of the fixture avro schemas (r8 review finding: the lake
# fixture and these tests each carried near-verbatim literals)
from dbt_json_readr_spark.plans.lake import (  # noqa: E402
    _IB_MANIFEST_SCHEMA as _MANIFEST_SCHEMA_BOUNDS,
    _IB_MLIST_SCHEMA as _MLIST_SCHEMA,
)


def test_bucket_hashes_match_iceberg_spec_vectors():
    """Appendix B's published hash vectors pin murmur3_x86_32 and every
    per-type byte layout."""
    assert S.iceberg_bucket_hash("int", 34) == 2017239379
    assert S.iceberg_bucket_hash("long", 34) == 2017239379
    assert S.iceberg_bucket_hash("string", "iceberg") == 1210000089
    assert S.iceberg_bucket_hash("date", dt.date(2017, 11, 16)) == -653330422
    assert (
        S.iceberg_bucket_hash(
            "timestamp", dt.datetime(2017, 11, 16, 22, 31, 8)
        )
        == -2047944441
    )
    assert (
        S.iceberg_bucket_hash("decimal(9,2)", Decimal("14.20")) == -500754589
    )


def test_interval_excludes_matrix():
    ex = S._interval_excludes
    # = : only provably-outside excludes
    assert ex("=", 5, 10, 20, 0, 10) is True
    assert ex("=", 25, 10, 20, 0, 10) is True
    assert ex("=", 15, 10, 20, 0, 10) is False
    assert ex("=", 5, None, None, None, None) is False  # no stats: keep
    # ranges
    assert ex("<", 10, 10, 20, 0, 10) is True  # lo >= v
    assert ex("<", 11, 10, 20, 0, 10) is False
    assert ex("<=", 9, 10, 20, 0, 10) is True
    assert ex(">", 20, 10, 20, 0, 10) is True  # hi <= v
    assert ex(">=", 21, 10, 20, 0, 10) is True
    assert ex(">=", 20, 10, 20, 0, 10) is False
    # null ops
    assert ex("is_null", None, 10, 20, 0, 10) is True  # no nulls at all
    assert ex("is_null", None, 10, 20, 3, 10) is False
    assert ex("is_not_null", None, None, None, 10, 10) is True  # all null
    assert ex("is_not_null", None, None, None, 9, 10) is False
    # an all-null file matches no comparison
    assert ex("=", 15, None, None, 10, 10) is True
    # in: excluded only when EVERY member is
    assert ex("in", [1, 2], 10, 20, 0, 10) is True
    assert ex("in", [1, 15], 10, 20, 0, 10) is False
    # incomparable value types never exclude
    assert ex("=", "abc", 10, 20, 0, 10) is False


def test_predicate_validation_is_loud():
    with pytest.raises(S.PredicateError, match="unknown op"):
        S.validate_predicate([("id", "!=", 3)], ["id"])
    with pytest.raises(S.PredicateError, match="unknown column"):
        S.validate_predicate([("nope", "=", 3)], ["id"])
    with pytest.raises(S.PredicateError, match="matches no rows"):
        S.validate_predicate([("id", "=", None)], ["id"])
    with pytest.raises(S.PredicateError, match="takes no value"):
        S.validate_predicate([("id", "is_null", 3)], ["id"])
    with pytest.raises(S.PredicateError, match="non-empty"):
        S.validate_predicate([("id", "in", [])], ["id"])


def test_iceberg_bound_decode_appendix_d():
    import struct

    d = S.decode_iceberg_bound
    assert d("int", struct.pack("<i", -7)) == -7
    assert d("long", struct.pack("<q", 1 << 40)) == 1 << 40
    assert d("double", struct.pack("<d", 2.5)) == 2.5
    assert d("string", "héllo".encode()) == "héllo"
    assert d("date", struct.pack("<i", 17486)) == dt.date(2017, 11, 16)
    assert d(
        "timestamp", struct.pack("<q", 1510871468000000)
    ) == dt.datetime(2017, 11, 16, 22, 31, 8)
    # decimal: big-endian unscaled two's complement
    assert d("decimal(9,2)", (1420).to_bytes(2, "big")) == Decimal("14.20")
    assert d(
        "decimal(9,2)", (-1420).to_bytes(2, "big", signed=True)
    ) == Decimal("-14.20")
    # binary/fixed: Appendix D serializes the raw bytes (r11 — without
    # this, field summaries over binary-keyed truncate partitions
    # decoded to None and the walk opened every manifest)
    assert d("binary", b"\x00\xff") == b"\x00\xff"
    assert d("fixed[4]", b"\x01\x02\x03\x04") == b"\x01\x02\x03\x04"
    # unknown/garbage: None (keep the file)
    assert d("int", b"\x01") is None
    assert d("uuid", b"x" * 16) is None
    assert d("int", None) is None


def _write_delta_stats_table(tmp_path):
    """3-file partitioned Delta table with per-file add.stats; f4 has
    NO stats (conservative-keep probe); f1's val column is all-null."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "dstats"
    files = {
        "cat=a/f1.parquet": ("a", list(range(1, 11)), [None] * 10),
        "cat=b/f2.parquet": ("b", list(range(11, 21)), list(range(11, 21))),
        "cat=b/f3.parquet": ("b", list(range(21, 31)), list(range(21, 31))),
        "cat=c/f4.parquet": ("c", list(range(31, 41)), list(range(31, 41))),
    }
    for rel, (_, ids, vals) in files.items():
        dest = t / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "val": pa.array(vals, pa.int64()),
                }
            ),
            dest,
        )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "stats-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                            {"name": "val", "type": "long", "nullable": True, "metadata": {}},
                            {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
                        ],
                    }
                ),
                "partitionColumns": ["cat"],
                "configuration": {},
            }
        },
    ]
    for rel, (cat, ids, vals) in files.items():
        add = {
            "path": rel,
            "partitionValues": {"cat": cat},
            "size": 0,
            "modificationTime": 0,
            "dataChange": True,
        }
        if rel != "cat=c/f4.parquet":
            nn = [v for v in vals if v is not None]
            add["stats"] = json.dumps(
                {
                    "numRecords": len(ids),
                    "minValues": {
                        "id": min(ids),
                        **({"val": min(nn)} if nn else {}),
                    },
                    "maxValues": {
                        "id": max(ids),
                        **({"val": max(nn)} if nn else {}),
                    },
                    "nullCount": {
                        "id": 0,
                        "val": len(vals) - len(nn),
                    },
                }
            )
        actions.append({"add": add})
    log = t / "_delta_log"
    log.mkdir()
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n"
    )
    return t


def test_delta_stats_skipping_prunes_scan_list(spark, tmp_path):
    t = _write_delta_stats_table(tmp_path)

    def scanned(df):
        return sorted(p.rsplit("/", 1)[-1] for p in df.inputFiles())

    # selective id range: only f3 (21-30) and the stats-less f4 survive
    df = LF.read_delta_snapshot(spark, str(t), predicate=[("id", ">=", 25)])
    assert scanned(df) == ["f3.parquet", "f4.parquet"]
    assert sorted(r["id"] for r in df.collect()) == list(range(25, 41))

    # partition pruning is exact: cat='a' reads one file
    df = LF.read_delta_snapshot(spark, str(t), predicate=[("cat", "=", "a")])
    assert scanned(df) == ["f1.parquet"]
    assert df.count() == 10

    # conjunction proves empty BEFORE any scan
    df = LF.read_delta_snapshot(
        spark, str(t), predicate=[("id", "<", 5), ("cat", "=", "b")]
    )
    assert df.inputFiles() == []
    assert df.count() == 0

    # all-null val file (f1) is skipped by is_not_null; f4 kept
    # conservatively (no stats)
    df = LF.read_delta_snapshot(
        spark, str(t), predicate=[("val", "is_not_null", None)]
    )
    assert scanned(df) == ["f2.parquet", "f3.parquet", "f4.parquet"]
    assert df.count() == 30

    # and the row filter holds: results equal full-read-then-filter
    full = LF.read_delta_snapshot(spark, str(t))
    for pred, col in (
        ([("id", "in", [3, 17, 99])], "id"),
        ([("val", "<=", 15)], "id"),
        ([("val", "is_null", None)], "id"),
    ):
        got = sorted(
            r["id"]
            for r in LF.read_delta_snapshot(
                spark, str(t), predicate=pred
            ).collect()
        )
        want = sorted(
            r["id"] for r in full.filter(S.predicate_column(pred)).collect()
        )
        assert got == want, pred


def test_delta_prune_is_conservative_on_garbage_stats(tmp_path):
    """Unparseable stats / missing columns / unknown types keep the
    file — pruning can drop a file only on PROOF."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    base = {"partitionValues": {}}
    assert S.delta_file_matches(
        {**base, "stats": "{not json"}, schema, [], [("id", "=", 5)]
    )
    assert S.delta_file_matches(
        {**base, "stats": json.dumps({"numRecords": 3})},
        schema,
        [],
        [("id", "=", 5)],
    )
    # array-typed column can never prune
    assert S.delta_file_matches(
        {
            **base,
            "stats": json.dumps(
                {"minValues": {"tags": "a"}, "maxValues": {"tags": "b"}}
            ),
        },
        schema,
        [],
        [("tags", "=", ["x"])],
    )





def _write_iceberg_bounds_table(spark, tmp_path, n_buckets=4):
    """2-bucket-partitioned Iceberg table, 3 data files with id
    lower/upper bounds; file ranges [1,10], [11,20], [21,30]."""
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "iceb"
    (t / "metadata").mkdir(parents=True)
    (t / "data").mkdir()
    ranges = {
        "data/i1.parquet": list(range(1, 11)),
        "data/i2.parquet": list(range(11, 21)),
        "data/i3.parquet": list(range(21, 31)),
    }
    entries = []
    for rel, ids in ranges.items():
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64())}), t / rel
        )
        entries.append(
            {
                "status": 1,
                "snapshot_id": 7,
                "sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "record_count": len(ids),
                    # range layout, not bucketed: no partition tuple —
                    # this fixture tests COLUMN BOUNDS pruning alone
                    "partition": None,
                    "lower_bounds": [
                        {"key": 1, "value": struct.pack("<q", min(ids))}
                    ],
                    "upper_bounds": [
                        {"key": 1, "value": struct.pack("<q", max(ids))}
                    ],
                },
            }
        )
    LF.write_avro_records(
        str(t / "metadata" / "m-7.avro"), _MANIFEST_SCHEMA_BOUNDS, entries
    )
    LF.write_avro_records(
        str(t / "metadata" / "snap-7.avro"),
        _MLIST_SCHEMA,
        [
            {
                "manifest_path": "metadata/m-7.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 7,
                "sequence_number": 1,
            }
        ],
    )
    meta = {
        "format-version": 2,
        "location": str(t),
        "current-snapshot-id": 7,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "id_bucket",
                        "transform": f"bucket[{n_buckets}]",
                        "source-id": 1,
                        "field-id": 1000,
                    }
                ],
            }
        ],
        "snapshots": [
            {
                "snapshot-id": 7,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "manifest-list": "metadata/snap-7.avro",
                "summary": {"operation": "append"},
            }
        ],
    }
    mp = t / "metadata" / "v1.metadata.json"
    mp.write_text(json.dumps(meta))
    return mp, ranges


def test_iceberg_bounds_skipping_prunes_scan_list(spark, tmp_path):
    mp, ranges = _write_iceberg_bounds_table(spark, tmp_path)

    def scanned(df):
        return sorted(p.rsplit("/", 1)[-1] for p in df.inputFiles())

    df = LF.read_iceberg_snapshot(spark, str(mp), predicate=[("id", ">", 20)])
    assert scanned(df) == ["i3.parquet"]
    assert sorted(r["id"] for r in df.collect()) == list(range(21, 31))

    df = LF.read_iceberg_snapshot(
        spark, str(mp), predicate=[("id", "in", [5, 15])]
    )
    assert scanned(df) == ["i1.parquet", "i2.parquet"]
    assert sorted(r["id"] for r in df.collect()) == [5, 15]

    df = LF.read_iceberg_snapshot(spark, str(mp), predicate=[("id", "<", 1)])
    assert df.inputFiles() == []
    assert df.count() == 0


def _write_iceberg_bucket_table(spark, tmp_path, n_buckets=2):
    """GENUINELY bucket-partitioned: ids 1..30 split into one file per
    bucket[2](id) value, each file's bounds spanning nearly the whole
    range — so only the partition transform can prune."""
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "icebucket"
    (t / "metadata").mkdir(parents=True)
    (t / "data").mkdir()
    b_of = lambda v: (S.iceberg_bucket_hash("long", v) & 0x7FFFFFFF) % n_buckets  # noqa: E731
    by_bucket: dict[int, list[int]] = {}
    for v in range(1, 31):
        by_bucket.setdefault(b_of(v), []).append(v)
    assert len(by_bucket) == n_buckets  # both buckets materialize
    entries = []
    for b, ids in sorted(by_bucket.items()):
        rel = f"data/b{b}.parquet"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), t / rel)
        entries.append(
            {
                "status": 1,
                "snapshot_id": 7,
                "sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "record_count": len(ids),
                    "partition": {"id_bucket": b},
                    "lower_bounds": [
                        {"key": 1, "value": struct.pack("<q", min(ids))}
                    ],
                    "upper_bounds": [
                        {"key": 1, "value": struct.pack("<q", max(ids))}
                    ],
                },
            }
        )
    LF.write_avro_records(
        str(t / "metadata" / "m-7.avro"), _MANIFEST_SCHEMA_BOUNDS, entries
    )
    LF.write_avro_records(
        str(t / "metadata" / "snap-7.avro"),
        _MLIST_SCHEMA,
        [
            {
                "manifest_path": "metadata/m-7.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 7,
                "sequence_number": 1,
            }
        ],
    )
    meta = {
        "format-version": 2,
        "location": str(t),
        "current-snapshot-id": 7,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "id_bucket",
                        "transform": f"bucket[{n_buckets}]",
                        "source-id": 1,
                        "field-id": 1000,
                    }
                ],
            }
        ],
        "snapshots": [
            {
                "snapshot-id": 7,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "manifest-list": "metadata/snap-7.avro",
                "summary": {"operation": "append"},
            }
        ],
    }
    mp = t / "metadata" / "v1.metadata.json"
    mp.write_text(json.dumps(meta))
    return mp, by_bucket, b_of


def test_iceberg_bucket_partition_prune(spark, tmp_path):
    """VERDICT r7 item 6's done criterion: a bucket-partitioned fixture
    scans ONLY the matching file under an equality predicate — the
    bounds of both files admit the value, so the partition transform is
    what prunes."""
    mp, by_bucket, b_of = _write_iceberg_bucket_table(spark, tmp_path)
    # one probe per bucket, near the middle of the id range
    probes = {
        b: min(ids, key=lambda x: abs(x - 15)) for b, ids in by_bucket.items()
    }
    for b, v in sorted(probes.items()):
        df = LF.read_iceberg_snapshot(
            spark, str(mp), predicate=[("id", "=", v)]
        )
        assert [p.rsplit("/", 1)[-1] for p in df.inputFiles()] == [
            f"b{b}.parquet"
        ]
        assert [r["id"] for r in df.collect()] == [v]
    # 'in' spanning both buckets keeps both files
    df = LF.read_iceberg_snapshot(
        spark, str(mp), predicate=[("id", "in", sorted(probes.values()))]
    )
    assert sorted(p.rsplit("/", 1)[-1] for p in df.inputFiles()) == [
        "b0.parquet",
        "b1.parquet",
    ]
    assert sorted(r["id"] for r in df.collect()) == sorted(probes.values())
    # range predicates never prune through bucket (non-monotonic):
    # both files stay, rows filter correctly
    df = LF.read_iceberg_snapshot(spark, str(mp), predicate=[("id", "<", 4)])
    assert len(df.inputFiles()) == 2
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]




def test_iceberg_manifest_list_summary_prune(spark, tmp_path, monkeypatch):
    """Manifest-LIST-level pruning (r8): a data manifest whose
    partition field summary proves no match is never even OPENED — the
    driver walk scales with matching manifests.  Two manifests, one
    per bucket; an equality predicate reads exactly one manifest avro
    and returns the right rows."""
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "icemlist"
    (t / "metadata").mkdir(parents=True)
    (t / "data").mkdir()
    b_of = lambda v: (S.iceberg_bucket_hash("long", v) & 0x7FFFFFFF) % 2  # noqa: E731
    by_bucket: dict[int, list[int]] = {}
    for v in range(1, 31):
        by_bucket.setdefault(b_of(v), []).append(v)
    mlist_rows = []
    for b, ids in sorted(by_bucket.items()):
        rel = f"data/b{b}.parquet"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), t / rel)
        LF.write_avro_records(
            str(t / "metadata" / f"m-{b}.avro"),
            _MANIFEST_SCHEMA_BOUNDS,
            [
                {
                    "status": 1,
                    "snapshot_id": 7,
                    "sequence_number": 1,
                    "data_file": {
                        "content": 0,
                        "file_path": rel,
                        "file_format": "PARQUET",
                        "record_count": len(ids),
                        "partition": {"id_bucket": b},
                        "lower_bounds": [
                            {"key": 1, "value": struct.pack("<q", min(ids))}
                        ],
                        "upper_bounds": [
                            {"key": 1, "value": struct.pack("<q", max(ids))}
                        ],
                    },
                }
            ],
        )
        mlist_rows.append(
            {
                "manifest_path": f"metadata/m-{b}.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 7,
                "sequence_number": 1,
                "partitions": [
                    {
                        "contains_null": False,
                        # summary bounds are over the TRANSFORMED
                        # (bucket) values — this manifest holds only b
                        "lower_bound": struct.pack("<i", b),
                        "upper_bound": struct.pack("<i", b),
                    }
                ],
            }
        )
    LF.write_avro_records(
        str(t / "metadata" / "snap-7.avro"),
        _MLIST_SCHEMA,
        mlist_rows,
    )
    meta = {
        "format-version": 2,
        "location": str(t),
        "current-snapshot-id": 7,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "id_bucket",
                        "transform": "bucket[2]",
                        "source-id": 1,
                        "field-id": 1000,
                    }
                ],
            }
        ],
        "snapshots": [
            {
                "snapshot-id": 7,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "manifest-list": "metadata/snap-7.avro",
                "summary": {"operation": "append"},
            }
        ],
    }
    mp = t / "metadata" / "v1.metadata.json"
    mp.write_text(json.dumps(meta))

    opened: list[str] = []
    real = LF._read_avro_records

    def spy(*paths):
        opened.extend(str(p).rsplit("/", 1)[-1] for p in paths)
        return real(*paths)

    monkeypatch.setattr(LF, "_read_avro_records", spy)
    v = by_bucket[0][len(by_bucket[0]) // 2]
    df = LF.read_iceberg_snapshot(spark, str(mp), predicate=[("id", "=", v)])
    assert [r["id"] for r in df.collect()] == [v]
    # manifest list + ONLY bucket 0's manifest were opened
    assert "snap-7.avro" in opened
    assert "m-0.avro" in opened
    assert "m-1.avro" not in opened
    # no predicate → both manifests walked, all 30 rows
    opened.clear()
    assert LF.read_iceberg_snapshot(spark, str(mp)).count() == 30
    assert "m-1.avro" in opened


def test_r8_review_regressions(spark, tmp_path):
    """Pins for the r8 mid-round review findings — each of these was a
    confirmed silent-wrong-answer or crash before the fix."""
    import datetime as dtm
    import struct

    from pyspark.sql import types as T

    # decimal bucket hash must use MINIMAL two's complement (-128 is
    # one byte 0x80; two-byte 0xFF80 hashed to a different bucket)
    assert S._min_twos_complement(-128) == b"\x80"
    assert S._min_twos_complement(128) == b"\x00\x80"
    assert S._min_twos_complement(-129) == b"\xff\x7f"
    assert S._min_twos_complement(0) == b"\x00"
    h_min = S.iceberg_bucket_hash("decimal(9,2)", Decimal("-1.28"))
    assert h_min == S.murmur3_x86_32(b"\x80") - (
        (1 << 32) if S.murmur3_x86_32(b"\x80") >= (1 << 31) else 0
    )

    # tz-aware timestamps hash their UTC instant, not local wall time
    aware = dt.datetime(
        2017, 11, 16, 22, 31, 8, tzinfo=dtm.timezone(dtm.timedelta(hours=5))
    )
    assert S.iceberg_bucket_hash("timestamptz", aware) == S.iceberg_bucket_hash(
        "timestamp", dt.datetime(2017, 11, 16, 17, 31, 8)
    )

    # type-mismatched predicate values KEEP (None), never raise
    assert S.iceberg_bucket_hash("long", "abc") is None
    assert S.iceberg_bucket_hash("date", "2017-11-16") is None
    assert S.iceberg_bucket_hash("decimal(9,2)", 14.2) is None
    assert S._apply_transform("truncate[4]", "string", 99.5) is None

    # un-coercible partition value (binary column) is NOT a null —
    # the file stays in the scan list
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("b", T.BinaryType()),
        ]
    )
    f = {"partitionValues": {"b": "abc"}, "stats": None}
    assert S.delta_file_matches(f, schema, ["b"], [("b", "=", b"abc")])
    # while a GENUINE null partition still prunes comparisons
    fnull = {"partitionValues": {"b": None}, "stats": None}
    assert not S.delta_file_matches(fnull, schema, ["b"], [("b", "=", b"abc")])


def test_dv_descriptor_gates_inline_and_task_cap(spark, tmp_path, monkeypatch):
    """Inline DV descriptors missing sizeInBytes fail the loud
    LakeFormatError contract (the r7-advice fix originally covered
    only file-backed DVs), a descriptor without cardinality is
    malformed, and one DV past the per-task cap gates loudly instead
    of OOMing an executor."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from dbt_json_readr_spark.sources import roaring

    with pytest.raises(LF.LakeFormatError, match="sizeInBytes"):
        LF._dv_positions(
            str(tmp_path), {"storageType": "i", "pathOrInlineDv": "x", "cardinality": 1}
        )

    body, size, card = roaring.encode_inline([1, 3])
    t = tmp_path / "dvgates"
    t.mkdir()
    pq.write_table(pa.table({"id": pa.array([0, 1, 2, 3], pa.int64())}), t / "f.parquet")
    log = t / "_delta_log"
    log.mkdir()

    def write(desc):
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
                    "id": "dvgates",
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
                    "deletionVector": desc,
                }
            },
        ]
        (log / f"{0:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )

    # missing cardinality is malformed, not a raw TypeError
    write({"storageType": "i", "pathOrInlineDv": body, "sizeInBytes": size})
    with pytest.raises(LF.LakeFormatError, match="cardinality"):
        LF.read_delta_snapshot(spark, str(t))

    # one DV past the per-task cap gates loudly (driver-side, from the
    # descriptor — no decode attempted)
    write(
        {
            "storageType": "i",
            "pathOrInlineDv": body,
            "sizeInBytes": size,
            "cardinality": LF._DV_TASK_CAP + 1,
        }
    )
    monkeypatch.setattr(LF, "_DV_DRIVER_CAP", 1)
    with pytest.raises(LF.LakeFormatGatedError, match="per-task cap"):
        LF.read_delta_snapshot(spark, str(t))


def test_iceberg_spec_evolution_keeps_transform_pruning_off(spark, tmp_path):
    """Partition-spec EVOLUTION (r8 review finding): a manifest written
    under an older spec carries that spec's partition values — blindly
    evaluating the default spec's transforms against them pruned live
    files.  With multiple specs and no partition_spec_id on the
    manifest-list row, transform/summary pruning must stay OFF (bounds
    pruning still applies)."""
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "icevolve"
    (t / "metadata").mkdir(parents=True)
    (t / "data").mkdir()
    ids = list(range(1, 11))
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), t / "data/d.parquet")
    # the file's partition tuple is from the OLD bucket[4] spec; the
    # (default) new spec is bucket[8] — value 3 lands in a different
    # bucket under the two specs for most probes
    LF.write_avro_records(
        str(t / "metadata" / "m-1.avro"),
        _MANIFEST_SCHEMA_BOUNDS,
        [
            {
                "status": 1,
                "snapshot_id": 5,
                "sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": "data/d.parquet",
                    "file_format": "PARQUET",
                    "record_count": len(ids),
                    "partition": {
                        "id_bucket": (
                            S.iceberg_bucket_hash("long", 3) & 0x7FFFFFFF
                        )
                        % 4
                    },
                    "lower_bounds": [
                        {"key": 1, "value": struct.pack("<q", min(ids))}
                    ],
                    "upper_bounds": [
                        {"key": 1, "value": struct.pack("<q", max(ids))}
                    ],
                },
            }
        ],
    )
    LF.write_avro_records(
        str(t / "metadata" / "snap-5.avro"),
        _MLIST_SCHEMA,
        [
            {
                "manifest_path": "metadata/m-1.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 5,
                "sequence_number": 1,
                # no partition_spec_id: ambiguous under 2 specs
            }
        ],
    )
    meta = {
        "format-version": 2,
        "location": str(t),
        "current-snapshot-id": 5,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            }
        ],
        "default-spec-id": 1,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "id_bucket", "transform": "bucket[4]", "source-id": 1, "field-id": 1000}
                ],
            },
            {
                "spec-id": 1,
                "fields": [
                    {"name": "id_bucket", "transform": "bucket[8]", "source-id": 1, "field-id": 1000}
                ],
            },
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
    mp = t / "metadata" / "v1.metadata.json"
    mp.write_text(json.dumps(meta))
    # every id 1..10 must survive an equality probe — bucket[8] against
    # the bucket[4] tuple would wrongly prune some of them
    for v in ids:
        got = [
            r["id"]
            for r in LF.read_iceberg_snapshot(
                spark, str(mp), predicate=[("id", "=", v)]
            ).collect()
        ]
        assert got == [v], f"id={v} lost to cross-spec transform pruning"


def test_transform_edge_pins_second_review():
    """Second-review pins: tz-aware datetimes convert to UTC before the
    date-family transforms, truncate on Decimal keys on the TYPE's
    scale (Decimal('1E+2') == Decimal('100.00') must truncate alike),
    and hour floors rather than truncating toward zero pre-1970."""
    import datetime as dtm

    tz5 = dtm.timezone(dtm.timedelta(hours=5))
    # 2017-11-17T02:00+05:00 is 2017-11-16T21:00 UTC → day 17486
    aware = dt.datetime(2017, 11, 17, 2, 0, tzinfo=tz5)
    assert S._apply_transform("day", "timestamptz", aware) == 17486
    assert S._apply_transform("day", "timestamptz", aware) == S._apply_transform(
        "day", "timestamp", dt.datetime(2017, 11, 16, 21, 0)
    )

    assert S._apply_transform(
        "truncate[10]", "decimal(9,2)", Decimal("100.00")
    ) == S._apply_transform("truncate[10]", "decimal(9,2)", Decimal("1E+2"))
    assert S._apply_transform(
        "truncate[10]", "decimal(9,2)", Decimal("100.07")
    ) == Decimal("100.00")

    assert S._apply_transform(
        "hour", "timestamp", dt.datetime(1969, 12, 31, 23, 30)
    ) == -1
    assert S._apply_transform(
        "hour", "timestamp", dt.datetime(1970, 1, 1, 0, 30)
    ) == 0


def test_truncate_and_decimal_pins_third_review():
    """Third-review pins: truncate dispatches on the COLUMN type (an
    int literal against a decimal column keeps, never truncates at the
    wrong granularity), unscaled decimals compute exactly past the
    default 28-digit context, and an aware value against an NTZ
    timestamp column keeps."""
    import datetime as dtm

    # int literal vs decimal column: keep (None), not wrong-granularity
    assert S._apply_transform("truncate[10]", "decimal(9,2)", 105) is None
    # int vs string column / str vs long column: keep
    assert S._apply_transform("truncate[4]", "string", 105) is None
    assert S._apply_transform("truncate[10]", "long", "105") is None
    # matched types still work
    assert S._apply_transform("truncate[10]", "long", 105) == 100
    assert S._apply_transform("truncate[4]", "string", "iceberg") == "iceb"

    # 38-digit decimal: exact unscaled, no 28-digit context rounding
    big = Decimal("123456789012345678901234567890.12")
    assert S._decimal_unscaled(big, "decimal(38,2)") == int(
        "12345678901234567890123456789012"
    )
    assert S._apply_transform("truncate[10]", "decimal(38,2)", big) == Decimal(
        "123456789012345678901234567890.10"
    )
    # finer-scaled value than the type: keep
    assert S._decimal_unscaled(Decimal("1.234"), "decimal(9,2)") is None

    # aware predicate value against an NTZ column: keep (None)
    aware = dt.datetime(
        2017, 11, 17, 2, 0, tzinfo=dtm.timezone(dtm.timedelta(hours=5))
    )
    assert S._apply_transform("day", "timestamp", aware) is None
    assert S.iceberg_bucket_hash("timestamp", aware) is None
    # and still converts for timestamptz
    assert S._apply_transform("day", "timestamptz", aware) == 17486


def test_session_tz_dependent_terms_keep_fourth_review():
    """Fourth-review pins: a NAIVE datetime against a tz column (Spark
    converts the literal via session/driver tz), an AWARE value or
    offset-bearing stat string against an NTZ column, and a datetime
    literal against a non-timestamp column all make the term UNUSABLE
    for pruning — the file is kept."""
    import datetime as dtm

    from pyspark.sql import types as T

    naive = dt.datetime(2017, 11, 16, 22, 31, 8)
    aware = dt.datetime(
        2017, 11, 16, 22, 31, 8, tzinfo=dtm.timezone(dtm.timedelta(hours=5))
    )
    U = S._TS_UNUSABLE
    # iceberg: naive on timestamptz unusable; aware converts to UTC
    assert S._normalize_term_value(True, False, "=", naive) is U
    assert S._normalize_term_value(True, False, "=", aware) == dt.datetime(
        2017, 11, 16, 17, 31, 8
    )
    # NTZ: aware unusable, naive passes
    assert S._normalize_term_value(False, True, "=", aware) is U
    assert S._normalize_term_value(False, True, "=", naive) == naive
    # datetime vs non-timestamp column: unusable
    assert S._normalize_term_value(False, False, "=", naive) is U
    # one bad member poisons the whole 'in'
    assert S._normalize_term_value(True, False, "in", [aware, naive]) is U

    # delta: a naive literal on a TimestampType column never prunes
    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    f = {
        "partitionValues": {},
        "stats": json.dumps(
            {
                "numRecords": 2,
                "minValues": {"ts": "2021-01-01T00:00:00Z"},
                "maxValues": {"ts": "2021-01-02T00:00:00Z"},
                "nullCount": {"ts": 0},
            }
        ),
    }
    assert S.delta_file_matches(
        f, schema, [], [("ts", "=", dt.datetime(2030, 1, 1))]
    )
    # while an aware literal prunes on its UTC instant
    utc = dtm.timezone.utc
    assert not S.delta_file_matches(
        f, schema, [], [("ts", "=", dt.datetime(2030, 1, 1, tzinfo=utc))]
    )
    assert S.delta_file_matches(
        f, schema, [], [("ts", "=", dt.datetime(2021, 1, 1, 12, tzinfo=utc))]
    )

    # NTZ column with an offset-bearing stat string: _coerce keeps
    assert (
        S._coerce(T.TimestampNTZType(), "2021-06-01T05:00:00+05:00") is None
    )
    assert S._coerce(
        T.TimestampNTZType(), "2021-06-01T05:00:00"
    ) == dt.datetime(2021, 6, 1, 5)


def test_unusable_terms_keep_null_prunes_fifth_review():
    """Fifth-review pins: an unusable (session-tz-dependent) term still
    prunes ALL-NULL files and null partitions (tz-independent), and an
    offset-LESS timestamp stat string on a tz column keeps while a
    Z-bearing one prunes."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("p", T.TimestampType()),
        ]
    )
    naive = dt.datetime(2030, 1, 1)
    # all-null ts file: pruned even though the literal is naive
    f_allnull = {
        "partitionValues": {},
        "stats": json.dumps(
            {"numRecords": 5, "nullCount": {"ts": 5}},
        ),
    }
    assert not S.delta_file_matches(
        f_allnull, schema, [], [("ts", "=", naive)]
    )
    # null PARTITION value: pruned for any comparison op
    f_nullpart = {"partitionValues": {"p": None}, "stats": None}
    assert not S.delta_file_matches(
        f_nullpart, schema, ["p"], [("p", "=", naive)]
    )
    # offset-less timestamp stat string on a tz column is ambiguous →
    # keep; Z-bearing prunes
    assert S._coerce(T.TimestampType(), "2021-01-01 05:30:00") is None
    assert S._coerce(T.TimestampType(), "2021-01-01T05:30:00Z") == dt.datetime(
        2021, 1, 1, 5, 30
    )


def test_manifest_summary_contains_null_prunes_is_null():
    """An identity-partition summary with contains_null=False proves
    the manifest holds no null source values — an is_null term prunes
    the whole manifest; contains_null=True (or a bucket transform)
    keeps it."""
    import struct

    ctx = S.make_iceberg_match_context(
        {
            "type": "struct",
            "fields": [{"id": 1, "name": "cat", "required": False, "type": "string"}],
        },
        {1: "cat"},
    )
    spec = [
        {"name": "cat", "transform": "identity", "source-id": 1, "field-id": 1000}
    ]
    row_no_nulls = {
        "partitions": [
            {"contains_null": False, "lower_bound": b"a", "upper_bound": b"z"}
        ]
    }
    row_with_nulls = {
        "partitions": [
            {"contains_null": True, "lower_bound": b"a", "upper_bound": b"z"}
        ]
    }
    pred = [("cat", "is_null", None)]
    assert not S.iceberg_manifest_matches(row_no_nulls, ctx, pred, spec)
    assert S.iceberg_manifest_matches(row_with_nulls, ctx, pred, spec)
    # null->null holds for every transform: a bucket summary with
    # contains_null=False prunes is_null too, even WITHOUT bounds
    bspec = [
        {"name": "cat_bucket", "transform": "bucket[4]", "source-id": 1, "field-id": 1000}
    ]
    assert not S.iceberg_manifest_matches(
        {"partitions": [{"contains_null": False}]}, ctx, pred, bspec
    )
    assert S.iceberg_manifest_matches(
        {"partitions": [{"contains_null": True}]}, ctx, pred, bspec
    )
    # is_not_null never prunes at summary level
    assert S.iceberg_manifest_matches(
        row_no_nulls, ctx, [("cat", "is_not_null", None)], spec
    )


def test_delta_skipping_through_checkpoint_stats(spark, tmp_path):
    """Stats survive the CHECKPOINT path: a vacuumed table whose state
    seeds from checkpoint parquet (add.stats string column) must prune
    exactly like a JSON-replayed one — a bridge that dropped stats at
    the checkpoint boundary would silently stop skipping on every
    long-lived table."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "ckpt_stats"
    log = t / "_delta_log"
    log.mkdir(parents=True)
    ranges = {"part-a.parquet": 1, "part-b.parquet": 11, "part-c.parquet": 21}
    for name, lo in ranges.items():
        pq.write_table(
            pa.table({"id": pa.array(range(lo, lo + 10), pa.int64())}), t / name
        )

    def stats(lo):
        return _json.dumps(
            {
                "numRecords": 10,
                "minValues": {"id": lo},
                "maxValues": {"id": lo + 9},
                "nullCount": {"id": 0},
            }
        )

    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [{"name": "id", "type": "long", "nullable": False, "metadata": {}}],
        }
    )
    pv_type = pa.map_(pa.string(), pa.string())
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pv_type),
            ("stats", pa.string()),
        ]
    )
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
        {
            "add": {"path": "part-a.parquet", "partitionValues": [], "stats": stats(1)},
            "metaData": None,
            "protocol": None,
        },
        {
            "add": {"path": "part-b.parquet", "partitionValues": [], "stats": stats(11)},
            "metaData": None,
            "protocol": None,
        },
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
    (log / f"{2:020d}.json").write_text(
        _json.dumps(
            {
                "add": {
                    "path": "part-c.parquet",
                    "partitionValues": {},
                    "size": 0,
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": stats(21),
                }
            }
        )
        + "\n"
    )
    snap = LF.delta_snapshot(str(t))
    kept, skipped = LF.prune_delta_files(snap, [("id", ">=", 25)])
    assert [f["path"] for f in kept] == ["part-c.parquet"]
    assert skipped == 2
    df = LF.read_delta_snapshot(spark, str(t), predicate=[("id", "<", 5)])
    assert [p.rsplit("/", 1)[-1] for p in df.inputFiles()] == ["part-a.parquet"]
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3, 4]


def test_truncate_binary_and_fixed_read_side():
    """r11: truncate[W] over binary/fixed prunes READ-side (first W
    bytes, order-preserving); non-bytes values and the writer's
    type-mismatch cases keep the file (None), never raise — same
    conservative-keep contract as the bucket branches."""
    assert S._apply_transform("truncate[4]", "binary", b"abcdef") == b"abcd"
    assert S._apply_transform("truncate[4]", "binary", b"ab") == b"ab"
    assert S._apply_transform("truncate[2]", "fixed[16]", bytearray(b"\x00\xff\x80")) == b"\x00\xff"
    # type-mismatched predicate values: keep, never raise
    assert S._apply_transform("truncate[4]", "binary", "abcdef") is None
    assert S._apply_transform("truncate[4]", "binary", 42) is None
    # nested-type JSON (t = None path): keep, never raise
    assert S._apply_transform("truncate[4]", {"type": "struct"}, b"ab") is None
    # bucket over binary through the same dispatcher, sanity
    assert S._apply_transform("bucket[8]", "binary", b"\x01\x02") == (
        (S.iceberg_bucket_hash("binary", b"\x01\x02") & 0x7FFFFFFF) % 8
    )
