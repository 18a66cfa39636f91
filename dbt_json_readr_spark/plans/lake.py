"""External-format bridge keys (SURVEY §2 E: Delta / Iceberg interop)
over deterministic hand-built metadata fixtures.

The fixtures are materialized on demand (same discipline as
sources/lake_fixture.py — atomic build, version marker, nothing
committed): a real 3-commit Delta table (pyarrow data files + stdlib
JSON log, partitioned, with a remove action so time travel has teeth)
and an Iceberg metadata.json with schema evolution and a 3-snapshot
lineage.  Both oracles re-derive expectations with INDEPENDENT stdlib
parses — the bridge module never touches its own oracle.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import prep
from ..sources import lakeformats as LF
from ..sources import staging

FIXTURE_ROOT = Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "lake"
DELTA_DIR = FIXTURE_ROOT / "delta_sales"
DELTA_CM_DIR = FIXTURE_ROOT / "delta_cm_orders"
DELTA_DV_DIR = FIXTURE_ROOT / "delta_dv_events"
DELTA_CDF_DIR = FIXTURE_ROOT / "delta_cdf_orders"
DELTA_SKIP_DIR = FIXTURE_ROOT / "delta_stats_sales"
ICEBERG_DIR = FIXTURE_ROOT / "iceberg_sales"
ICEBERG_META = ICEBERG_DIR / "metadata" / "v3.metadata.json"
ICEBERG_BUCKET_DIR = FIXTURE_ROOT / "iceberg_bucketed"
ICEBERG_BUCKET_META = ICEBERG_BUCKET_DIR / "metadata" / "v1.metadata.json"
DELTA_CDFM_DIR = FIXTURE_ROOT / "delta_cdf_mapped"
DELTA_CDFID_DIR = FIXTURE_ROOT / "delta_cdf_mapid"
_VERSION = "13"

# ------------------------------------------------------- fixtures

_DELTA_SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "amount_cents", "type": "long", "nullable": True, "metadata": {}},
            {"name": "year", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)

# (path, partition year, [(id, amount_cents), ...])
_DELTA_FILES = {
    "year=2024/part-0.parquet": ("2024", [(i, i * 100 + 7) for i in range(1, 11)]),
    "year=2025/part-0.parquet": ("2025", [(i, i * 100 + 7) for i in range(11, 16)]),
    "year=2025/part-1.parquet": ("2025", [(i, i * 100 + 7) for i in range(16, 21)]),
    "year=2024/part-1.parquet": ("2024", [(i, i * 100 + 7) for i in range(21, 26)]),
}

# commit → actions; v2 RESTATES 2024 (remove + add), so time travel to
# v0/v1 must resurface the removed file and drop the restated one
_DELTA_COMMITS: list[list[dict]] = [
    [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "4b1f5a6e-delta-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _DELTA_SCHEMA_STRING,
                "partitionColumns": ["year"],
                "configuration": {},
            }
        },
        {"add": {"path": "year=2024/part-0.parquet", "partitionValues": {"year": "2024"}, "size": 0, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "year=2025/part-0.parquet", "partitionValues": {"year": "2025"}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
    [
        {"add": {"path": "year=2025/part-1.parquet", "partitionValues": {"year": "2025"}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
    [
        {"remove": {"path": "year=2024/part-0.parquet", "dataChange": True}},
        {"add": {"path": "year=2024/part-1.parquet", "partitionValues": {"year": "2024"}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
]

# --- column-mapped Delta fixture ---
# Physical parquet column names are uuid-ish and NEVER change; logical
# names live only in schemaString metadata.  Commit 1 RENAMES logical
# "quantity" → "qty_renamed" without touching any data file — the
# metadata-only rename column mapping exists to enable.  Protocol is
# reader 3 + readerFeatures ["columnMapping"] to exercise the
# table-features gate path (not just legacy reader 2).
_CM_PHYS = {"id": "col-9f8e7d6c", "quantity": "col-1a2b3c4d", "region": "col-5e6f7a8b"}


def _cm_schema_string(qty_logical: str) -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": False,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": _CM_PHYS["id"],
                    },
                },
                {
                    "name": qty_logical,
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": _CM_PHYS["quantity"],
                    },
                },
                {
                    "name": "region",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 3,
                        "delta.columnMapping.physicalName": _CM_PHYS["region"],
                    },
                },
            ],
        }
    )


def _cm_metadata_action(qty_logical: str) -> dict:
    return {
        "metaData": {
            "id": "7c2d9e0f-delta-cm-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _cm_schema_string(qty_logical),
            "partitionColumns": ["region"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
            },
        }
    }


# (path, partition region, [(id, quantity), ...]) — files store ONLY
# physical names; region exists solely in partitionValues (physical key)
_DELTA_CM_FILES = {
    "part-cm-0.parquet": ("east", [(i, i * 3 + 1) for i in range(1, 9)]),
    "part-cm-1.parquet": ("west", [(i, i * 3 + 1) for i in range(9, 15)]),
    "part-cm-2.parquet": ("east", [(i, i * 3 + 1) for i in range(15, 20)]),
}

_DELTA_CM_COMMITS: list[list[dict]] = [
    [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
        },
        _cm_metadata_action("quantity"),
        {"add": {"path": "part-cm-0.parquet", "partitionValues": {_CM_PHYS["region"]: "east"}, "size": 0, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "part-cm-1.parquet", "partitionValues": {_CM_PHYS["region"]: "west"}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
    [
        # logical rename + one more file; physical names untouched
        _cm_metadata_action("qty_renamed"),
        {"add": {"path": "part-cm-2.parquet", "partitionValues": {_CM_PHYS["region"]: "east"}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
]

# --- deletion-vector Delta fixture ---
# Unpartitioned table, protocol 3 + deletionVectors.  Commit 1 puts a
# 'u'-storage DV on fa (UUID-named bin file under a prefix dir, the
# shape production writers emit); commit 2 puts an INLINE ('i') DV on
# fb.  Both are remove+re-add of the same data file — a DV update
# never rewrites data.  v0 must time-travel to the undeleted rows.
_DV_SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)
# file → ids (v = id*7); positions are row indexes within the file
_DV_FILES = {
    "fa.parquet": list(range(1, 11)),
    "fb.parquet": list(range(11, 21)),
    "fc.parquet": list(range(21, 31)),
}
_DV_DELETES = {"fa.parquet": [0, 3], "fb.parquet": [5]}
# deterministic UUID for the 'u'-storage DV file (fixture stability)
_DV_UUID_HEX = "8d7f31c4b2a6401e9f0c5b3d7a291e46"
_DV_PREFIX = "dv"

# --- change-data-feed Delta fixture ---
# Unpartitioned CDF-enabled table.  Commit 1 is an UPDATE that emits a
# cdc action (_change_data file carrying update_preimage /
# update_postimage rows) — per the protocol the cdc files are then
# AUTHORITATIVE for that commit and its add/remove must not be double
# counted; commits 0/2 derive inserts from add(dataChange=true) and
# commit 3 derives deletes from remove(dataChange=true).
_CDF_SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "qty", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)
_CDF_FILES = {
    "f0.parquet": [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)],
    "f1.parquet": [(6, 60), (7, 70), (8, 80), (9, 90), (10, 100)],
    # f2 = the updated image of f1 (qty +1)
    "f2.parquet": [(6, 61), (7, 71), (8, 81), (9, 91), (10, 101)],
    "f3.parquet": [(11, 110), (12, 120), (13, 130)],
}
_CDF_CDC_FILES = {
    "_change_data/c1.parquet": (
        [(i, q, "update_preimage") for i, q in _CDF_FILES["f1.parquet"]]
        + [(i, q, "update_postimage") for i, q in _CDF_FILES["f2.parquet"]]
    ),
}
_CDF_COMMITS: list[list[dict]] = [
    [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {
            "metaData": {
                "id": "7a3c9e2d-delta-cdf-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _CDF_SCHEMA_STRING,
                "partitionColumns": [],
                "configuration": {"delta.enableChangeDataFeed": "true"},
            }
        },
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
    [
        {"remove": {"path": "f1.parquet", "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
        {"cdc": {"path": "_change_data/c1.parquet", "partitionValues": {}, "size": 0, "dataChange": False}},
    ],
    [
        {"add": {"path": "f3.parquet", "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}},
    ],
    [
        {"remove": {"path": "f0.parquet", "dataChange": True}},
    ],
]

# deterministic commit timestamps for the delta_sales fixture (epoch
# ms; set as the log files' mtimes — the protocol's default time-travel
# clock): v0 at 2025-01-01T00:00Z, then +1h per commit
_DELTA_COMMIT_TS = {0: 1735689600000, 1: 1735693200000, 2: 1735696800000}


# --- column-mapped CDF Delta fixture ---
# Mode 'name' with CDF enabled, partitioned by region under its
# PHYSICAL partitionValues key.  Commit 1 is a cdc update (physical
# column names inside _change_data parquet); commit 2 RENAMES the
# logical qty column mid-range (metadata only — the physical layout is
# untouched, so the range stays readable); commit 3 derives a delete.
_CDFM_PHYS = {"id": "col-i", "qty": "col-q", "region": "col-r"}


def _cdfm_schema_string(qty_logical: str) -> str:
    def fld(logical, key, typ="long"):
        return {
            "name": logical,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": list(_CDFM_PHYS).index(key) + 1,
                "delta.columnMapping.physicalName": _CDFM_PHYS[key],
            },
        }

    return json.dumps(
        {
            "type": "struct",
            "fields": [
                fld("id", "id"),
                fld(qty_logical, "qty"),
                fld("region", "region", "string"),
            ],
        }
    )


def _cdfm_metadata_action(qty_logical: str) -> dict:
    return {
        "metaData": {
            "id": "3f8d1c5a-delta-cdfm-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _cdfm_schema_string(qty_logical),
            "partitionColumns": ["region"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
                "delta.enableChangeDataFeed": "true",
            },
        }
    }


# physical-name parquet content: path → (region, [(id, qty), ...])
_CDFM_FILES = {
    "m0.parquet": ("east", [(1, 10), (2, 20)]),
    "m1.parquet": ("west", [(3, 30), (4, 40)]),
    "m2.parquet": ("west", [(3, 31), (4, 41)]),  # updated image of m1
    "m3.parquet": ("east", [(5, 50)]),
}
_CDFM_CDC_FILES = {
    "_change_data/c1.parquet": (
        "west",
        [(i, q, "update_preimage") for i, q in _CDFM_FILES["m1.parquet"][1]]
        + [(i, q, "update_postimage") for i, q in _CDFM_FILES["m2.parquet"][1]],
    ),
}


def _cdfm_add(path: str, region: str, data_change: bool = True) -> dict:
    return {
        "add": {
            "path": path,
            "partitionValues": {_CDFM_PHYS["region"]: region},
            "size": 0,
            "modificationTime": 0,
            "dataChange": data_change,
        }
    }


_CDFM_COMMITS: list[list[dict]] = [
    [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
        },
        _cdfm_metadata_action("qty"),
        _cdfm_add("m0.parquet", "east"),
        _cdfm_add("m1.parquet", "west"),
    ],
    [
        {"remove": {"path": "m1.parquet", "dataChange": True}},
        _cdfm_add("m2.parquet", "west"),
        {
            "cdc": {
                "path": "_change_data/c1.parquet",
                "partitionValues": {_CDFM_PHYS["region"]: "west"},
                "size": 0,
                "dataChange": False,
            }
        },
    ],
    [
        # logical rename mid-range: physical layout untouched
        _cdfm_metadata_action("qty_r"),
        _cdfm_add("m3.parquet", "east"),
    ],
    [
        {"remove": {"path": "m0.parquet", "dataChange": True}},
    ],
]


# --- mode-'id' CDF fixture ---

_CDFID_IDS = {"id": 1, "qty": 2, "region": 3}
_CDFID_PHYS = {"id": "col-i", "qty": "col-q", "region": "col-r"}
# per-file physical NAMING scheme: footer-resolved files use arbitrary
# names only their field ids can map; 'fallback' files have no footer
# ids at all and resolve through the metadata physicalName
_CDFID_NAMING = {
    "footer_a": {"id": "zz_1", "qty": "zz_2"},
    "footer_b": {"id": "aa_one", "qty": "aa_two"},
    "fallback": {"id": _CDFID_PHYS["id"], "qty": _CDFID_PHYS["qty"]},
}
# path → (region, rows, naming)
_CDFID_FILES = {
    "i0.parquet": ("east", [(1, 10), (2, 20)], "footer_a"),
    "i1.parquet": ("west", [(3, 30), (4, 40)], "fallback"),
    "i2.parquet": ("west", [(3, 31), (4, 41)], "footer_b"),
    "i3.parquet": ("east", [(5, 50)], "footer_b"),
}
_CDFID_CDC_FILES = {
    "_change_data/c1.parquet": (
        "west",
        [(i, q, "update_preimage") for i, q in _CDFID_FILES["i1.parquet"][1]]
        + [(i, q, "update_postimage") for i, q in _CDFID_FILES["i2.parquet"][1]],
        "footer_a",
    ),
}


def _cdfid_schema_string(qty_logical: str) -> str:
    def fld(logical, key, typ="long"):
        return {
            "name": logical,
            "type": typ,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": _CDFID_IDS[key],
                "delta.columnMapping.physicalName": _CDFID_PHYS[key],
            },
        }

    return json.dumps(
        {
            "type": "struct",
            "fields": [
                fld("id", "id"),
                fld(qty_logical, "qty"),
                fld("region", "region", "string"),
            ],
        }
    )


def _cdfid_metadata_action(qty_logical: str) -> dict:
    return {
        "metaData": {
            "id": "6a2e8b4c-delta-cdfid-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _cdfid_schema_string(qty_logical),
            "partitionColumns": ["region"],
            "configuration": {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "3",
                "delta.enableChangeDataFeed": "true",
            },
        }
    }


def _cdfid_add(path: str, region: str, data_change: bool = True) -> dict:
    return {
        "add": {
            "path": path,
            "partitionValues": {_CDFID_PHYS["region"]: region},
            "size": 0,
            "modificationTime": 0,
            "dataChange": data_change,
        }
    }


_CDFID_COMMITS: list[list[dict]] = [
    [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
        },
        _cdfid_metadata_action("qty"),
        _cdfid_add("i0.parquet", "east"),
        _cdfid_add("i1.parquet", "west"),
    ],
    [
        {"remove": {"path": "i1.parquet", "dataChange": True}},
        _cdfid_add("i2.parquet", "west"),
        {
            "cdc": {
                "path": "_change_data/c1.parquet",
                "partitionValues": {_CDFID_PHYS["region"]: "west"},
                "size": 0,
                "dataChange": False,
            }
        },
    ],
    [
        # logical rename mid-range: field ids untouched, so the
        # id-mode physical fingerprint waves it through
        _cdfid_metadata_action("qty_r"),
        _cdfid_add("i3.parquet", "east"),
    ],
    [
        {"remove": {"path": "i0.parquet", "dataChange": True}},
    ],
]


# --- stats-skipping Delta fixture ---
# Every add carries the PROTOCOL.md per-file statistics JSON
# (numRecords / minValues / maxValues / nullCount), computed from the
# authoring rows at fixture-build time.  s4's v column is ALL NULL so
# is_not_null can prove a whole-file skip; cat is a partition column so
# exact partitionValues pruning is exercised alongside the intervals.
_SKIP_SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)
# path → (partition cat, id range); v = id * 3 except s4 (all null)
_SKIP_FILES = {
    "cat=a/s0.parquet": ("a", range(1, 21)),
    "cat=a/s1.parquet": ("a", range(21, 41)),
    "cat=b/s2.parquet": ("b", range(41, 61)),
    "cat=b/s3.parquet": ("b", range(61, 81)),
    "cat=c/s4.parquet": ("c", range(81, 101)),
}
_SKIP_NULL_V = {"cat=c/s4.parquet"}

# the audit's Delta predicates (label → conjunctive terms)
_DELTA_SKIP_PREDICATES = [
    ("d1_id_ge_70", [("id", ">=", 70)]),
    ("d2_cat_a", [("cat", "=", "a")]),
    ("d3_id_window", [("id", ">", 30), ("id", "<=", 50)]),
    ("d4_v_not_null", [("v", "is_not_null", None)]),
    ("d5_empty", [("id", ">", 1000)]),
]

# --- bucket-partitioned Iceberg fixture ---
# ids 1..60 land in one file per (range half, bucket[2](id)) cell; the
# bucket membership below is the murmur3_x86_32 split the Iceberg spec
# mandates (Appendix B), authored here as LITERALS so the fixture and
# the oracle never run the hash under test (the spec's own published
# vectors pin the hash in tests/test_skipping.py).  Each manifest entry
# carries the partition tuple plus id lower/upper bounds, so equality
# predicates prune through the transform and range predicates through
# the bounds.
_IB_FILES = {
    "data/low0.parquet": (0, [1, 2, 4, 10, 12, 15, 16, 18, 19, 24, 26, 27, 29]),
    "data/low1.parquet": (
        1,
        [3, 5, 6, 7, 8, 9, 11, 13, 14, 17, 20, 21, 22, 23, 25, 28, 30],
    ),
    "data/high0.parquet": (0, [36, 37, 38, 41, 42, 43, 48, 50, 52, 57]),
    "data/high1.parquet": (
        1,
        [31, 32, 33, 34, 35, 39, 40, 44, 45, 46, 47, 49, 51, 53, 54, 55, 56, 58, 59, 60],
    ),
}
_IB_N_BUCKETS = 2

# the audit's Iceberg predicates: probes 12 (bucket 0) and 33
# (bucket 1) are literals consistent with the _IB_FILES split
_ICEBERG_SKIP_PREDICATES = [
    ("i1_eq_b0", [("id", "=", 12)]),
    ("i2_eq_b1", [("id", "=", 33)]),
    ("i3_gt_45", [("id", ">", 45)]),
    ("i4_in_both", [("id", "in", [12, 33])]),
]

_ICEBERG_BUCKET_METADATA = {
    "format-version": 2,
    "table-uuid": "5a2b8c1d-iceberg-bucketed",
    "location": "warehouse/bucketed",
    "last-sequence-number": 1,
    "last-updated-ms": 1735689600000,
    "last-column-id": 1,
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
                    "transform": f"bucket[{_IB_N_BUCKETS}]",
                    "source-id": 1,
                    "field-id": 1000,
                }
            ],
        }
    ],
    "last-partition-id": 1000,
    "default-sort-order-id": 0,
    "sort-orders": [{"order-id": 0, "fields": []}],
    "current-snapshot-id": 9001,
    "snapshots": [
        {
            "snapshot-id": 9001,
            "sequence-number": 1,
            "timestamp-ms": 1735689600000,
            "schema-id": 0,
            "manifest-list": "metadata/snap-9001.avro",
            "summary": {"operation": "append"},
        }
    ],
}


_ICEBERG_METADATA = {
    "format-version": 2,
    "table-uuid": "0f6d7b1c-iceberg-fixture",
    "location": "warehouse/sales",
    "last-sequence-number": 5,
    "last-updated-ms": 1735689600000,
    "last-column-id": 3,
    "current-schema-id": 1,
    "schemas": [
        {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "id", "required": True, "type": "long"},
                {"id": 2, "name": "amount", "required": False, "type": "decimal(12,2)"},
            ],
        },
        {
            "type": "struct",
            "schema-id": 1,
            "fields": [
                {"id": 1, "name": "id", "required": True, "type": "long"},
                {"id": 2, "name": "amount", "required": False, "type": "decimal(12,2)"},
                {"id": 3, "name": "channel", "required": False, "type": "string"},
            ],
        },
    ],
    "default-spec-id": 0,
    "partition-specs": [{"spec-id": 0, "fields": []}],
    "last-partition-id": 999,
    "default-sort-order-id": 0,
    "sort-orders": [{"order-id": 0, "fields": []}],
    "current-snapshot-id": 1005,
    "snapshots": [
        {
            "snapshot-id": 1001,
            "sequence-number": 1,
            "timestamp-ms": 1735603200000,
            "schema-id": 0,
            "manifest-list": "metadata/snap-1001.avro",
            "summary": {"operation": "append", "total-data-files": "2", "total-records": "20"},
        },
        {
            "snapshot-id": 1002,
            "parent-snapshot-id": 1001,
            "sequence-number": 2,
            "timestamp-ms": 1735646400000,
            "schema-id": 1,
            "manifest-list": "metadata/snap-1002.avro",
            "summary": {"operation": "append", "total-data-files": "3", "total-records": "35"},
        },
        {
            "snapshot-id": 1003,
            "parent-snapshot-id": 1002,
            "sequence-number": 3,
            "timestamp-ms": 1735689600000,
            "schema-id": 1,
            "manifest-list": "metadata/snap-1003.avro",
            "summary": {"operation": "overwrite", "total-data-files": "2", "total-records": "25"},
        },
        {
            "snapshot-id": 1004,
            "parent-snapshot-id": 1003,
            "sequence-number": 4,
            "timestamp-ms": 1735776000000,
            "schema-id": 1,
            "manifest-list": "metadata/snap-1004.avro",
            "summary": {"operation": "delete", "total-data-files": "2", "total-records": "23"},
        },
        {
            "snapshot-id": 1005,
            "parent-snapshot-id": 1004,
            "sequence-number": 5,
            "timestamp-ms": 1735862400000,
            "schema-id": 1,
            "manifest-list": "metadata/snap-1005.avro",
            "summary": {"operation": "delete", "total-data-files": "2", "total-records": "12"},
        },
    ],
}


def ensure_lake_fixtures(root: Path | str = FIXTURE_ROOT) -> Path:
    """Idempotent, atomic materialization of both fixtures."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: Path) -> None:
        delta = tmp / DELTA_DIR.name
        for rel, (_, rows) in _DELTA_FILES.items():
            dest = delta / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array([r[0] for r in rows], pa.int64()),
                        "amount_cents": pa.array([r[1] for r in rows], pa.int64()),
                    }
                ),
                dest,
            )
        log = delta / "_delta_log"
        log.mkdir(parents=True)
        for v, actions in enumerate(_DELTA_COMMITS):
            p = log / f"{v:020d}.json"
            p.write_text(
                "\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n"
            )
            # deterministic commit clock for AS OF TIMESTAMP travel
            # (mtime is the protocol's default timestamp source;
            # os.replace of the tmp tree preserves it)
            ns = _DELTA_COMMIT_TS[v] * 1_000_000
            os.utime(p, ns=(ns, ns))
        cm = tmp / DELTA_CM_DIR.name
        cm.mkdir(parents=True)
        for rel, (_, rows) in _DELTA_CM_FILES.items():
            pq.write_table(
                pa.table(
                    {
                        _CM_PHYS["id"]: pa.array([r[0] for r in rows], pa.int64()),
                        _CM_PHYS["quantity"]: pa.array(
                            [r[1] for r in rows], pa.int64()
                        ),
                    }
                ),
                cm / rel,
            )
        cm_log = cm / "_delta_log"
        cm_log.mkdir(parents=True)
        for v, actions in enumerate(_DELTA_CM_COMMITS):
            (cm_log / f"{v:020d}.json").write_text(
                "\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n"
            )
        import uuid as _uuid

        from ..sources import roaring

        dv = tmp / DELTA_DV_DIR.name
        dv.mkdir(parents=True)
        for rel, ids in _DV_FILES.items():
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.int64()),
                        "v": pa.array([i * 7 for i in ids], pa.int64()),
                    }
                ),
                dv / rel,
            )
        uid = _uuid.UUID(_DV_UUID_HEX)
        (dv / _DV_PREFIX).mkdir()
        ((offset, size, card),) = roaring.write_dv_file(
            str(dv / _DV_PREFIX / f"deletion_vector_{uid}.bin"),
            [_DV_DELETES["fa.parquet"]],
        )
        inline_body, inline_size, inline_card = roaring.encode_inline(
            _DV_DELETES["fb.parquet"]
        )
        dv_commits: list[list[dict]] = [
            [
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
                        "id": "2c8e4f1a-delta-dv-fixture",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _DV_SCHEMA_STRING,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                },
            ]
            + [
                {"add": {"path": rel, "partitionValues": {}, "size": 0, "modificationTime": 0, "dataChange": True}}
                for rel in sorted(_DV_FILES)
            ],
            [
                {"remove": {"path": "fa.parquet", "dataChange": True}},
                {
                    "add": {
                        "path": "fa.parquet",
                        "partitionValues": {},
                        "size": 0,
                        "modificationTime": 0,
                        "dataChange": False,
                        "deletionVector": {
                            "storageType": "u",
                            "pathOrInlineDv": _DV_PREFIX
                            + roaring.z85_encode(uid.bytes),
                            "offset": offset,
                            "sizeInBytes": size,
                            "cardinality": card,
                        },
                    }
                },
            ],
            [
                {"remove": {"path": "fb.parquet", "dataChange": True}},
                {
                    "add": {
                        "path": "fb.parquet",
                        "partitionValues": {},
                        "size": 0,
                        "modificationTime": 0,
                        "dataChange": False,
                        "deletionVector": {
                            "storageType": "i",
                            "pathOrInlineDv": inline_body,
                            "sizeInBytes": inline_size,
                            "cardinality": inline_card,
                        },
                    }
                },
            ],
        ]
        dv_log = dv / "_delta_log"
        dv_log.mkdir(parents=True)
        for v, actions in enumerate(dv_commits):
            (dv_log / f"{v:020d}.json").write_text(
                "\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n"
            )
        cdf = tmp / DELTA_CDF_DIR.name
        cdf.mkdir(parents=True)
        for rel, rows in _CDF_FILES.items():
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array([r[0] for r in rows], pa.int64()),
                        "qty": pa.array([r[1] for r in rows], pa.int64()),
                    }
                ),
                cdf / rel,
            )
        (cdf / "_change_data").mkdir()
        for rel, rows in _CDF_CDC_FILES.items():
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array([r[0] for r in rows], pa.int64()),
                        "qty": pa.array([r[1] for r in rows], pa.int64()),
                        "_change_type": pa.array(
                            [r[2] for r in rows], pa.string()
                        ),
                    }
                ),
                cdf / rel,
            )
        cdf_log = cdf / "_delta_log"
        cdf_log.mkdir(parents=True)
        for v, actions in enumerate(_CDF_COMMITS):
            (cdf_log / f"{v:020d}.json").write_text(
                "\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n"
            )
        iceberg = tmp / ICEBERG_DIR.name
        (iceberg / "metadata").mkdir(parents=True)
        (iceberg / "metadata" / ICEBERG_META.name).write_text(
            json.dumps(_ICEBERG_METADATA, sort_keys=True, indent=1)
        )
        (iceberg / "data").mkdir()
        from decimal import Decimal

        for rel, (has_channel, rows) in _ICEBERG_FILES.items():
            cols = {
                "id": pa.array(list(rows), pa.int64()),
                # amount = id * 1.25, exact at scale 2
                "amount": pa.array(
                    [Decimal(r * 125).scaleb(-2) for r in rows],
                    pa.decimal128(12, 2),
                ),
            }
            if has_channel:
                cols["channel"] = pa.array(
                    ["web" if r % 2 else "store" for r in rows], pa.string()
                )
            pq.write_table(pa.table(cols), iceberg / rel)
        # column-mapped CDF table: physical-name parquet + 4-commit log
        cdfm = tmp / DELTA_CDFM_DIR.name
        cdfm.mkdir(parents=True)
        for rel, (_region, rows) in _CDFM_FILES.items():
            pq.write_table(
                pa.table(
                    {
                        _CDFM_PHYS["id"]: pa.array(
                            [r[0] for r in rows], pa.int64()
                        ),
                        _CDFM_PHYS["qty"]: pa.array(
                            [r[1] for r in rows], pa.int64()
                        ),
                    }
                ),
                cdfm / rel,
            )
        (cdfm / "_change_data").mkdir()
        for rel, (_region, rows) in _CDFM_CDC_FILES.items():
            pq.write_table(
                pa.table(
                    {
                        _CDFM_PHYS["id"]: pa.array(
                            [r[0] for r in rows], pa.int64()
                        ),
                        _CDFM_PHYS["qty"]: pa.array(
                            [r[1] for r in rows], pa.int64()
                        ),
                        "_change_type": pa.array(
                            [r[2] for r in rows], pa.string()
                        ),
                    }
                ),
                cdfm / rel,
            )
        cdfm_log = cdfm / "_delta_log"
        cdfm_log.mkdir()
        for v, actions in enumerate(_CDFM_COMMITS):
            (cdfm_log / f"{v:020d}.json").write_text(
                "\n".join(json.dumps(a, sort_keys=True) for a in actions)
                + "\n"
            )
        # mode-'id' CDF table: per-file naming schemes — footer field
        # ids on some files, metadata physicalName fallback on others
        cdfid = tmp / DELTA_CDFID_DIR.name
        cdfid.mkdir(parents=True)

        def _cdfid_fields(naming, with_ct=False):
            nm = _CDFID_NAMING[naming]
            use_ids = naming != "fallback"
            fs = [
                pa.field(
                    nm["id"],
                    pa.int64(),
                    metadata=(
                        {b"PARQUET:field_id": str(_CDFID_IDS["id"]).encode()}
                        if use_ids
                        else None
                    ),
                ),
                pa.field(
                    nm["qty"],
                    pa.int64(),
                    metadata=(
                        {b"PARQUET:field_id": str(_CDFID_IDS["qty"]).encode()}
                        if use_ids
                        else None
                    ),
                ),
            ]
            if with_ct:
                fs.append(pa.field("_change_type", pa.string()))
            return pa.schema(fs)

        for rel, (_region, rows, naming) in _CDFID_FILES.items():
            nm = _CDFID_NAMING[naming]
            pq.write_table(
                pa.table(
                    {
                        nm["id"]: pa.array([r[0] for r in rows], pa.int64()),
                        nm["qty"]: pa.array([r[1] for r in rows], pa.int64()),
                    },
                    schema=_cdfid_fields(naming),
                ),
                cdfid / rel,
            )
        (cdfid / "_change_data").mkdir()
        for rel, (_region, rows, naming) in _CDFID_CDC_FILES.items():
            nm = _CDFID_NAMING[naming]
            pq.write_table(
                pa.table(
                    {
                        nm["id"]: pa.array([r[0] for r in rows], pa.int64()),
                        nm["qty"]: pa.array([r[1] for r in rows], pa.int64()),
                        "_change_type": pa.array(
                            [r[2] for r in rows], pa.string()
                        ),
                    },
                    schema=_cdfid_fields(naming, with_ct=True),
                ),
                cdfid / rel,
            )
        cdfid_log = cdfid / "_delta_log"
        cdfid_log.mkdir()
        for v, actions in enumerate(_CDFID_COMMITS):
            (cdfid_log / f"{v:020d}.json").write_text(
                "\n".join(json.dumps(a, sort_keys=True) for a in actions)
                + "\n"
            )
        # stats-skipping Delta table: one commit, every add with stats
        skip = tmp / DELTA_SKIP_DIR.name
        skip_actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "9e4f2a7b-delta-stats-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _SKIP_SCHEMA_STRING,
                    "partitionColumns": ["cat"],
                    "configuration": {},
                }
            },
        ]
        for rel, (cat, ids) in _SKIP_FILES.items():
            ids = list(ids)
            vals = (
                [None] * len(ids)
                if rel in _SKIP_NULL_V
                else [i * 3 for i in ids]
            )
            dest = skip / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.int64()),
                        "v": pa.array(vals, pa.int64()),
                    }
                ),
                dest,
            )
            nn = [v for v in vals if v is not None]
            skip_actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"cat": cat},
                        "size": 0,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": json.dumps(
                            {
                                "numRecords": len(ids),
                                "minValues": {
                                    "id": min(ids),
                                    **({"v": min(nn)} if nn else {}),
                                },
                                "maxValues": {
                                    "id": max(ids),
                                    **({"v": max(nn)} if nn else {}),
                                },
                                "nullCount": {
                                    "id": 0,
                                    "v": len(vals) - len(nn),
                                },
                            }
                        ),
                    }
                }
            )
        skip_log = skip / "_delta_log"
        skip_log.mkdir(parents=True)
        (skip_log / f"{0:020d}.json").write_text(
            "\n".join(json.dumps(a, sort_keys=True) for a in skip_actions)
            + "\n"
        )
        # bucket-partitioned Iceberg table: parquet + metadata.json
        # here; its avro manifests are written by
        # ensure_iceberg_bucket_manifests
        ib = tmp / ICEBERG_BUCKET_DIR.name
        (ib / "metadata").mkdir(parents=True)
        (ib / "data").mkdir()
        for rel, (_bucket, ids) in _IB_FILES.items():
            pq.write_table(
                pa.table({"id": pa.array(ids, pa.int64())}), ib / rel
            )
        (ib / "metadata" / ICEBERG_BUCKET_META.name).write_text(
            json.dumps(_ICEBERG_BUCKET_METADATA, sort_keys=True, indent=1)
        )

    return staging.publish_dir(Path(root), "_VERSION", _VERSION, build)


# ------------------------------------------------------- E1 key


def delta_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition rollup of the Delta fixture at TWO snapshots
    (v0 and latest): proves the bridge pins exact file lists — v0 must
    resurface the later-removed 2024 file and exclude every later add;
    the latest must reflect the restatement.  Data files are read by
    executors with the LOG's schema (never inferred); the partition
    column is reconstructed from partitionValues, so a wrong partition
    mapping shifts rows between groups and fails the hash."""
    prep(spark)
    ensure_lake_fixtures()
    outs = []
    for v in (0, None):
        df = LF.read_delta_snapshot(spark, str(DELTA_DIR), version=v)
        resolved = LF.delta_snapshot(str(DELTA_DIR), v)["version"]
        outs.append(
            df.groupBy("year").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("amount_cents").alias("sum_amount_cents"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
            ).select(F.lit(resolved).alias("snapshot_version"), "*")
        )
    return outs[0].unionByName(outs[1]).orderBy("snapshot_version", "year")


def _delta_oracle_sql() -> str:
    """INDEPENDENT stdlib replay of the commit log (no lakeformats
    import): active file set per version → duckdb read_parquet with the
    partition value injected per file."""
    ensure_lake_fixtures()
    log = DELTA_DIR / "_delta_log"
    versions = sorted(int(p.stem) for p in log.glob("*.json"))
    selects = []
    for target in (0, versions[-1]):
        active = {
            p: pv["year"] for p, pv in _delta_active_files(log, target).items()
        }
        for path, year in sorted(active.items()):
            f = (DELTA_DIR / path).as_posix()
            selects.append(
                f"SELECT {target} AS snapshot_version, '{year}' AS year, "
                f"id, amount_cents FROM read_parquet('{f}')"
            )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH rows_all AS (
{body}
)
SELECT snapshot_version, year,
       count(*) AS n_rows,
       CAST(sum(amount_cents) AS BIGINT) AS sum_amount_cents,
       min(id) AS min_id,
       max(id) AS max_id
FROM rows_all
GROUP BY snapshot_version, year
ORDER BY snapshot_version, year
"""


# ------------------------------------------------------- E1b key


def delta_column_mapping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region rollup of the column-mapped Delta fixture at BOTH
    snapshots.  v0's logical schema names the
    metric column ``quantity``; v1 renames it ``qty_renamed`` without
    rewriting a single data file — both versions must read the same
    physical parquet column (``col-1a2b3c4d``) and the partition
    column must resolve through its PHYSICAL partitionValues key.
    A bridge that matched parquet columns by logical name, or looked
    partitionValues up by logical name, returns nulls / empty groups
    and fails the hash."""
    prep(spark)
    ensure_lake_fixtures()
    outs = []
    for v, qty_col in ((0, "quantity"), (1, "qty_renamed")):
        df = LF.read_delta_snapshot(spark, str(DELTA_CM_DIR), version=v)
        outs.append(
            df.groupBy("region").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(qty_col).alias("sum_qty"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
            ).select(F.lit(v).alias("snapshot_version"), "*")
        )
    return outs[0].unionByName(outs[1]).orderBy("snapshot_version", "region")


def _delta_cm_oracle_sql() -> str:
    """INDEPENDENT stdlib replay: parse the commit log directly, map
    physical→logical from each version's OWN schemaString metadata,
    and read the parquet files by physical column name."""
    ensure_lake_fixtures()
    log = DELTA_CM_DIR / "_delta_log"
    versions = sorted(int(p.stem) for p in log.glob("*.json"))
    selects = []
    for target in versions:
        active: dict[str, str] = {}
        phys_of: dict[str, str] = {}
        pcols: list[str] = []
        for v in versions:
            if v > target:
                break
            for line in (log / f"{v:020d}.json").read_text().splitlines():
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    sch = json.loads(a["metaData"]["schemaString"])
                    phys_of = {
                        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
                        for f in sch["fields"]
                    }
                    pcols = list(a["metaData"]["partitionColumns"])
                elif "add" in a:
                    pv = a["add"]["partitionValues"]
                    # spec keys partitionValues by PHYSICAL name
                    active[a["add"]["path"]] = pv[phys_of[pcols[0]]]
                elif "remove" in a:
                    active.pop(a["remove"]["path"], None)
        qty_logical = [n for n in phys_of if n not in ("id", "region")][0]
        for path, region in sorted(active.items()):
            f = (DELTA_CM_DIR / path).as_posix()
            selects.append(
                f"SELECT {target} AS snapshot_version, '{region}' AS region, "
                f'"{phys_of["id"]}" AS id, '
                f'"{phys_of[qty_logical]}" AS qty '
                f"FROM read_parquet('{f}')"
            )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH rows_all AS (
{body}
)
SELECT snapshot_version, region,
       count(*) AS n_rows,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       min(id) AS min_id,
       max(id) AS max_id
FROM rows_all
GROUP BY snapshot_version, region
ORDER BY snapshot_version, region
"""


# ------------------------------------------------------- F7 key


def delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the deletion-vector Delta fixture at v0 (no DVs — all 30
    rows) and at the latest snapshot (a 'u'-storage UUID-file DV on fa
    and an inline Z85 DV on fb — PROTOCOL.md's two main storage types,
    decoded from the public RoaringBitmap portable format by
    sources/roaring.py and applied as a distributed
    (_metadata.file_path, row_index) anti-join).  A reader that
    ignores DVs returns resurrected rows and fails the hash; one that
    mis-decodes them trips the magic / size / CRC / cardinality
    gates."""
    prep(spark)
    ensure_lake_fixtures()
    outs = []
    for label, ver in (("v0", 0), ("latest", None)):
        df = LF.read_delta_snapshot(spark, str(DELTA_DV_DIR), version=ver)
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("id").cast("long").alias("sum_id"),
                F.sum("v").cast("long").alias("sum_v"),
            ).select(F.lit(label).alias("snapshot"), "*")
        )
    return outs[0].unionByName(outs[1]).orderBy("snapshot")


def _delta_dv_oracle_sql() -> str:
    """Authoring-spec replay: the fixture dicts say which row POSITIONS
    each DV removes; DuckDB re-reads the same parquet with
    file_row_number and excludes exactly those — fully independent of
    the roaring decoder under test."""
    ensure_lake_fixtures()
    full, kept = [], []
    for rel in sorted(_DV_FILES):
        f = (DELTA_DV_DIR / rel).as_posix()
        full.append(
            f"SELECT id, v FROM read_parquet('{f}')"
        )
        dropped = _DV_DELETES.get(rel)
        if dropped:
            cond = ", ".join(str(p) for p in dropped)
            kept.append(
                f"SELECT id, v FROM read_parquet('{f}', "
                f"file_row_number=true) WHERE file_row_number NOT IN ({cond})"
            )
        else:
            kept.append(f"SELECT id, v FROM read_parquet('{f}')")
    return f"""
WITH v0 AS ({" UNION ALL ".join(full)}), latest AS ({" UNION ALL ".join(kept)})
SELECT 'v0' AS snapshot, count(*) AS n_rows,
       CAST(sum(id) AS BIGINT) AS sum_id, CAST(sum(v) AS BIGINT) AS sum_v
FROM v0
UNION ALL
SELECT 'latest', count(*), CAST(sum(id) AS BIGINT), CAST(sum(v) AS BIGINT)
FROM latest
ORDER BY snapshot
"""


# ------------------------------------------------------- F8 key


def delta_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED rollup over the CDF fixture's full commit
    range: per (commit_version, change_type) row/sum aggregates.  The
    update commit must contribute ONLY its _change_data rows
    (update_preimage + update_postimage — the remove/add pair in the
    same commit is not double-counted), the append commits derive
    inserts, and the delete commit derives deletes from the previous
    version's file content (lakeformats.read_delta_changes)."""
    prep(spark)
    ensure_lake_fixtures()
    df = LF.read_delta_changes(spark, str(DELTA_CDF_DIR), 0)
    return (
        df.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("sum_id"),
            F.sum("qty").cast("long").alias("sum_qty"),
        )
        .orderBy("commit_version", "change_type")
    )


def _delta_cdf_oracle_sql() -> str:
    """Authoring-dict replay: the fixture says which files each commit
    adds/removes/updates and the cdc parquet carries its own
    _change_type — DuckDB recounts the same parquet, independent of
    read_delta_changes."""
    ensure_lake_fixtures()
    parts = []
    for rel in ("f0.parquet", "f1.parquet"):
        f = (DELTA_CDF_DIR / rel).as_posix()
        parts.append(
            f"SELECT 0 AS commit_version, 'insert' AS change_type, id, qty "
            f"FROM read_parquet('{f}')"
        )
    c1 = (DELTA_CDF_DIR / "_change_data/c1.parquet").as_posix()
    parts.append(
        f"SELECT 1, _change_type, id, qty FROM read_parquet('{c1}')"
    )
    f3 = (DELTA_CDF_DIR / "f3.parquet").as_posix()
    parts.append(f"SELECT 2, 'insert', id, qty FROM read_parquet('{f3}')")
    f0 = (DELTA_CDF_DIR / "f0.parquet").as_posix()
    parts.append(f"SELECT 3, 'delete', id, qty FROM read_parquet('{f0}')")
    return f"""
WITH changes(commit_version, change_type, id, qty) AS (
{" UNION ALL ".join(parts)}
)
SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
       count(*) AS n_rows,
       CAST(sum(id) AS BIGINT) AS sum_id,
       CAST(sum(qty) AS BIGINT) AS sum_qty
FROM changes
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
"""


# ------------------------------------------------------- E2 key


def iceberg_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-lineage audit over the Iceberg metadata.json: one row
    per snapshot with its operation, schema generation (schema-id and
    that schema's translated Spark field count — pinning the type
    translation), metadata-tracked file/record totals, lineage depth,
    and current-ness.  Metadata-only by design: the avro data path is
    gated (see lakeformats.read_iceberg_snapshot)."""
    prep(spark)
    ensure_lake_fixtures()
    meta = LF.iceberg_metadata(str(ICEBERG_META))
    rows = []
    for s in meta["snapshots"]:
        info = LF.iceberg_snapshot_info(str(ICEBERG_META), s["snapshot-id"])
        rows.append(
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s["summary"]["operation"],
                s.get("schema-id", meta["current-schema-id"]),
                len(info["schema"].fields),
                int(s["summary"]["total-data-files"]),
                int(s["summary"]["total-records"]),
                info["lineage_depth"],
                s["snapshot-id"] == meta["current-snapshot-id"],
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "snapshot_id long, parent_snapshot_id long, operation string, "
        "schema_id int, n_schema_fields int, total_data_files long, "
        "total_records long, lineage_depth int, is_current boolean",
    ).orderBy("snapshot_id")


def _iceberg_oracle_sql() -> str:
    """Independent stdlib re-parse: lineage depth by walking
    parent-snapshot-id, field counts straight off the schema JSON."""
    ensure_lake_fixtures()
    meta = json.loads(Path(ICEBERG_META).read_text())
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    schemas = {s["schema-id"]: s for s in meta["schemas"]}
    lines = []
    for sid in sorted(snaps):
        s = snaps[sid]
        depth, cur = 0, s
        while cur.get("parent-snapshot-id") in snaps:
            depth += 1
            cur = snaps[cur["parent-snapshot-id"]]
        parent = s.get("parent-snapshot-id")
        parent_lit = "CAST(NULL AS BIGINT)" if parent is None else f"CAST({parent} AS BIGINT)"
        schema_id = s.get("schema-id", meta["current-schema-id"])
        lines.append(
            f"SELECT CAST({sid} AS BIGINT) AS snapshot_id, {parent_lit} AS parent_snapshot_id, "
            f"'{s['summary']['operation']}' AS operation, CAST({schema_id} AS INTEGER) AS schema_id, "
            f"CAST({len(schemas[schema_id]['fields'])} AS INTEGER) AS n_schema_fields, "
            f"CAST({int(s['summary']['total-data-files'])} AS BIGINT) AS total_data_files, "
            f"CAST({int(s['summary']['total-records'])} AS BIGINT) AS total_records, "
            f"CAST({depth} AS INTEGER) AS lineage_depth, "
            f"{'TRUE' if sid == meta['current-snapshot-id'] else 'FALSE'} AS is_current"
        )
    return "\nUNION ALL\n".join(lines) + "\nORDER BY snapshot_id"


# Iceberg data files (schema-0-era files lack the channel column; the
# snapshot schema resurfaces it as NULL — schema evolution on read).
# Totals reconcile with the snapshot summaries in _ICEBERG_METADATA.
_ICEBERG_FILES = {
    "data/da.parquet": (False, range(1, 11)),
    "data/db.parquet": (False, range(26, 36)),
    "data/dc.parquet": (True, range(11, 26)),
    "data/dd.parquet": (True, range(36, 46)),
}

# snapshot → [(manifest entry status, data file)] — 1003's manifest
# carries DELETED (status 2) entries for the overwritten files, which
# the walk must skip.
# (manifest-entry status, path, data sequence number = seq of the
# snapshot that ADDED the file — equality-delete ordering keys on it)
_ICEBERG_SNAP_FILES = {
    1001: [(1, "data/da.parquet", 1), (1, "data/db.parquet", 1)],
    1002: [
        (0, "data/da.parquet", 1),
        (0, "data/db.parquet", 1),
        (1, "data/dc.parquet", 2),
    ],
    1003: [
        (2, "data/da.parquet", 1),
        (2, "data/db.parquet", 1),
        (0, "data/dc.parquet", 2),
        (1, "data/dd.parquet", 3),
    ],
    1004: [(0, "data/dc.parquet", 2), (0, "data/dd.parquet", 3)],
    1005: [(0, "data/dc.parquet", 2), (0, "data/dd.parquet", 3)],
}

# POSITION-delete FILES (authored once) and which snapshots reference
# them: 1004 writes a v2 position-delete removing dc's first two rows
# (ids 11, 12; dc is written in id order so position p ↔ id 11+p — how
# the authoring-spec oracle translates positions to ids); 1005 carries
# the SAME file forward, as real snapshots do until compaction.
_ICEBERG_POS_DELETE_FILES = {
    "data/posdel-1004.parquet": {"data/dc.parquet": [0, 1]},
}
_ICEBERG_POS_DELETES = {
    1004: [("data/posdel-1004.parquet", 4)],
    1005: [("data/posdel-1004.parquet", 4)],
}

# snapshot → EQUALITY delete: rows matching ``values`` are deleted from
# every data file with sequence_number < ``seq`` (field id 3 = channel)
_ICEBERG_EQ_DELETES = {
    1005: {"file": "data/eqdel-1005.parquet", "seq": 5,
           "equality_ids": [3], "values": [{"channel": "store"}]},
}


def _delta_active_files(log: Path, target: "int | None") -> dict[str, dict]:
    """Oracle-side stdlib replay of the active file set AS OF
    ``target``, with the protocol's SET semantics per commit (removes
    apply before adds, a same-commit re-add wins) — ONE replay rule
    for every Delta oracle (a per-oracle line-order replay would
    silently diverge from the bridge on same-commit remove+add)."""
    out: dict[str, dict] = {}
    versions = sorted(int(q.stem) for q in log.glob("*.json"))
    if target is None:
        target = versions[-1]
    for v in versions:
        if v > target:
            break
        adds: list[dict] = []
        removes: list[dict] = []
        for line in (log / f"{v:020d}.json").read_text().splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                adds.append(a["add"])
            elif "remove" in a:
                removes.append(a["remove"])
        re_added = {a["path"] for a in adds}
        for r in removes:
            if r["path"] not in re_added:
                out.pop(r["path"], None)
        for a in adds:
            out[a["path"]] = a.get("partitionValues") or {}
    return out


def _iceberg_live_where(sid: int) -> list:
    """(posix parquet path, WHERE clause or '', has_channel) for each
    LIVE data file at snapshot ``sid``, with the authored position /
    equality deletes applied — the delete-replay rule lives once for
    every Iceberg oracle."""
    out = []
    for status, path, seq in _ICEBERG_SNAP_FILES[sid]:
        if status == 2:
            continue
        has_channel = _ICEBERG_FILES[path][0]
        conds = []
        positions = []
        for del_file, _dseq in _ICEBERG_POS_DELETES.get(sid, []):
            positions += _ICEBERG_POS_DELETE_FILES[del_file].get(path, [])
        if positions:
            # files are written in id order: position p ↔ the
            # (p+1)-th id of the authoring range
            ids = sorted(list(_ICEBERG_FILES[path][1]))
            conds.append(
                "id NOT IN (" + ", ".join(str(ids[p]) for p in positions) + ")"
            )
        eq = _ICEBERG_EQ_DELETES.get(sid)
        if eq and seq < eq["seq"] and has_channel:
            for row in eq["values"]:
                for col, val in row.items():
                    conds.append(f"{col} IS DISTINCT FROM '{val}'")
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        out.append(((ICEBERG_DIR / path).as_posix(), where, has_channel))
    return out


def ensure_iceberg_manifests() -> None:
    """Write the avro manifest list + manifest per snapshot through the
    pure-Python container writer (lakeformats.write_avro_records);
    ensure_lake_fixtures covers everything else.  Idempotent."""
    import pyarrow.parquet as _pq

    ensure_lake_fixtures()
    meta_dir = ICEBERG_DIR / "metadata"

    def _posdel_fresh() -> bool:
        # the position-delete files bake ABSOLUTE file:// URIs of this
        # checkout; a moved/copied tree keeps the avro files (so mere
        # existence checks pass) while the URIs silently point at the
        # old location and the anti-join deletes nothing — verify the
        # prefix against the CURRENT dir
        want = "file://" + str(ICEBERG_DIR)
        for del_file in _ICEBERG_POS_DELETE_FILES:
            f = ICEBERG_DIR / del_file
            if not f.exists():
                return False
            col = _pq.read_table(str(f), columns=["file_path"]).column(0)
            if len(col) and not str(col[0]).startswith(want):
                return False
        return True

    if _posdel_fresh() and all(
        (meta_dir / f"snap-{sid}.avro").exists()
        and (meta_dir / f"m-{sid}.avro").exists()
        and (sid not in _ICEBERG_POS_DELETES or (meta_dir / f"dm-{sid}.avro").exists())
        and (sid not in _ICEBERG_EQ_DELETES or (meta_dir / f"em-{sid}.avro").exists())
        for sid in _ICEBERG_SNAP_FILES
    ):
        return

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
                            {
                                "name": "equality_ids",
                                "type": ["null", {"type": "array", "items": "int"}],
                                "default": None,
                            },
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
    import pyarrow as pa
    import pyarrow.parquet as pq

    # position-delete parquet: (file_path URI, pos) rows — the spec
    # stores full URIs, written post-move so the absolute path matches
    # what _metadata.file_path reports; one write per FILE, however
    # many snapshots reference it
    for del_file, targets in _ICEBERG_POS_DELETE_FILES.items():
        fps, poss = [], []
        for target, positions in targets.items():
            uri = "file://" + str(ICEBERG_DIR / target)
            fps += [uri] * len(positions)
            poss += positions
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(fps, pa.string()),
                    "pos": pa.array(poss, pa.int64()),
                }
            ),
            ICEBERG_DIR / del_file,
        )
    for sid, entries in _ICEBERG_SNAP_FILES.items():
        LF.write_avro_records(
            str(meta_dir / f"m-{sid}.avro"),
            manifest_schema,
            [
                {
                    "status": status,
                    # spec: EXISTING (status 0) entries keep the id of
                    # the snapshot that ADDED the file — in this fixture
                    # sequence-number n belongs to snapshot 1000+n;
                    # ADDED/DELETED entries record THIS snapshot (the
                    # change feed keys on exactly this distinction)
                    "snapshot_id": sid if status != 0 else 1000 + seq,
                    "sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": path,
                        "file_format": "PARQUET",
                        "record_count": len(list(_ICEBERG_FILES[path][1])),
                        "equality_ids": None,
                    },
                }
                for status, path, seq in entries
            ],
        )
        mlist_rows = [
            {
                "manifest_path": f"metadata/m-{sid}.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": sid,
            }
        ]
        if sid in _ICEBERG_POS_DELETES:
            entries_pd = []
            for del_file, dseq in _ICEBERG_POS_DELETES[sid]:
                # a delete file carried FORWARD (1005 re-lists 1004's)
                # is EXISTING, owned by the snapshot that added it —
                # re-adding it would double-count in the change feed
                entries_pd.append(
                    {
                        "status": 1 if sid == 1000 + dseq else 0,
                        "snapshot_id": 1000 + dseq,
                        "sequence_number": dseq,
                        "data_file": {
                            "content": 1,
                            "file_path": del_file,
                            "file_format": "PARQUET",
                            "record_count": sum(
                                len(v)
                                for v in _ICEBERG_POS_DELETE_FILES[del_file].values()
                            ),
                            "equality_ids": None,
                        },
                    }
                )
            LF.write_avro_records(
                str(meta_dir / f"dm-{sid}.avro"), manifest_schema, entries_pd
            )
            mlist_rows.append(
                {
                    "manifest_path": f"metadata/dm-{sid}.avro",
                    "manifest_length": 0,
                    "content": 1,
                    "added_snapshot_id": sid,
                }
            )
        if sid in _ICEBERG_EQ_DELETES:
            eq = _ICEBERG_EQ_DELETES[sid]
            cols = sorted({k for row in eq["values"] for k in row})
            pq.write_table(
                pa.table(
                    {c: pa.array([row.get(c) for row in eq["values"]], pa.string())
                     for c in cols}
                ),
                ICEBERG_DIR / eq["file"],
            )
            LF.write_avro_records(
                str(meta_dir / f"em-{sid}.avro"),
                manifest_schema,
                [
                    {
                        "status": 1,
                        "snapshot_id": sid,
                        "sequence_number": eq["seq"],
                        "data_file": {
                            "content": 2,
                            "file_path": eq["file"],
                            "file_format": "PARQUET",
                            "record_count": len(eq["values"]),
                            "equality_ids": eq["equality_ids"],
                        },
                    }
                ],
            )
            mlist_rows.append(
                {
                    "manifest_path": f"metadata/em-{sid}.avro",
                    "manifest_length": 0,
                    "content": 1,
                    "added_snapshot_id": sid,
                }
            )
        LF.write_avro_records(
            str(meta_dir / f"snap-{sid}.avro"),
            mlist_schema,
            mlist_rows,
        )


# ------------------------------------------------------- E3 key


def iceberg_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Iceberg DATA read through the real metadata chain
    (metadata.json → avro manifest list → avro manifests → parquet) at
    four snapshots: 1002 (pre-overwrite), 1003 (whose manifest carries
    DELETED entries the walk must skip), 1004 (v2 POSITION-delete
    manifest removing dc's first two rows — the _metadata.row_index
    anti-join), and current (1005, a v2 EQUALITY delete on channel —
    null-safe value anti-join applied only to data files with lower
    sequence numbers, on top of the persisting position deletes).
    Schema-0-era files surface channel=NULL under the evolved schema.
    Executors read the parquet; the driver touches only pointer rows."""
    prep(spark)
    ensure_iceberg_manifests()
    outs = []
    for sid in (1002, 1003, 1004, 1005):
        df = LF.read_iceberg_snapshot(spark, str(ICEBERG_META), sid)
        outs.append(
            df.groupBy("channel").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
                F.sum((F.col("amount") * 100).cast("long")).alias("sum_amount_cents"),
            ).select(F.lit(sid).alias("snapshot_id"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("snapshot_id", "channel")


def _iceberg_read_oracle_sql() -> str:
    """Oracle from the AUTHORING spec (_ICEBERG_SNAP_FILES), bypassing
    the avro indirection entirely: the Spark side must recover the same
    live-file set THROUGH the manifest walk."""
    ensure_lake_fixtures()
    selects = []
    for sid in _ICEBERG_SNAP_FILES:
        if sid == 1001:
            continue  # key reads 1002 / 1003 / 1004 / 1005
        for f, where, has_channel in _iceberg_live_where(sid):
            chan = "channel" if has_channel else "CAST(NULL AS VARCHAR) AS channel"
            selects.append(
                f"SELECT {sid} AS snapshot_id, id, amount, {chan} "
                f"FROM read_parquet('{f}'){where}"
            )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH rows_all AS (
{body}
)
SELECT snapshot_id, channel,
       count(*) AS n_rows,
       min(id) AS min_id,
       max(id) AS max_id,
       CAST(sum(CAST(amount * 100 AS BIGINT)) AS BIGINT) AS sum_amount_cents
FROM rows_all
GROUP BY snapshot_id, channel
ORDER BY snapshot_id, channel
"""


# ------------------------------------------------------- F4 key


def delta_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed BETWEEN Delta versions from metadata alone: for each
    commit step (v→v+1), the file-set diff gives added/removed files,
    and reading ONLY those files gives row-level change counts — the
    O(delta) incremental-maintenance signal (the metadata-only form of
    what ``read_delta_changes`` returns as rows), never a full-table
    rescan.
    The restatement commit must show both an add and a remove in the
    same partition."""
    prep(spark)
    ensure_lake_fixtures()
    snaps = {
        v: LF.delta_snapshot(str(DELTA_DIR), v) for v in (0, 1, 2)
    }
    outs = []
    for v in (1, 2):
        prev = {f["path"]: f for f in snaps[v - 1]["files"]}
        cur = {f["path"]: f for f in snaps[v]["files"]}
        for kind, paths in (
            ("added", [f for p, f in cur.items() if p not in prev]),
            ("removed", [f for p, f in prev.items() if p not in cur]),
        ):
            for f in paths:
                # data files lack the partition column
                data_schema = T.StructType(
                    [x for x in snaps[v]["schema"].fields if x.name != "year"]
                )
                df = spark.read.schema(data_schema).parquet(str(DELTA_DIR / f["path"]))
                outs.append(
                    df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                        F.lit(v).alias("to_version"),
                        F.lit(kind).alias("change"),
                        F.lit(f["partitionValues"]["year"]).alias("year"),
                        F.lit(f["path"]).alias("path"),
                        "n_rows",
                    )
                )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("to_version", "change", "path")


def _delta_diff_oracle_sql() -> str:
    """Independent stdlib replay of the per-version file-set diff."""
    ensure_lake_fixtures()
    log = DELTA_DIR / "_delta_log"

    def active(target: int) -> dict[str, str]:
        return {
            p: pv["year"] for p, pv in _delta_active_files(log, target).items()
        }

    selects = []
    for v in (1, 2):
        prev, cur = active(v - 1), active(v)
        for kind, paths in (
            ("added", {p: y for p, y in cur.items() if p not in prev}),
            ("removed", {p: y for p, y in prev.items() if p not in cur}),
        ):
            for path, year in sorted(paths.items()):
                f = (DELTA_DIR / path).as_posix()
                selects.append(
                    f"SELECT {v} AS to_version, '{kind}' AS change, "
                    f"'{year}' AS year, '{path}' AS path, "
                    f"count(*) AS n_rows FROM read_parquet('{f}')"
                )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY to_version, change, path"


# ------------------------------------------------------- F5 key


def iceberg_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change feed between Iceberg snapshots from manifest
    metadata alone — F4 ``delta_version_diff``'s twin.  Each manifest
    entry's ``status``/``snapshot_id`` name the snapshot that ADDED
    (status 1) or DELETED (status 2) the file, so the per-snapshot diff
    needs no file-set comparison at all: walk the snapshot's manifests,
    keep entries owned by it, and read ONLY those files for row-level
    change counts — O(delta), never a rescan. Covers the overwrite
    snapshot (1003: adds + removes in one commit), the position-delete
    snapshot (1004) and the equality-delete snapshot (1005); 1005's
    carried-forward position-delete file is EXISTING (status 0, owner
    1004) and must NOT re-appear."""
    prep(spark)
    ensure_lake_fixtures()
    ensure_iceberg_manifests()
    kinds = {
        (1, 0): "added",
        (2, 0): "removed",
        (1, 1): "pos_delete_added",
        (1, 2): "eq_delete_added",
    }
    outs = []
    meta = LF.iceberg_metadata(str(ICEBERG_META))
    for s in sorted(meta["snapshots"], key=lambda s: s["snapshot-id"]):
        sid = s["snapshot-id"]
        for e in LF.iceberg_snapshot_entries(str(ICEBERG_META), sid):
            if e["snapshot_id"] != sid:
                continue  # EXISTING entry owned by an earlier snapshot
            kind = kinds.get((e["status"], e["content"]))
            if kind is None:
                continue
            df = spark.read.parquet(e["path"])
            outs.append(
                df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                    F.lit(sid).cast("long").alias("to_snapshot_id"),
                    F.lit(kind).alias("change"),
                    F.lit(e["rel_path"]).alias("path"),
                    "n_rows",
                )
            )
    if not outs:
        # an empty feed over a table WITH snapshots means the entry
        # ownership metadata never matched any snapshot — gate loudly
        # instead of returning a silently-empty diff (snapshot_id
        # inheritance in iceberg_snapshot_entries is the usual missing
        # piece for external writers).
        raise LF.LakeFormatGatedError(
            "iceberg_change_feed matched no manifest entries to any "
            "snapshot — entry snapshot_id/inheritance metadata absent?"
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("to_snapshot_id", "change", "path")


def _iceberg_change_feed_oracle_sql() -> str:
    """Authoring-spec replay: the fixture dicts say which snapshot adds
    or removes which file (status 1/2, delete files keyed by their
    first-referencing snapshot); duckdb counts the same parquet."""
    ensure_lake_fixtures()
    selects = []
    for sid in sorted(_ICEBERG_SNAP_FILES):
        for status, path, seq in _ICEBERG_SNAP_FILES[sid]:
            if status == 1 and 1000 + seq == sid:
                kind = "added"
            elif status == 2:
                kind = "removed"
            else:
                continue
            f = (ICEBERG_DIR / path).as_posix()
            selects.append(
                f"SELECT CAST({sid} AS BIGINT) AS to_snapshot_id, "
                f"'{kind}' AS change, '{path}' AS path, "
                f"count(*) AS n_rows FROM read_parquet('{f}')"
            )
        for del_file, dseq in _ICEBERG_POS_DELETES.get(sid, []):
            if 1000 + dseq != sid:
                continue  # carried forward, not added here
            f = (ICEBERG_DIR / del_file).as_posix()
            selects.append(
                f"SELECT CAST({sid} AS BIGINT) AS to_snapshot_id, "
                f"'pos_delete_added' AS change, '{del_file}' AS path, "
                f"count(*) AS n_rows FROM read_parquet('{f}')"
            )
        if sid in _ICEBERG_EQ_DELETES:
            eq = _ICEBERG_EQ_DELETES[sid]
            f = (ICEBERG_DIR / eq["file"]).as_posix()
            selects.append(
                f"SELECT CAST({sid} AS BIGINT) AS to_snapshot_id, "
                f"'eq_delete_added' AS change, '{eq['file']}' AS path, "
                f"count(*) AS n_rows FROM read_parquet('{f}')"
            )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY to_snapshot_id, change, path"


# ------------------------------------------------------- F9 key

_IB_MANIFEST_SCHEMA = json.dumps(
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
                        {
                            "name": "partition",
                            "type": [
                                "null",
                                {
                                    "type": "record",
                                    "name": "pt",
                                    "fields": [
                                        {
                                            "name": "id_bucket",
                                            "type": ["null", "int"],
                                            "default": None,
                                        }
                                    ],
                                },
                            ],
                            "default": None,
                        },
                        {
                            "name": "lower_bounds",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": {
                                        "type": "record",
                                        "name": "kv1",
                                        "fields": [
                                            {"name": "key", "type": "int"},
                                            {"name": "value", "type": "bytes"},
                                        ],
                                    },
                                },
                            ],
                            "default": None,
                        },
                        {
                            "name": "upper_bounds",
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
                    ],
                },
            },
        ],
    }
)

_IB_MLIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "partition_spec_id", "type": ["null", "int"], "default": None},
            {
                # optional per-spec-field summaries (manifest-LIST-level
                # pruning); fixtures that don't set them write null
                "name": "partitions",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "field_summary",
                            "fields": [
                                {"name": "contains_null", "type": "boolean"},
                                {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
                                {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
                            ],
                        },
                    },
                ],
                "default": None,
            },
        ],
    }
)


def ensure_iceberg_bucket_manifests() -> None:
    """Avro manifests for the bucket-partitioned fixture: ONE MANIFEST
    PER BUCKET (the layout a real writer clustering on the partition
    produces), each entry carrying the partition tuple (bucket[2] value)
    and id lower/upper bounds in the spec's key/value-array + Appendix-D
    binary encoding; the manifest LIST carries per-manifest partition
    field summaries so list-level pruning has teeth (F11). Everything
    else is materialized by ensure_lake_fixtures.  Idempotent — the
    fixture-version bump wipes the tree, so existence is freshness."""
    import struct

    ensure_lake_fixtures()
    meta_dir = ICEBERG_BUCKET_DIR / "metadata"
    buckets = sorted({b for b, _ in _IB_FILES.values()})
    if (meta_dir / "snap-9001.avro").exists() and all(
        (meta_dir / f"m-9001-b{b}.avro").exists() for b in buckets
    ):
        return
    mlist_rows = []
    for b in buckets:
        entries = []
        for rel, (bucket, ids) in sorted(_IB_FILES.items()):
            if bucket != b:
                continue
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": 9001,
                    "sequence_number": 1,
                    "data_file": {
                        "content": 0,
                        "file_path": rel,
                        "file_format": "PARQUET",
                        "record_count": len(ids),
                        "partition": {"id_bucket": bucket},
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
            str(meta_dir / f"m-9001-b{b}.avro"),
            _IB_MANIFEST_SCHEMA,
            entries,
        )
        mlist_rows.append(
            {
                "manifest_path": f"metadata/m-9001-b{b}.avro",
                "manifest_length": 0,
                "content": 0,
                "added_snapshot_id": 9001,
                "sequence_number": 1,
                "partition_spec_id": 0,
                "partitions": [
                    {
                        "contains_null": False,
                        "lower_bound": struct.pack("<i", b),
                        "upper_bound": struct.pack("<i", b),
                    }
                ],
            }
        )
    LF.write_avro_records(
        str(meta_dir / "snap-9001.avro"),
        _IB_MLIST_SCHEMA,
        mlist_rows,
    )


def lake_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based file-skipping audit over BOTH bridges: for each
    predicate, one row with the scan-list size
    the pruner actually handed Spark (``df.inputFiles()`` — the hard
    evidence that fewer parquet paths reach the scan) next to the
    row-level result, so a pruner that drops a LIVE file changes
    n_rows/sum_id and fails the hash, while one that stops pruning
    shows in files_kept.  Delta prunes on add.stats intervals + exact
    partitionValues; Iceberg prunes on manifest lower/upper bounds +
    the bucket[2] partition transform (murmur3, spec Appendix B)."""
    prep(spark)
    ensure_lake_fixtures()
    ensure_iceberg_bucket_manifests()
    outs = []
    jobs = [
        (
            "delta",
            len(_SKIP_FILES),
            _DELTA_SKIP_PREDICATES,
            lambda pred: LF.read_delta_snapshot(
                spark, str(DELTA_SKIP_DIR), predicate=pred
            ),
        ),
        (
            "iceberg",
            len(_IB_FILES),
            _ICEBERG_SKIP_PREDICATES,
            lambda pred: LF.read_iceberg_snapshot(
                spark, str(ICEBERG_BUCKET_META), predicate=pred
            ),
        ),
    ]
    for source, total, preds, read in jobs:
        for label, pred in preds:
            df = read(pred)
            kept = len(df.inputFiles())
            outs.append(
                df.agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.coalesce(F.sum("id"), F.lit(0))
                    .cast("long")
                    .alias("sum_id"),
                ).select(
                    F.lit(source).alias("source"),
                    F.lit(label).alias("pred"),
                    F.lit(total).cast("int").alias("files_total"),
                    F.lit(kept).cast("int").alias("files_kept"),
                    "*",
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("source", "pred")


def _lake_skipping_oracle_sql() -> str:
    """INDEPENDENT stdlib replay of the skipping decision — the Delta
    side re-parses the commit log's stats JSON and re-evaluates each
    interval with its own inline logic; the Iceberg side replays bounds
    and bucket membership from the authoring dicts (which file CONTAINS
    which ids — ground truth the hash under test never touches).  Row
    counts come from DuckDB over ALL files WHERE predicate, so a pruner
    that drops a live file mismatches n_rows."""
    ensure_lake_fixtures()
    log = DELTA_SKIP_DIR / "_delta_log"
    adds = []
    for line in (log / f"{0:020d}.json").read_text().splitlines():
        if not line.strip():
            continue
        a = json.loads(line)
        if "add" in a:
            adds.append(a["add"])

    def d_keep(add: dict, terms) -> bool:
        st = json.loads(add["stats"])
        pv = add["partitionValues"]
        for col, op, val in terms:
            if col == "cat":  # partition column: exact
                if op == "=" and pv["cat"] != val:
                    return False
                continue
            lo = (st.get("minValues") or {}).get(col)
            hi = (st.get("maxValues") or {}).get(col)
            nulls = (st.get("nullCount") or {}).get(col)
            n = st.get("numRecords")
            if op == "is_not_null":
                if nulls is not None and nulls == n:
                    return False
                continue
            if nulls is not None and nulls == n:
                return False  # all-null never matches a comparison
            if lo is None or hi is None:
                continue
            if op == "=" and (val < lo or val > hi):
                return False
            if op == "<" and lo >= val:
                return False
            if op == "<=" and lo > val:
                return False
            if op == ">" and hi <= val:
                return False
            if op == ">=" and hi < val:
                return False
        return True

    def ib_bucket_of(v: int) -> int | None:
        for b, ids in _IB_FILES.values():
            if v in ids:
                return b
        return None

    def i_keep(bucket: int, ids: list, terms) -> bool:
        lo, hi = min(ids), max(ids)

        def one(v) -> bool:  # could v live in this file?
            if v < lo or v > hi:
                return False
            vb = ib_bucket_of(v)
            return vb is None or vb == bucket

        for col, op, val in terms:
            if op == "=" and not one(val):
                return False
            if op == "in" and not any(one(v) for v in val):
                return False
            if op == ">" and hi <= val:
                return False
            if op == "<" and lo >= val:
                return False
        return True

    delta_rows = "\nUNION ALL\n".join(
        f"SELECT id, v, '{cat}' AS cat "
        f"FROM read_parquet('{(DELTA_SKIP_DIR / rel).as_posix()}')"
        for rel, (cat, _ids) in sorted(_SKIP_FILES.items())
    )
    ib_rows = "\nUNION ALL\n".join(
        f"SELECT id FROM read_parquet('{(ICEBERG_BUCKET_DIR / rel).as_posix()}')"
        for rel in sorted(_IB_FILES)
    )
    delta_where = {
        "d1_id_ge_70": "id >= 70",
        "d2_cat_a": "cat = 'a'",
        "d3_id_window": "id > 30 AND id <= 50",
        "d4_v_not_null": "v IS NOT NULL",
        "d5_empty": "id > 1000",
    }
    ib_where = {
        "i1_eq_b0": "id = 12",
        "i2_eq_b1": "id = 33",
        "i3_gt_45": "id > 45",
        "i4_in_both": "id IN (12, 33)",
    }
    selects = []
    for label, terms in _DELTA_SKIP_PREDICATES:
        kept = sum(1 for add in adds if d_keep(add, terms))
        selects.append(
            f"SELECT 'delta' AS source, '{label}' AS pred, "
            f"CAST({len(adds)} AS INTEGER) AS files_total, "
            f"CAST({kept} AS INTEGER) AS files_kept, "
            f"count(*) AS n_rows, "
            f"COALESCE(CAST(sum(id) AS BIGINT), 0) AS sum_id "
            f"FROM delta_all WHERE {delta_where[label]}"
        )
    for label, terms in _ICEBERG_SKIP_PREDICATES:
        kept = sum(
            1 for b, ids in _IB_FILES.values() if i_keep(b, ids, terms)
        )
        selects.append(
            f"SELECT 'iceberg' AS source, '{label}' AS pred, "
            f"CAST({len(_IB_FILES)} AS INTEGER) AS files_total, "
            f"CAST({kept} AS INTEGER) AS files_kept, "
            f"count(*) AS n_rows, "
            f"COALESCE(CAST(sum(id) AS BIGINT), 0) AS sum_id "
            f"FROM ib_all WHERE {ib_where[label]}"
        )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH delta_all AS (
{delta_rows}
), ib_all AS (
{ib_rows}
)
{body}
ORDER BY source, pred
"""


# ------------------------------------------------------- F10 key


def _cdf_region_rollup(spark: SparkSession, root: Path) -> DataFrame:
    """The change feed of the column-mapped CDF fixture at ``root``,
    from version 0, rolled up per (commit, change type, region) under
    the end-of-range logical names (id, qty_r, region)."""
    prep(spark)
    ensure_lake_fixtures()
    df = LF.read_delta_changes(spark, str(root), 0)
    return (
        df.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
            F.col("region"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("sum_id"),
            F.sum("qty_r").cast("long").alias("sum_qty"),
        )
        .orderBy("commit_version", "change_type", "region")
    )


def _cdf_region_rollup_sql(parts: list[str]) -> str:
    """The oracle twin of ``_cdf_region_rollup`` over ``parts``: one
    SELECT per fixture file, each yielding (commit_version, change_type,
    region, id, qty)."""
    return f"""
WITH changes(commit_version, change_type, region, id, qty) AS (
{" UNION ALL ".join(parts)}
)
SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type, region,
       count(*) AS n_rows,
       CAST(sum(id) AS BIGINT) AS sum_id,
       CAST(sum(qty) AS BIGINT) AS sum_qty
FROM changes
GROUP BY commit_version, change_type, region
ORDER BY commit_version, change_type, region
"""


def delta_cdf_mapped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over a COLUMN-MAPPED Delta table: cdc and data
    parquet carry PHYSICAL column names and physically-keyed
    partitionValues per PROTOCOL.md, and commit 2 RENAMES the logical
    qty column mid-range — a metadata-only change the
    physical-fingerprint gate must wave through (a full schema
    comparison would gate it).  Output uses the END-of-range
    logical names (id, qty_r, region); the update commit contributes
    ONLY its _change_data rows, inserts/deletes derive as in F8.  A
    reader that scanned by logical name would null-fill every column
    and fail the hash."""
    return _cdf_region_rollup(spark, DELTA_CDFM_DIR)


def _delta_cdf_mapped_oracle_sql() -> str:
    """Authoring-dict replay: the fixture says which PHYSICAL files
    each commit inserts/updates/deletes and in which region partition;
    DuckDB re-reads the same parquet BY PHYSICAL NAME — independent of
    read_delta_changes and of the logical rename under test."""
    ensure_lake_fixtures()
    pid, pqty = _CDFM_PHYS["id"], _CDFM_PHYS["qty"]
    parts = []

    def sel(commit, ct, rel, region):
        f = (DELTA_CDFM_DIR / rel).as_posix()
        ctexpr = "_change_type" if ct is None else f"'{ct}'"
        parts.append(
            f"SELECT {commit} AS commit_version, {ctexpr} AS change_type, "
            f"'{region}' AS region, \"{pid}\" AS id, \"{pqty}\" AS qty "
            f"FROM read_parquet('{f}')"
        )

    sel(0, "insert", "m0.parquet", "east")
    sel(0, "insert", "m1.parquet", "west")
    sel(1, None, "_change_data/c1.parquet", "west")
    sel(2, "insert", "m3.parquet", "east")
    sel(3, "delete", "m0.parquet", "east")
    return _cdf_region_rollup_sql(parts)


# ------------------------------------------------------- F36 key


def delta_cdf_mapid_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over a mode-'id' COLUMN-MAPPED table: cdc and
    data parquet resolve by FOOTER FIELD ID against
    delta.columnMapping.id — per file, through the same cached footer
    probe the snapshot reader uses — so files written by
    DIFFERENT physical writers (arbitrary names + ids; physicalName
    fallback with no ids at all) union into one change stream.  The
    fixture plants three naming schemes across the range plus a
    mid-range logical rename (ids unchanged — the id-keyed physical
    fingerprint waves it through); a reader resolving by physicalName
    alone would null-fill the footer-named files and fail the hash."""
    return _cdf_region_rollup(spark, DELTA_CDFID_DIR)


def _delta_cdf_mapid_oracle_sql() -> str:
    """Authoring-dict replay by PER-FILE physical names: DuckDB
    re-reads each fixture parquet under the naming scheme the
    authoring dict says it was written with — independent of the
    field-id resolution under test."""
    ensure_lake_fixtures()
    parts = []

    def sel(commit, ct, rel, region, naming):
        nm = _CDFID_NAMING[naming]
        f = (DELTA_CDFID_DIR / rel).as_posix()
        ctexpr = "_change_type" if ct is None else f"'{ct}'"
        parts.append(
            f"SELECT {commit} AS commit_version, {ctexpr} AS change_type, "
            f"'{region}' AS region, \"{nm['id']}\" AS id, "
            f"\"{nm['qty']}\" AS qty FROM read_parquet('{f}')"
        )

    sel(0, "insert", "i0.parquet", "east", "footer_a")
    sel(0, "insert", "i1.parquet", "west", "fallback")
    sel(1, None, "_change_data/c1.parquet", "west", "footer_a")
    sel(2, "insert", "i3.parquet", "east", "footer_b")
    sel(3, "delete", "i0.parquet", "east", "footer_a")
    return _cdf_region_rollup_sql(parts)


# ------------------------------------------------------- F11 key


def iceberg_manifest_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-LIST-level pruning audit: for each predicate, how
    many data manifests the list's partition field summaries say must
    OPEN — the driver-metadata twin of F9's files_kept evidence.  On a
    100 TB table with thousands of manifests this is what keeps the
    driver walk O(matching manifests): the bucketed fixture's list
    carries one summary per manifest (lower=upper=bucket), so equality
    probes open exactly one manifest, range probes open both (bucket
    is non-monotonic and never range-prunes), and delete manifests
    are never summary-skipped."""
    prep(spark)
    ensure_lake_fixtures()
    ensure_iceberg_bucket_manifests()
    rows = []
    for label, pred in [("i0_no_predicate", None)] + _ICEBERG_SKIP_PREDICATES:
        st = LF.iceberg_manifest_prune_stats(
            str(ICEBERG_BUCKET_META), predicate=pred
        )
        rows.append(
            (
                label,
                st["manifests_total"],
                st["manifests_matched"],
                st["delete_manifests"],
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "pred string, manifests_total int, manifests_matched int, "
        "delete_manifests int",
    ).orderBy("pred")


def _iceberg_manifest_prune_oracle_sql() -> str:
    """Authoring-dict replay: manifests are keyed by bucket, summaries
    are [bucket, bucket], so a predicate's matched count is the number
    of DISTINCT buckets its values could live in — equality/in resolve
    the bucket via id MEMBERSHIP in the authored split (ground truth
    the murmur3 hash under test never touches); range/none match all."""
    ensure_lake_fixtures()
    buckets = sorted({b for b, _ in _IB_FILES.values()})

    def bucket_of(v: int) -> int | None:
        for b, ids in _IB_FILES.values():
            if v in ids:
                return b
        return None

    def could_match(b: int, pred) -> bool:
        # intersect ALL conjunctive terms, mirroring the matcher (a
        # first-term-only replay diverges on multi-term predicates);
        # unauthored literals keep (unknown
        # bucket — the matcher would still prune them via the hash,
        # but the oracle must never run the hash under test)
        for _col, op, val in pred:
            if op == "=":
                vb = bucket_of(val)
                if vb is not None and vb != b:
                    return False
            elif op == "in":
                vbs = [bucket_of(v) for v in val]
                if all(v is not None for v in vbs) and b not in vbs:
                    return False
            elif op == "is_null":
                # the fixture authors contains_null=False on every
                # summary (no authored id is null), and null→null
                # holds for every transform — an is_null term prunes
                # ALL manifests (kept in lockstep with the matcher)
                return False
            # range / is_not_null terms: summaries never prune them
        return True

    def matched(pred) -> int:
        if pred is None:
            return len(buckets)
        return sum(1 for b in buckets if could_match(b, pred))

    selects = []
    for label, pred in [("i0_no_predicate", None)] + _ICEBERG_SKIP_PREDICATES:
        selects.append(
            f"SELECT '{label}' AS pred, "
            f"CAST({len(buckets)} AS INTEGER) AS manifests_total, "
            f"CAST({matched(pred)} AS INTEGER) AS manifests_matched, "
            f"CAST(0 AS INTEGER) AS delete_manifests"
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY pred"


# ------------------------------------------------------- F12 key

# AS OF TIMESTAMP probes: (label, source, epoch-ms) — mid-window,
# exact-boundary (inclusive), and after-latest for each format
_TT_PROBES = [
    ("d1_mid", "delta", 1735691400000),     # T0 + 30 min → v0
    ("d2_exact", "delta", 1735693200000),   # exactly T1 → v1 (inclusive)
    ("d3_late", "delta", 1735698600000),    # T2 + 30 min → v2
    ("i1_mid", "iceberg", 1735650000000),   # between 1002 and 1003
    ("i2_exact", "iceberg", 1735689600000), # exactly 1003's ts
    ("i3_late", "iceberg", 1735900000000),  # after 1005
]


def lake_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF TIMESTAMP time travel for BOTH bridges: Delta
    resolves the latest commit at-or-before the probe from the
    protocol's commit clock (inCommitTimestamp when present, else
    monotonic-adjusted log-file mtimes — the fixture pins
    deterministic mtimes), Iceberg from the snapshots' own
    timestamp-ms; the resolved snapshot then reads through the normal
    data path (Iceberg's probes cross the delete snapshots, so
    position/equality deletes must apply at the resolved point).
    Exact-boundary probes are INCLUSIVE — an off-by-one returns the
    previous snapshot's rollup and fails the hash."""
    prep(spark)
    ensure_lake_fixtures()
    ensure_iceberg_manifests()
    outs = []
    # the commit clock derives ONCE for all probes (glob + stat +
    # first-line open per retained commit)
    stamps = LF.delta_commit_timestamps(str(DELTA_DIR))
    for label, source, ts_ms in _TT_PROBES:
        if source == "delta":
            resolved = LF.delta_version_at_timestamp(
                str(DELTA_DIR), ts_ms, stamps=stamps
            )
            df = LF.read_delta_snapshot(
                spark, str(DELTA_DIR), version=resolved
            )
        else:
            resolved = LF.iceberg_snapshot_at_timestamp(
                str(ICEBERG_META), ts_ms
            )
            df = LF.read_iceberg_snapshot(spark, str(ICEBERG_META), resolved)
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.coalesce(F.sum("id"), F.lit(0)).cast("long").alias("sum_id"),
            ).select(
                F.lit(source).alias("source"),
                F.lit(label).alias("probe"),
                F.lit(resolved).cast("long").alias("resolved"),
                "*",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("source", "probe")


def _lake_time_travel_oracle_sql() -> str:
    """INDEPENDENT replay: the Delta side re-derives the commit clock
    from the log files' own mtimes (with its own monotonic adjustment)
    and replays the active-file set; the Iceberg side resolves from
    the authored timestamp-ms and replays the live-file set WITH the
    authored position/equality deletes at the resolved snapshot."""
    ensure_lake_fixtures()
    import os as _os

    log = DELTA_DIR / "_delta_log"
    versions = sorted(int(p.stem) for p in log.glob("*.json"))
    stamps: dict[int, int] = {}
    prev = None
    for v in versions:
        ts = _os.stat(log / f"{v:020d}.json").st_mtime_ns // 1_000_000
        if prev is not None and ts <= prev:
            ts = prev + 1
        stamps[v] = ts
        prev = ts

    meta = _ICEBERG_METADATA
    selects = []
    for label, source, ts_ms in _TT_PROBES:
        if source == "delta":
            resolved = max(v for v, t in stamps.items() if t <= ts_ms)
            rows = " UNION ALL ".join(
                f"SELECT id FROM read_parquet('{(DELTA_DIR / p).as_posix()}')"
                for p in sorted(_delta_active_files(log, resolved))
            )
        else:
            # (ts, history index) tie-break — later entry wins, in
            # lockstep with iceberg_snapshot_at_timestamp
            resolved = max(
                (int(s["timestamp-ms"]), i, s)
                for i, s in enumerate(meta["snapshots"])
                if int(s["timestamp-ms"]) <= ts_ms
            )[2]["snapshot-id"]
            rows = " UNION ALL ".join(
                f"SELECT id FROM read_parquet('{f}'){where}"
                for f, where, _hc in _iceberg_live_where(resolved)
            )
        selects.append(
            f"SELECT '{source}' AS source, '{label}' AS probe, "
            f"CAST({resolved} AS BIGINT) AS resolved, "
            f"count(*) AS n_rows, "
            f"COALESCE(CAST(sum(id) AS BIGINT), 0) AS sum_id "
            f"FROM ({rows})"
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY source, probe"
