"""Native Iceberg WRITE path: append snapshots authored through the
real metadata chain — parquet data files (Spark-written, distributed),
avro manifests + manifest list (the pure-Python container writer,
``sources/avrocore.py``), and ``v{N}.metadata.json`` — readable by
``lakeformats.read_iceberg_snapshot`` and any spec-conformant reader.

Spec anchors (all public): Iceberg Table Spec format-version 2 —
schema field ids, identity partition specs, manifest entry
``lower_bounds``/``upper_bounds``/``null_value_counts``/
``value_counts`` serialized per Appendix D (single-value binary),
manifest-list ``partitions`` field summaries, snapshot log, and
sequence-number assignment (one per commit, entries carry it
explicitly — inheritance is a reader concern this writer does not
lean on).

Scale posture mirrors the Delta writer: data moves in ONE distributed
``df.write.parquet``; the driver authors O(#files) metadata rows and
reads only parquet FOOTERS for the entry bounds — so tables written
here are manifest- and file-prunable from the first snapshot.  Data
and delete files land, and metadata versions commit put-if-absent,
through ``staging.py``, the one place both native writers stage, name
and commit files.

Identity partitioning only (the overwhelmingly common layout; bucket/
truncate WRITE support would need the transform applied at write
time).  Data files written HERE contain the partition column (the
spec's modern layout — the staging write partitions on a duplicated
column so ``partitionBy`` cannot strip the real one); tables EXPORTED
from Delta (``delta_to_iceberg``) lack it, and the read side's
identity back-fill rule reconstructs the column from the entry's
partition record, exactly like production readers do for
Hive-imported data.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import re
import struct
import time
from decimal import Decimal
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import lakeformats as LF
from . import staging
from .deltawriter import footer_column_stats

__all__ = [
    "write_iceberg",
    "delete_iceberg",
    "delete_iceberg_equality",
    "expire_iceberg_snapshots",
    "compact_iceberg",
    "delta_to_iceberg",
    "set_iceberg_ref",
    "remove_iceberg_ref",
    "iceberg_last_epoch",
    "encode_iceberg_bound",
]


def _iceberg_type_of(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.BinaryType):
        return "binary"
    raise LF.LakeFormatGatedError(
        f"no Iceberg type mapping for {dt.simpleString()} — nested "
        "columns are not writable yet"
    )


def encode_iceberg_bound(type_json: str, v) -> bytes | None:
    """Appendix-D single-value binary serialization — the exact
    inverse of ``skipping.decode_iceberg_bound`` (round-trip pinned by
    unit test).  None = value not representable; the entry then simply
    omits the bound (readers keep the file — conservative)."""
    from . import skipping

    if v is None or not isinstance(type_json, str):
        return None
    try:
        if type_json == "boolean":
            return b"\x01" if v else b"\x00"
        if type_json == "int":
            return struct.pack("<i", int(v))
        if type_json == "long":
            return struct.pack("<q", int(v))
        if type_json == "float":
            return struct.pack("<f", float(v))
        if type_json == "double":
            return struct.pack("<d", float(v))
        if type_json == "date":
            if not isinstance(v, _dt.date) or isinstance(v, _dt.datetime):
                return None
            return struct.pack("<i", (v - _dt.date(1970, 1, 1)).days)
        if type_json in ("timestamp", "timestamptz"):
            if not isinstance(v, _dt.datetime):
                return None
            if type_json == "timestamptz":
                if v.tzinfo is None:
                    return None  # ambiguous wall time on an instant type
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            elif v.tzinfo is not None:
                return None
            micros = (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
                microseconds=1
            )
            return struct.pack("<q", micros)
        if type_json == "string":
            return str(v).encode("utf-8")
        if type_json.startswith("decimal("):
            if not isinstance(v, Decimal):
                return None
            unscaled = skipping._decimal_unscaled(v, type_json)
            if unscaled is None:
                return None
            return skipping._min_twos_complement(unscaled)
        if type_json == "binary" or type_json.startswith("fixed["):
            # Appendix D: raw bytes — the exact inverse of the reader
            # branch.  parquet footers DO surface bytes min/max for
            # binary columns, and this function
            # cannot know lower from upper, so values past 16 bytes
            # return None (bound omitted, conservative) rather than
            # embed unbounded blobs in every manifest entry or attempt
            # the side-dependent truncate-and-increment real writers
            # use; a <=16-byte value is EXACT, valid for either side.
            if not isinstance(v, (bytes, bytearray)):
                return None
            if type_json.startswith("fixed["):
                n = int(type_json[len("fixed[") : -1])
                if len(v) != n:
                    return None  # spec: fixed(L) serializes as exactly L bytes
            elif len(v) > 16:
                return None
            return bytes(v)
    except (struct.error, ValueError, OverflowError):
        return None
    return None


def _manifest_schema(partition_avro_fields: list[dict]) -> str:
    """The manifest-entry avro schema, with the spec's TYPED partition
    record built per table (identity partition values are single-type
    per field; the fixture-writer's json-decoder route cannot express
    multi-branch unions, and the spec itself uses a record here)."""
    data_file_fields: list[dict] = [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        # the spec's REQUIRED partition record is present even when the
        # spec has no fields (empty record) — spec-conformant readers
        # project it unconditionally
        {
            "name": "partition",
            "type": {
                "type": "record",
                "name": "r102",
                "fields": [
                    {
                        "name": f["name"],
                        "type": ["null", f["avro"]],
                        "default": None,
                    }
                    for f in partition_avro_fields
                ],
            },
        },
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
    ]
    data_file_fields += [
                        {
                            "name": "value_counts",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": {
                                        "type": "record",
                                        "name": "k118_v119",
                                        "fields": [
                                            {"name": "key", "type": "int"},
                                            {"name": "value", "type": "long"},
                                        ],
                                    },
                                },
                            ],
                            "default": None,
                        },
                        {
                            "name": "null_value_counts",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": {
                                        "type": "record",
                                        "name": "k121_v122",
                                        "fields": [
                                            {"name": "key", "type": "int"},
                                            {"name": "value", "type": "long"},
                                        ],
                                    },
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
                                        "name": "k126_v127",
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
                                        "name": "k129_v130",
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
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "default": None,
        },
    ]
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": data_file_fields,
                    },
                },
            ],
        }
    )


_MLIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {
                "name": "min_sequence_number",
                "type": ["null", "long"],
                "default": None,
            },
            {
                "name": "added_snapshot_id",
                "type": ["null", "long"],
                "default": None,
            },
            {"name": "added_files_count", "type": "int"},
            {"name": "existing_files_count", "type": "int"},
            {"name": "deleted_files_count", "type": "int"},
            {"name": "added_rows_count", "type": "long"},
            {"name": "existing_rows_count", "type": "long"},
            {"name": "deleted_rows_count", "type": "long"},
            {
                "name": "partitions",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "r508",
                            "fields": [
                                {"name": "contains_null", "type": "boolean"},
                                {
                                    "name": "lower_bound",
                                    "type": ["null", "bytes"],
                                    "default": None,
                                },
                                {
                                    "name": "upper_bound",
                                    "type": ["null", "bytes"],
                                    "default": None,
                                },
                            ],
                        },
                    },
                ],
                "default": None,
            },
        ],
    }
)


def _kv(d: dict) -> list[dict]:
    return [{"key": k, "value": v} for k, v in sorted(d.items())]


def _normalize_mlist_row(r: dict) -> dict:
    """A carried-forward manifest-list row re-serialized under the full
    LIST schema (avro readers return exactly the fields the old file
    had; missing keys default) — ONE definition shared by every commit
    path so the metadata the append and delete writers author can
    never diverge."""
    return {
        "manifest_path": r["manifest_path"],
        "manifest_length": int(r.get("manifest_length") or 0),
        "partition_spec_id": int(r.get("partition_spec_id") or 0),
        "content": int(r.get("content") or 0),
        "sequence_number": r.get("sequence_number"),
        "min_sequence_number": r.get("min_sequence_number"),
        "added_snapshot_id": r.get("added_snapshot_id"),
        "added_files_count": int(r.get("added_files_count") or 0),
        "existing_files_count": int(r.get("existing_files_count") or 0),
        "deleted_files_count": int(r.get("deleted_files_count") or 0),
        "added_rows_count": int(r.get("added_rows_count") or 0),
        "existing_rows_count": int(r.get("existing_rows_count") or 0),
        "deleted_rows_count": int(r.get("deleted_rows_count") or 0),
        "partitions": r.get("partitions"),
    }


def _append_snapshot_to_meta(
    meta: dict, snapshot: dict, now_ms: int, seq: int
) -> dict:
    """Append ``snapshot`` + its snapshot-log entry and keep the commit
    clock MONOTONIC (ms-resolution writers can collide; AS OF TIMESTAMP
    travel depends on commit order), mirroring adjusted timestamps back
    onto the snapshots — shared by the append and delete commit paths."""
    meta = dict(meta)
    meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot["snapshot-id"]}
    ]
    slog = meta["snapshot-log"]
    for i in range(1, len(slog)):
        if slog[i]["timestamp-ms"] <= slog[i - 1]["timestamp-ms"]:
            slog[i]["timestamp-ms"] = slog[i - 1]["timestamp-ms"] + 1
    # mirror each snapshot's FIRST log entry (its commit) back onto it
    # — a rollback appends a SECOND entry for an old snapshot-id (made
    # current again, not re-committed); last-wins here would rewrite
    # that snapshot's commit time on the next append and shift AS OF
    # TIMESTAMP resolution
    by_sid: dict = {}
    for e in slog:
        by_sid.setdefault(e["snapshot-id"], e["timestamp-ms"])
    for s in meta["snapshots"]:
        if s["snapshot-id"] in by_sid:
            s["timestamp-ms"] = by_sid[s["snapshot-id"]]
    meta["current-snapshot-id"] = snapshot["snapshot-id"]
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = max(now_ms, int(meta.get("last-updated-ms") or 0))
    return meta


def _append_branch_snapshot_to_meta(
    meta: dict, snapshot: dict, now_ms: int, seq: int, ref: str
) -> dict:
    """The branch-commit twin of ``_append_snapshot_to_meta``: the
    snapshot joins ``snapshots`` and the refs-map head moves, but
    ``current-snapshot-id`` and ``snapshot-log`` stay untouched — the
    spec ties the log to the CURRENT snapshot, so staged branch
    commits must be invisible to main readers AND to AS OF TIMESTAMP
    resolution until a fast-forward publishes them."""
    meta = dict(meta)
    meta["snapshots"] = list(meta.get("snapshots", [])) + [snapshot]
    refs = dict(meta.get("refs") or {})
    refs[ref] = {"snapshot-id": snapshot["snapshot-id"], "type": "branch"}
    meta["refs"] = refs
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = max(now_ms, int(meta.get("last-updated-ms") or 0))
    return meta


def _fresh_table_metadata(
    table_dir: str,
    schema_json: dict,
    spec_json: dict,
    partition_by: list[str],
    last_column_id: int,
    now_ms: int,
) -> dict:
    """The v1 metadata skeleton for a table created by this writer —
    ONE definition shared by the append path and the Delta export so
    the two cannot drift."""
    import uuid as _uuid_mod

    return {
        "format-version": 2,
        "table-uuid": str(
            _uuid_mod.UUID(bytes=hashlib.sha256(table_dir.encode()).digest()[:16])
        ),
        "location": table_dir,
        "last-sequence-number": 0,
        "last-updated-ms": now_ms,
        "last-column-id": last_column_id,
        "current-schema-id": 0,
        "schemas": [schema_json],
        "default-spec-id": 0,
        "partition-specs": [spec_json],
        "last-partition-id": 1000 + max(0, len(partition_by) - 1),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "snapshots": [],
        "snapshot-log": [],
    }


def _mlist_data_row(
    m_name: str,
    meta_dir: Path,
    seq: int,
    snapshot_id: int,
    n_files: int,
    n_rows: int,
    part_summaries: list | None,
) -> dict:
    """A manifest-list row for a freshly written DATA manifest —
    shared by the append path, the Delta export and (with content
    set to 1) the delete manifests."""
    return {
        "manifest_path": f"metadata/{m_name}",
        "manifest_length": (meta_dir / m_name).stat().st_size,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": n_files,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": part_summaries,
    }


def _encode_part_summaries(
    summaries: list[dict], result_types: list[str]
) -> list | None:
    """Manifest-list partition field summaries, Appendix-D encoded in
    each partition field's RESULT type (identity/truncate: the source
    type; bucket and the date family: int) — shared by the append path
    and the Delta export."""
    if not result_types:
        return None
    out = []
    for i, t in enumerate(result_types):
        out.append(
            {
                "contains_null": summaries[i]["contains_null"],
                "lower_bound": encode_iceberg_bound(t, summaries[i]["lo"]),
                "upper_bound": encode_iceberg_bound(t, summaries[i]["hi"]),
            }
        )
    return out


def _metadata_versions(meta_dir: Path) -> list[Path]:
    """All ``v*.metadata.json`` files, NUMERICALLY sorted — one
    definition so the v10<v9 lexicographic-sort bug class cannot
    reappear in a hand-kept copy."""
    return sorted(
        meta_dir.glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )


def _commit_metadata(meta_dir: Path, version: int, text: str) -> Path:
    """Publish ``v{version}.metadata.json`` put-if-absent: two writers
    racing from the same parent both target it; exactly one wins, the
    loser re-reads and retries (the spec's atomic-swap requirement)."""
    dest = meta_dir / f"v{version}.metadata.json"
    try:
        staging.put_if_absent(dest, text)
    except FileExistsError:
        raise LF.LakeFormatError(
            f"metadata version v{version} was committed concurrently — "
            "re-read the table and retry"
        ) from None
    return dest


def _merge_iceberg_schema(
    cur_schema: dict, incoming: T.StructType, last_col_id: int
) -> tuple[list[dict], int]:
    """SCHEMA EVOLUTION on append (the spec's legal moves only): new
    incoming columns join at the END with FRESH field ids (ids are
    identity — never reused); columns the incoming frame lacks force
    optional (new files have no value for them, exactly Delta F25's
    nullability rule); shared columns must keep their EXACT Iceberg
    type — silent coercion gates.  Returns (evolved fields, new
    last-column-id)."""
    cur_fields = list(cur_schema["fields"])
    by_name = {f["name"]: f for f in cur_fields}
    inc_by_name = {f.name: f for f in incoming.fields}
    out_fields: list[dict] = []
    for f in cur_fields:
        inc = inc_by_name.get(f["name"])
        if inc is None:
            out_fields.append(dict(f, required=False))
            continue
        t = _iceberg_type_of(inc.dataType)
        if t != f["type"]:
            raise LF.LakeFormatGatedError(
                f"schema evolution type mismatch on {f['name']!r}: table "
                f"{f['type']!r} vs incoming {t!r} — Iceberg ids are "
                "identity; changing a column's type is not an append"
            )
        # Incoming nullability does NOT demote a required column: Spark
        # file reads force every column nullable, so "read the table
        # back, compact/replace it" would otherwise flip required →
        # optional on every maintenance pass.  The
        # required invariant is instead ENFORCED against the staged
        # files' footer null counts at commit time (write_iceberg),
        # which checks the DATA rather than trusting the plan's
        # nullability flag.
        out_fields.append(dict(f, required=bool(f["required"])))
    next_id = int(last_col_id)
    for f in incoming.fields:
        if f.name not in by_name:
            next_id += 1
            # a NEW column is always optional: rows committed before it
            # existed have no value (the spec forbids adding required)
            out_fields.append(
                {
                    "id": next_id,
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type_of(f.dataType),
                }
            )
    return out_fields, next_id


_PARTITION_ARG_RE = re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$"
)
_PARTITION_DT_RE = re.compile(
    r"^\s*(year|month|day|hour)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$"
)

# source Iceberg types each transform accepts on the WRITE side (the
# executor-side expression exists for these; the read side prunes a
# superset — decimal buckets, e.g. — via the driver-side Python twin)
_TRANSFORM_SOURCES = {
    # binary buckets via the same bounded-buffer murmur3 the decimal
    # path uses (uuid/fixed are read-side types — Spark has no
    # uuid carrier to write, and fixed[] only arrives from foreign
    # tables, where skipping.iceberg_bucket_hash prunes them)
    "bucket": {"int", "long", "string", "date", "timestamp", "timestamptz", "binary"},
    "truncate": {"int", "long", "string"},
    "year": {"date", "timestamp", "timestamptz"},
    "month": {"date", "timestamp", "timestamptz"},
    "day": {"date", "timestamp", "timestamptz"},
    "hour": {"timestamp", "timestamptz"},
}


def _partition_field_descriptors(
    schema: T.StructType, partition_by: list[str]
) -> list[dict]:
    """Parse ``partition_by`` entries — ``"col"`` (identity),
    ``"bucket(N, col)"`` / ``"truncate(W, col)"`` (Iceberg DDL syntax),
    ``"year(col)" / "month(col)" / "day(col)" / "hour(col)"`` — into
    spec-ready descriptors: {name, transform, source, src_type,
    result_type, int_result}.  Identity fields keep the bare column
    name (existing tables' specs must keep matching); transformed
    fields get the conventional ``{col}_{transform}`` name.  Raises
    loudly for unknown syntax or a source type the executor-side
    transform cannot express."""
    from . import skipping

    out: list[dict] = []
    for entry in partition_by:
        m = _PARTITION_ARG_RE.match(entry)
        md = _PARTITION_DT_RE.match(entry)
        if m:
            kind, arg, src = m.group(1), int(m.group(2)), m.group(3)
            if arg <= 0:
                raise LF.LakeFormatError(
                    f"{kind} argument must be positive in {entry!r}"
                )
            transform = f"{kind}[{arg}]"
            name = f"{src}_{'bucket' if kind == 'bucket' else 'trunc'}"
        elif md:
            kind, src = md.group(1), md.group(2)
            transform = kind
            name = f"{src}_{kind}"
        else:
            kind, src, transform, name = "identity", entry.strip(), "identity", entry.strip()
        if src not in schema.fieldNames():
            raise LF.LakeFormatError(f"partition column {src!r} not in schema")
        src_type = _iceberg_type_of(schema[src].dataType)
        if kind == "identity":
            if src_type not in ("string", "int", "long"):
                raise LF.LakeFormatGatedError(
                    f"partition column {src!r} has type {src_type!r} — "
                    "identity writes support string/int/long partition "
                    "columns only"
                )
        elif kind == "bucket" and src_type.startswith("decimal("):
            # Appendix-B decimal hashing is executor-side for p <= 18
            # (unscaled fits BIGINT; icetransforms.with_murmur3_decimal);
            # wider decimals need big-integer bytes no Column builds.
            from ..functions.icetransforms import _decimal_params

            if _decimal_params(src_type)[0] > 18:
                raise LF.LakeFormatGatedError(
                    f"bucket over {src_type!r} ({src!r}) gates: unscaled "
                    "values past 18 digits exceed BIGINT — precision <= 18 "
                    "buckets executor-side"
                )
        elif src_type not in _TRANSFORM_SOURCES[kind]:
            raise LF.LakeFormatGatedError(
                f"{transform} over source type {src_type!r} ({src!r}) has "
                "no executor-side expression — supported: "
                f"{sorted(_TRANSFORM_SOURCES[kind])}"
            )
        result_type = skipping._transform_result_type(transform, src_type)
        out.append(
            {
                "name": name,
                "transform": transform,
                "source": src,
                "src_type": src_type,
                "result_type": result_type,
                "int_result": result_type in ("int", "long"),
            }
        )
    if len({pf["name"] for pf in out}) != len(out):
        raise LF.LakeFormatError(
            f"partition field names collide: {[pf['name'] for pf in out]}"
        )
    return out


def _partition_expr(pf: dict) -> "F.Column":
    """The executor-side Column computing ``pf``'s transformed value —
    every row in a staged file shares it, so it IS the partition key."""
    from ..functions import icetransforms as IT

    col = F.col(pf["source"])
    t = pf["transform"]
    if t == "identity":
        return col
    if t.startswith("bucket["):
        return IT.bucket_value(col, pf["src_type"], int(t[len("bucket[") : -1]))
    if t.startswith("truncate["):
        return IT.truncate_value(col, pf["src_type"], int(t[len("truncate[") : -1]))
    return IT.datepart_value(col, pf["src_type"], t)


def _spec_fields_to_partition_by(spec_fields: list[dict], names_by_id: dict) -> list[str]:
    """The inverse of ``_partition_field_descriptors``: a table's spec
    fields back into write_iceberg ``partition_by`` syntax, so replace/
    compact can re-derive transformed placement from the source
    columns the data files carry.  Unknown transforms raise (callers
    turn that into their own gate)."""
    out = []
    for sf in spec_fields:
        src = names_by_id[sf["source-id"]]
        t = sf["transform"]
        if t == "identity":
            out.append(src)
        elif t.startswith("bucket["):
            out.append(f"bucket({int(t[len('bucket['):-1])}, {src})")
        elif t.startswith("truncate["):
            out.append(f"truncate({int(t[len('truncate['):-1])}, {src})")
        elif t in ("year", "month", "day", "hour"):
            out.append(f"{t}({src})")
        else:
            raise LF.LakeFormatGatedError(
                f"partition transform {t!r} has no write-side expression"
            )
    return out


def write_iceberg(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    partition_by: list[str] | tuple[str, ...] = (),
    colocate: bool = True,
    max_records_per_file: int | None = None,
    merge_schema: bool = False,
    summary_extra: dict[str, str] | None = None,
    mode: str = "append",
    expected_metadata_path: str | None = None,
    ref: str | None = None,
) -> dict:
    """Commit ``df`` as a new Iceberg snapshot (creating the table on
    first write).  Returns {"snapshot_id", "metadata_path",
    "files_added", "rows_written", "sequence_number"}.

    ``mode="replace"`` commits a FULL-STATE snapshot: the manifest
    list holds only the new manifest (no carry-forward) and the
    summary operation is 'replace' — the commit shape of
    ``compact_iceberg``.  A replace derived from a read must pass
    ``expected_metadata_path`` so the CAS targets the version the
    state was READ from; a replace from a stale read then collides
    instead of silently dropping a concurrent commit.

    ``summary_extra`` merges string properties into the snapshot's
    summary — the spec's engine-metadata channel; exactly-once
    streaming sinks record their epoch there (the same recipe Flink
    uses with checkpoint ids) and ``iceberg_last_epoch`` reads it
    back.

    ``partition_by`` accepts identity columns (string/int/long) and
    the spec's TRANSFORMS in Iceberg DDL syntax — ``"bucket(8, col)"``
    (murmur3_x86_32, computed executor-side as pure Column
    expressions: functions/icetransforms.py), ``"truncate(4, col)"``,
    ``"year(col)"/"month(col)"/"day(col)"/"hour(col)"`` — so written
    tables exercise the read side's transform pruning
    (sources/skipping.py).  Transform RESULTS are always int/long/
    string, so the avro partition-map form round-trips exactly for
    every transform.  Appends require the schema to match the table's unless
    ``merge_schema=True``, which performs the spec's legal evolution —
    new columns join the CURRENT schema under fresh field ids via a
    new schemas[] entry (no data rewrites; snapshots keep their own
    schema-id, so time travel reads the old shape), missing columns
    force optional, and shared-column type changes gate loudly.

    ``ref`` commits the snapshot to a BRANCH head instead of main (the
    write half of production write-audit-publish): the new snapshot's
    parent is the branch's current head, the refs-map entry moves by
    CAS, and ``current-snapshot-id`` / ``snapshot-log`` stay untouched,
    so main readers cannot see staged data and AS OF TIMESTAMP cannot
    resolve to it until ``fast_forward_iceberg`` publishes.  A missing
    ref is created rooted at the current snapshot (the spec's
    write-to-new-branch behavior); a TAG ref refuses (tags are
    immutable); creating a brand-new table on a branch refuses (there is
    no main to protect yet).  Reference frame: the public Iceberg spec's
    `refs` section; explore.R has no lake layer."""
    partition_by = list(partition_by)
    if mode not in ("append", "replace"):
        raise LF.LakeFormatError(f"unsupported write mode {mode!r}")
    schema = df.schema
    part_fields = _partition_field_descriptors(schema, partition_by)
    pf_by_name = {pf["name"]: pf for pf in part_fields}

    table_dir = os.path.abspath(table_dir)
    meta_dir = Path(table_dir) / "metadata"

    existing = _metadata_versions(meta_dir)
    if ref == "main":
        # a "main" branch commit through the refs map would leave
        # current-snapshot-id behind — invisible to every main reader
        # main commits are the default path
        raise LF.LakeFormatError(
            "ref='main' is the current snapshot — write without ref="
        )
    if ref is not None and not existing:
        raise LF.LakeFormatError(
            "cannot create a table on a branch — the first commit IS "
            "main; write without ref=, then branch"
        )
    if existing:
        meta = LF.iceberg_metadata(str(existing[-1]))
        prev_version = int(existing[-1].name.split(".")[0][1:])
        if "schemas" not in meta or "partition-specs" not in meta:
            raise LF.LakeFormatError(
                f"latest metadata {existing[-1].name} is malformed "
                "(missing schemas/partition-specs) — refusing to append"
            )
        by_id = {s["schema-id"]: s for s in meta["schemas"]}
        cur_schema = by_id[meta["current-schema-id"]]
        last_col = int(
            meta.get("last-column-id")
            or max(f["id"] for f in cur_schema["fields"])
        )
        out_fields, new_last = _merge_iceberg_schema(
            cur_schema, schema, last_col
        )
        if out_fields != list(cur_schema["fields"]):
            if not merge_schema:
                raise LF.LakeFormatGatedError(
                    "incoming schema differs from the table schema — pass "
                    "merge_schema=True for the spec's legal evolution "
                    "(new/missing optional columns; type changes always "
                    "gate)"
                )
            cur_sid = max(s["schema-id"] for s in meta["schemas"]) + 1
            schema_json = {
                "type": "struct",
                "schema-id": cur_sid,
                "fields": out_fields,
            }
            meta = dict(meta)
            meta["schemas"] = list(meta["schemas"]) + [schema_json]
            meta["current-schema-id"] = cur_sid
            meta["last-column-id"] = max(new_last, last_col)
        else:
            cur_sid = int(meta["current-schema-id"])
            schema_json = cur_schema
        field_ids = {f["name"]: f["id"] for f in schema_json["fields"]}
        spec_json = {
            "spec-id": 0,
            "fields": [
                {
                    "name": pf["name"],
                    "transform": pf["transform"],
                    "source-id": field_ids[pf["source"]],
                    "field-id": 1000 + i,
                }
                for i, pf in enumerate(part_fields)
            ],
        }
        specs = {s["spec-id"]: s for s in meta["partition-specs"]}
        if json.dumps(specs[meta["default-spec-id"]], sort_keys=True) != (
            json.dumps(spec_json, sort_keys=True)
        ):
            raise LF.LakeFormatError(
                f"partition_by {partition_by} != table partition spec"
            )
        seq = int(meta.get("last-sequence-number", 0)) + 1
        if ref is not None:
            refs_map = meta.get("refs") or {}
            if ref in refs_map:
                if refs_map[ref].get("type") != "branch":
                    raise LF.LakeFormatError(
                        f"ref {ref!r} is a {refs_map[ref].get('type')}, "
                        "not a branch — tags are immutable; write to a "
                        "branch or drop the tag first"
                    )
                parent = int(refs_map[ref]["snapshot-id"])
            else:
                # write-to-new-branch: the branch roots at the current
                # snapshot, exactly like production's wap.branch
                parent = meta.get("current-snapshot-id")
        else:
            parent = meta.get("current-snapshot-id")
        prev_manifests = []
        if parent is not None and mode == "append":
            snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
            mlist = LF._resolve(snaps[parent]["manifest-list"], table_dir)
            prev_manifests = LF._read_avro_records(mlist)
        if expected_metadata_path is not None:
            # CAS against the version the caller's state was READ from
            # (replace semantics: a stale replace must collide, never
            # silently drop a concurrent commit) — and fail FAST here,
            # before the full-table rewrite burns a complete orphan
            # copy the final put-if-absent CAS would only then refuse;
            # that CAS still guards the race window
            expected_v = int(
                os.path.basename(expected_metadata_path).split(".")[0][1:]
            )
            if expected_v != prev_version:
                raise LF.LakeFormatError(
                    f"metadata version v{expected_v + 1} was committed "
                    "concurrently — re-read the table and retry"
                )
            prev_version = expected_v
    else:
        field_ids = {f.name: i + 1 for i, f in enumerate(schema.fields)}
        cur_sid = 0
        schema_json = {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {
                    "id": field_ids[f.name],
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type_of(f.dataType),
                }
                for f in schema.fields
            ],
        }
        spec_json = {
            "spec-id": 0,
            "fields": [
                {
                    "name": pf["name"],
                    "transform": pf["transform"],
                    "source-id": field_ids[pf["source"]],
                    "field-id": 1000 + i,
                }
                for i, pf in enumerate(part_fields)
            ],
        }
        meta = None
        prev_version = 0
        seq = 1
        parent = None
        prev_manifests = []

    snapshot_id = seq  # deterministic, strictly increasing per commit
    now_ms = int(time.time() * 1000)

    # ---- data: staged distributed write; partitionBy runs on a
    # DUPLICATED column so the real one stays IN the data files
    out = df
    dup_cols = []
    for pf in part_fields:
        dup = f"__part_{pf['name']}"
        if pf["transform"].startswith("bucket["):
            # DataFrame-level chain-bound murmur3 (codegen-fast; the
            # Column form is ~100× slower interpreted — see
            # functions/icetransforms.py)
            from ..functions import icetransforms as IT

            out = IT.with_bucket_column(
                out,
                dup,
                pf["source"],
                pf["src_type"],
                int(pf["transform"][len("bucket[") : -1]),
            )
        else:
            out = out.withColumn(dup, _partition_expr(pf))
        dup_cols.append(dup)
    if part_fields and colocate:
        out = out.repartition(*[F.col(c) for c in dup_cols])
    landed = staging.land_parquet(
        spark,
        out,
        table_dir,
        prefix="f",
        version=seq,
        subdir="data",
        partition_by=dup_cols,
        max_records_per_file=max_records_per_file,
    )

    entries: list[dict] = []
    rows_total = 0
    type_by_id = {field_ids[f.name]: _iceberg_type_of(f.dataType) for f in schema.fields}
    summaries = [
        {"contains_null": False, "lo": None, "hi": None} for _ in partition_by
    ]
    # required-column enforcement happens against the landed footers
    # (not the incoming plan's nullability, which Spark reads force to
    # nullable) — see _merge_iceberg_schema.
    required_names = {f["name"] for f in schema_json["fields"] if f["required"]}
    data_cols = [f.name for f in schema.fields]
    for lf in landed:
        pv: dict[str, object] = {}
        for dup, raw in lf.partition.items():
            name = dup[len("__part_"):]
            int_result = pf_by_name[name]["int_result"]
            pv[name] = int(raw) if raw is not None and int_result else raw
        nrows, bounds, nulls, value_counts = footer_column_stats(lf.abspath, data_cols)
        violated = {n: nulls.get(n, 0) for n in required_names if nulls.get(n, 0)}
        if violated:
            for g in landed:
                os.unlink(g.abspath)
            raise LF.LakeFormatGatedError(
                f"required column(s) received null values {violated} — "
                "committing would violate the table's required "
                "constraint; make the column optional explicitly or "
                "clean the nulls"
            )
        rows_total += nrows
        lower: dict[int, bytes] = {}
        upper: dict[int, bytes] = {}
        for name, (lo, hi) in bounds.items():
            fid = field_ids[name]
            blo = encode_iceberg_bound(type_by_id[fid], lo)
            bhi = encode_iceberg_bound(type_by_id[fid], hi)
            if blo is not None and bhi is not None:
                lower[fid] = blo
                upper[fid] = bhi
        # manifest-list partition field summaries over the TRANSFORMED
        # values, Appendix-D encoded in the transform's result type
        for i, pf in enumerate(part_fields):
            v = pv.get(pf["name"])
            if v is None:
                summaries[i]["contains_null"] = True
                continue
            if summaries[i]["lo"] is None or v < summaries[i]["lo"]:
                summaries[i]["lo"] = v
            if summaries[i]["hi"] is None or v > summaries[i]["hi"]:
                summaries[i]["hi"] = v
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": lf.path,
                    "file_format": "PARQUET",
                    "record_count": nrows,
                    "file_size_in_bytes": lf.size,
                    "partition": {pf["name"]: pv.get(pf["name"]) for pf in part_fields},
                    "value_counts": _kv(
                        {field_ids[n]: v for n, v in value_counts.items()}
                    ),
                    "null_value_counts": _kv(
                        {field_ids[n]: v for n, v in nulls.items()}
                    ),
                    "lower_bounds": _kv(lower),
                    "upper_bounds": _kv(upper),
                    "equality_ids": None,
                },
            }
        )

    # ---- metadata: manifest avro, manifest list, vN.metadata.json
    meta_dir.mkdir(parents=True, exist_ok=True)
    wsalt = staging.salt()
    m_name = f"m-{snapshot_id:05d}-{wsalt}.avro"
    partition_avro_fields = [
        {"name": pf["name"], "avro": "long" if pf["int_result"] else "string"}
        for pf in part_fields
    ]
    LF.write_avro_records(
        str(meta_dir / m_name),
        _manifest_schema(partition_avro_fields),
        entries,
    )
    mlist_rows = list(prev_manifests)
    mlist_rows.append(
        _mlist_data_row(
            m_name,
            meta_dir,
            seq,
            snapshot_id,
            len(entries),
            rows_total,
            _encode_part_summaries(
                summaries, [pf["result_type"] for pf in part_fields]
            ),
        )
    )
    norm_rows = [_normalize_mlist_row(r) for r in mlist_rows]
    snap_name = f"snap-{snapshot_id:05d}-{wsalt}.avro"
    LF.write_avro_records(str(meta_dir / snap_name), _MLIST_SCHEMA, norm_rows)

    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": f"metadata/{snap_name}",
        # each snapshot pins ITS schema — time travel across an
        # evolution reads the shape the snapshot was committed under
        "schema-id": cur_sid,
        "summary": {
            "operation": mode if mode == "replace" else "append",
            **{str(k): str(v) for k, v in (summary_extra or {}).items()},
        },
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    if meta is None:
        meta = _fresh_table_metadata(
            table_dir,
            schema_json,
            spec_json,
            partition_by,
            max(field_ids.values()),
            now_ms,
        )
    if ref is not None:
        meta = _append_branch_snapshot_to_meta(meta, snapshot, now_ms, seq, ref)
    else:
        meta = _append_snapshot_to_meta(meta, snapshot, now_ms, seq)

    # Durable ledger: mirror integer summary_extra markers (streaming
    # epochs) into table PROPERTIES with high-water-mark semantics.
    # Snapshot summaries vanish when expire_iceberg_snapshots rewrites
    # the snapshot list, so a sink consulting summaries alone would
    # re-commit a replayed epoch after maintenance;
    # properties survive expire and iceberg_last_epoch reads both.
    if summary_extra:
        props = dict(meta.get("properties") or {})
        for k, v in summary_extra.items():
            try:
                new = int(v)
            except (TypeError, ValueError):
                continue
            try:
                old = int(props[str(k)])
            except (KeyError, TypeError, ValueError):
                old = None
            if old is None or new > old:
                props[str(k)] = str(new)
        meta = dict(meta)
        meta["properties"] = props

    version = prev_version + 1
    dest = _commit_metadata(
        meta_dir, version, json.dumps(meta, sort_keys=True, indent=1)
    )
    return {
        "snapshot_id": snapshot_id,
        "metadata_path": str(dest),
        "files_added": len(entries),
        "rows_written": rows_total,
        "sequence_number": seq,
    }


# ------------------------------------------------------------------
# position-delete WRITE
# ------------------------------------------------------------------


def _table_relative(table_dir: str) -> F.Column:
    """A position delete's ``file_path`` from the absolute ``__fp`` of
    the row it deletes, stored by the rule the manifests follow:
    relative to the table root when under it, else a ``file://`` URI.
    Absolute paths go stale the moment the table directory moves (the
    atomic fixture build's rename does exactly that, and every delete
    would silently miss); the reader resolves relative paths against
    the root, and foreign absolute URIs still work."""
    prefix = table_dir.rstrip("/") + "/"
    fp = F.col("__fp")
    return F.when(
        fp.startswith(prefix), F.expr(f"substring(__fp, {len(prefix) + 1})")
    ).otherwise(F.concat(F.lit("file://"), fp))


def _land_delete_file(
    spark: SparkSession,
    rows: DataFrame,
    sort_cols: list[str],
    table_dir: str,
    seq: int,
    prefix: str,
) -> tuple[staging.Landed, int] | None:
    """``rows`` as ONE delete parquet under ``data/``, sorted on
    ``sort_cols`` (coalesce(1) is bounded by delete cardinality, not
    table size); returns (file, row count), or None when no row
    matched."""
    import pyarrow.parquet as pq

    landed = staging.land_parquet(
        spark,
        rows.coalesce(1).sortWithinPartitions(*sort_cols),
        table_dir,
        prefix=prefix,
        version=seq,
        subdir="data",
    )
    if not landed:
        return None
    (f,) = landed
    n = pq.ParquetFile(f.abspath).metadata.num_rows
    if n == 0:
        os.unlink(f.abspath)
        return None
    return f, n


def delete_iceberg(
    spark: SparkSession, metadata_path: str, predicate: list
) -> dict:
    """DELETE FROM an Iceberg table as v2 POSITION DELETES — the
    no-rewrite delete: matching rows' (file URI, position) pairs land
    in a delete parquet (distributed write; positions come from
    Spark's ``_metadata`` hidden columns), a delete MANIFEST (content
    1) joins the new manifest list beside every carried-forward
    manifest, and a new snapshot commits with the next sequence number
    — so the delete scopes to files committed at-or-before it, the
    spec's ordering rule.

    Rows already dead under EXISTING deletes may be re-listed (the
    predicate scan here does not re-apply prior delete files);
    position deletes are idempotent under the anti-join, so this is
    harmless redundancy, never wrongness — and the returned
    ``positions_written`` is documented as an upper bound when prior
    deletes overlap the predicate."""
    from . import skipping

    info = LF.iceberg_snapshot_info(metadata_path)
    meta = info["metadata"]
    table_dir = os.path.dirname(os.path.dirname(os.path.abspath(metadata_path)))
    skipping.validate_predicate(
        predicate, [f.name for f in info["schema"].fields]
    )

    entries = LF.iceberg_snapshot_entries(metadata_path)
    data_files = sorted(
        {
            e["path"]
            for e in entries
            if e["status"] != 2 and e["content"] == 0
        }
    )
    for p in data_files:
        ap = os.path.abspath(p)
        if LF._uri_path(ap) != ap:
            raise LF.LakeFormatGatedError(
                f"data-file path needs URI percent-encoding ({ap!r}) — "
                "position deletes cannot be matched against Spark's "
                "encoded rendering (same gate as the read side)"
            )
    if not data_files:
        return {"positions_written": 0, "snapshot_id": None}

    scan = LF._iceberg_grouped_read(spark, data_files, info, with_meta=True)
    matched = scan.filter(skipping.predicate_column(predicate)).select(
        _table_relative(table_dir).alias("file_path"), F.col("__pos").alias("pos")
    )

    seq = int(meta.get("last-sequence-number", 0)) + 1
    snapshot_id = seq
    # delete parquet sorts by (file, pos), the spec's recommendation
    written = _land_delete_file(
        spark, matched, ["file_path", "pos"], table_dir, seq, "delete"
    )
    if written is None:
        return {"positions_written": 0, "snapshot_id": None}
    del_file, n_positions = written
    dest = _commit_delete_snapshot(
        metadata_path,
        info,
        del_file=del_file,
        n_rows=n_positions,
        seq=seq,
        snapshot_id=snapshot_id,
        content=1,
    )
    return {
        "positions_written": n_positions,
        "snapshot_id": snapshot_id,
        "metadata_path": dest,
        "delete_file": del_file.path,
    }


def _write_delete_manifest(
    meta_dir: Path,
    partition_avro_fields: list[dict],
    del_file: staging.Landed,
    n_rows: int,
    *,
    seq: int,
    snapshot_id: int,
    wsalt: str,
    content: int,
    equality_ids: list[int] | None = None,
) -> dict:
    """One delete file as its own delete manifest (position content=1 /
    equality content=2); returns the manifest-list row for it."""
    m_name = f"dm-{snapshot_id:05d}-{wsalt}.avro"
    LF.write_avro_records(
        str(meta_dir / m_name),
        _manifest_schema(partition_avro_fields),
        [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "data_file": {
                    "content": content,
                    "file_path": del_file.path,
                    "file_format": "PARQUET",
                    "record_count": n_rows,
                    "file_size_in_bytes": del_file.size,
                    "partition": {f["name"]: None for f in partition_avro_fields},
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": equality_ids,
                },
            }
        ],
    )
    row = _mlist_data_row(m_name, meta_dir, seq, snapshot_id, 1, n_rows, None)
    row["content"] = 1
    return row


def _commit_delete_snapshot(
    metadata_path: str,
    info: dict,
    *,
    del_file: staging.Landed,
    n_rows: int,
    seq: int,
    snapshot_id: int,
    content: int,
    equality_ids: list[int] | None = None,
) -> str:
    """Shared DELETE-commit tail (position content=1 / equality
    content=2): the delete manifest joins every carried-forward
    manifest in a new manifest list, the snapshot commits at ``seq``,
    and the metadata CAS targets the version the snapshot state was
    READ from (never glob-latest)."""
    meta = info["metadata"]
    table_dir = os.path.dirname(os.path.dirname(os.path.abspath(metadata_path)))
    meta_dir = Path(table_dir) / "metadata"
    wsalt = staging.salt()
    spec_fields = info["partition_spec_fields"]
    partition_avro_fields = []
    schema_json = info["schema_json"]
    types_by_name = {f["name"]: f["type"] for f in schema_json["fields"]}
    names_by_id = info["field_names_by_id"]
    from . import skipping as _sk

    for sf in spec_fields:
        col = names_by_id[sf["source-id"]]
        # avro typing follows the transform RESULT (bucket/day → int),
        # not the source column (a date source stores int ordinals)
        t = _sk._transform_result_type(sf["transform"], types_by_name[col]) or "string"
        partition_avro_fields.append(
            {"name": sf["name"], "avro": "long" if t in ("int", "long") else "string"}
        )
    parent = meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    prev_manifests = LF._read_avro_records(
        LF._resolve(snaps[parent]["manifest-list"], table_dir)
    )
    mlist_rows = [_normalize_mlist_row(r) for r in prev_manifests]
    mlist_rows.append(
        _write_delete_manifest(
            meta_dir,
            partition_avro_fields,
            del_file,
            n_rows,
            seq=seq,
            snapshot_id=snapshot_id,
            wsalt=wsalt,
            content=content,
            equality_ids=equality_ids,
        )
    )
    snap_name = f"snap-{snapshot_id:05d}-{wsalt}.avro"
    LF.write_avro_records(str(meta_dir / snap_name), _MLIST_SCHEMA, mlist_rows)

    now_ms = int(time.time() * 1000)
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": f"metadata/{snap_name}",
        "schema-id": meta["current-schema-id"],
        "parent-snapshot-id": parent,
        "summary": {"operation": "delete"},
    }
    meta = _append_snapshot_to_meta(meta, snapshot, now_ms, seq)

    # the CAS version MUST derive from the metadata file this snapshot
    # state was read from — deriving it from the directory's glob-latest
    # would let a commit from a stale read land as a fresh version and
    # silently erase any snapshot committed in between
    prev_version = int(
        os.path.basename(metadata_path).split(".")[0][1:]
    )
    dest = _commit_metadata(
        meta_dir, prev_version + 1, json.dumps(meta, sort_keys=True, indent=1)
    )
    return str(dest)


def delete_iceberg_equality(metadata_path: str, keys: DataFrame) -> dict:
    """DELETE as v2 EQUALITY deletes — the CDC-friendly delete: the
    distinct KEY TUPLES of ``keys`` land in a delete parquet (NO
    target scan at all — the point vs position deletes, whose write
    cost is a table scan), ``equality_ids`` = the key columns' field
    ids, and the snapshot's sequence number scopes the delete to files
    committed strictly BEFORE it (the reader's ``__seq < dseq`` rule),
    so a later re-append of the same keys survives.  Key column types
    must match the table exactly — a silently-coerced key tuple would
    delete NOTHING rather than fail."""
    info = LF.iceberg_snapshot_info(metadata_path)
    meta = info["metadata"]
    table_dir = os.path.dirname(os.path.dirname(os.path.abspath(metadata_path)))
    schema_json = info["schema_json"]
    fid_by_name = {f["name"]: f["id"] for f in schema_json["fields"]}
    type_by_name = {f["name"]: f["type"] for f in schema_json["fields"]}
    if not keys.columns:
        raise LF.LakeFormatError("equality delete needs at least one key column")
    for c in keys.columns:
        if c not in fid_by_name:
            raise LF.LakeFormatError(
                f"equality key column {c!r} not in table schema"
            )
        t = _iceberg_type_of(keys.schema[c].dataType)
        if t != type_by_name[c]:
            raise LF.LakeFormatGatedError(
                f"equality key column {c!r} has type {t!r} but the table "
                f"stores {type_by_name[c]!r} — a coerced key tuple would "
                "silently delete nothing"
            )
    if meta.get("current-snapshot-id") is None:
        return {"keys_written": 0, "snapshot_id": None}

    seq = int(meta.get("last-sequence-number", 0)) + 1
    snapshot_id = seq
    # distinct keys keep the delete idempotent and small
    written = _land_delete_file(
        keys.sparkSession,
        keys.dropDuplicates(list(keys.columns)),
        list(keys.columns),
        table_dir,
        seq,
        "eq-delete",
    )
    if written is None:
        return {"keys_written": 0, "snapshot_id": None}
    del_file, n_keys = written
    dest = _commit_delete_snapshot(
        metadata_path,
        info,
        del_file=del_file,
        n_rows=n_keys,
        seq=seq,
        snapshot_id=snapshot_id,
        content=2,
        equality_ids=[int(fid_by_name[c]) for c in keys.columns],
    )
    return {
        "keys_written": n_keys,
        "snapshot_id": snapshot_id,
        "metadata_path": dest,
        "delete_file": del_file.path,
    }


# ------------------------------------------------------------------
# expire snapshots
# ------------------------------------------------------------------


def expire_iceberg_snapshots(
    metadata_path: str,
    keep_last: int,
    dry_run: bool = False,
    staging_retention_ms: int = 24 * 3600 * 1000,
) -> dict:
    """EXPIRE all but the ``keep_last`` most recent snapshots (by
    commit order): a new metadata version lists only the survivors,
    and files reachable ONLY from expired snapshots — manifest lists,
    manifests, data/delete files — are removed from disk (the Iceberg
    maintenance twin of Delta VACUUM).  Reachability is computed over
    the RETAINED snapshots' full manifest chains, so a manifest or
    data file shared with any survivor is never touched.  Time travel
    to an expired snapshot then gates loudly at resolution."""
    info = LF.iceberg_snapshot_info(metadata_path)
    meta = dict(info["metadata"])
    table_dir = os.path.dirname(os.path.dirname(os.path.abspath(metadata_path)))
    snaps = sorted(
        meta["snapshots"],
        key=lambda s: int(s.get("sequence-number") or s["snapshot-id"]),
    )
    if keep_last < 1:
        raise LF.LakeFormatError("keep_last must be >= 1")
    # named refs RETAIN their snapshots regardless of the window —
    # expiring a tagged snapshot would dangle every pinned read
    ref_ids = {
        int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
    }
    # the recency window counts MAIN-ancestor snapshots only: staged
    # branch commits carry the highest sequence numbers, and counting
    # them would push the (older) current snapshot out of its own window
    # — turning routine maintenance into a refusal whenever a WAP branch
    # holds >= keep_last staged commits.  Branch heads stay protected
    # via ref_ids; rolled-over and unpublished-intermediate snapshots
    # stay expirable, as documented.
    anc = ancestor_ids(meta)
    main_chain = [s for s in snaps if s["snapshot-id"] in anc]
    window = {s["snapshot-id"] for s in main_chain[-keep_last:]}
    keep = [s for s in snaps if s["snapshot-id"] in window | ref_ids]
    drop = [s for s in snaps if s["snapshot-id"] not in window | ref_ids]
    audit = {
        "snapshots_expired": len(drop),
        "files_deleted": 0,
        "metadata_path": metadata_path,
    }
    # a writer killed mid-stage leaves its staging dir behind; expire
    # is the Iceberg-side janitor, as vacuum is on the Delta side
    audit["staging_dirs_swept"] = staging.sweep_staging(
        table_dir, int(time.time() * 1000) - staging_retention_ms, dry_run
    )
    if not drop:
        return audit
    keep_ids = {s["snapshot-id"] for s in keep}
    current = meta.get("current-snapshot-id")
    if current not in keep_ids:
        raise LF.LakeFormatError(
            "expire would drop the CURRENT snapshot — refusing"
        )

    def reachable(snapshots) -> set[str]:
        out: set[str] = set()
        for s in snapshots:
            mlist = LF._resolve(s["manifest-list"], table_dir)
            out.add(os.path.normpath(mlist))
            for m in LF._read_avro_records(mlist):
                mp = os.path.normpath(
                    LF._resolve(m["manifest_path"], table_dir)
                )
                out.add(mp)
                for e in LF._read_avro_records(mp):
                    out.add(
                        os.path.normpath(
                            LF._resolve(e["data_file"]["file_path"], table_dir)
                        )
                    )
        return out

    live = reachable(keep)
    dead = reachable(drop) - live
    if dry_run:
        audit["files_deleted"] = len(dead)

    if not dry_run:
        meta["snapshots"] = [s for s in meta["snapshots"] if s["snapshot-id"] in keep_ids]
        meta["snapshot-log"] = [
            e
            for e in meta.get("snapshot-log", [])
            if e["snapshot-id"] in keep_ids
        ]
        # parent pointers into the expired range would dangle for
        # lineage walks; clear them at the new history root
        for s in meta["snapshots"]:
            if s.get("parent-snapshot-id") not in keep_ids:
                s.pop("parent-snapshot-id", None)
        meta_dir = Path(table_dir) / "metadata"
        # CAS against the metadata version this expire READ (not the
        # glob-latest): a concurrent append would otherwise be silently
        # dropped from the rewritten snapshots list by this DESTRUCTIVE op
        version = int(os.path.basename(metadata_path).split(".")[0][1:]) + 1
        dest = _commit_metadata(
            meta_dir, version, json.dumps(meta, sort_keys=True, indent=1)
        )
        audit["metadata_path"] = str(dest)
        # file deletion only AFTER the CAS succeeds: a stale expire must
        # collide having destroyed nothing (unlinking first would delete
        # files a concurrent append still references, then fail the
        # commit)
        for p in sorted(dead):
            try:
                os.unlink(p)
                audit["files_deleted"] += 1
            except FileNotFoundError:
                pass
    return audit


# ------------------------------------------------------------------
# CONVERT / EXPORT: Delta table -> Iceberg metadata (UniForm-style)
# ------------------------------------------------------------------


def delta_to_iceberg(spark: SparkSession, table_path: str) -> dict:
    """UniForm-style EXPORT: author Iceberg format-v2 metadata over a
    Delta table's CURRENT snapshot — the SAME parquet files serve both
    logs, not a byte moves.  Each export lands as a NEW Iceberg
    snapshot listing the full live file set in one fresh manifest (no
    carry-forward), so re-exporting after more Delta commits gives
    Iceberg-side history and AS OF travel across exports.

    Delta strips identity-partition columns out of its data files; the
    exported manifests carry the typed partition records and the read
    side's IDENTITY BACK-FILL rule reconstructs the column — exactly
    how production engines read Hive-imported Iceberg data.  Column
    bounds re-derive from each file's parquet FOOTER (never trusted
    from Delta's stats JSON), so the export is file-skippable through
    F9/F11 machinery immediately; partition-column bounds come from
    the partition value itself.

    DELETION VECTORS export as Iceberg POSITION DELETES (the
    production-UniForm rule): each live file's DV
    positions decode (driver-side under the cap, executor-side above
    it — the snapshot reader's own machinery) into one sorted
    (file_path, pos) delete parquet, committed as a content=1 delete
    manifest IN the export snapshot at the same sequence number, so
    Iceberg readers hide exactly the rows Delta readers hide while
    both logs keep serving the same data bytes.

    COLUMN-MAPPED tables export too: the Iceberg field ids are
    the delta.columnMapping.ids, so the read side's footer-field-id
    resolution finds the physically-named parquet columns under their
    LOGICAL names; stats collect per file under physical names and key
    back to the shared ids.  Files with neither footer ids nor a
    physical name equal to the logical one gate at export (an Iceberg
    reader would null-fill them).

    Re-export after Delta SCHEMA EVOLUTION works on mapped tables too
    (ids are the stable mapping ids; the evolved shape joins as a new
    schemas[] entry and old exports stay travelable under theirs);
    unmapped tables gate there (positional ids would drift).  Gates:
    exotic partition types; field-id type changes."""
    snap = LF.delta_snapshot(table_path)
    cm_mode = snap["column_mapping_mode"]
    cm_phys = snap["physical_names"] if cm_mode != "none" else {}
    cm_ids = snap["field_ids"] if cm_mode != "none" else {}
    if cm_mode != "none":
        missing = [
            f.name for f in snap["schema"].fields if f.name not in cm_ids
        ]
        if missing:
            raise LF.LakeFormatGatedError(
                f"column-mapped export needs delta.columnMapping.id on "
                f"every column; missing for {missing} — the Iceberg "
                "schema's field ids must BE the mapping ids so readers "
                "resolve the physical-name parquet by footer id"
            )
    dv_live = [
        (f["path"], f["deletionVector"])
        for f in snap["files"]
        if f.get("deletionVector")
    ]
    schema: T.StructType = snap["schema"]
    partition_by = list(snap["partition_columns"])
    for c in partition_by:
        if not isinstance(
            schema[c].dataType, (T.StringType, T.IntegerType, T.LongType)
        ):
            raise LF.LakeFormatGatedError(
                f"partition column {c!r} has type "
                f"{schema[c].dataType.simpleString()} — the export supports "
                "string/int/long identity partitions only"
            )

    table_dir = os.path.abspath(table_path)
    meta_dir = Path(table_dir) / "metadata"
    # mapped tables: Iceberg field id = delta.columnMapping.id (column
    # identity carries over, so the grouped read's footer-id resolution
    # finds the physically-named parquet columns, exactly like a
    # renamed Iceberg column's old files); unmapped: positional
    field_ids = (
        dict(cm_ids)
        if cm_mode != "none"
        else {f.name: i + 1 for i, f in enumerate(schema.fields)}
    )
    schema_json = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {
                "id": field_ids[f.name],
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type_of(f.dataType),
            }
            for f in schema.fields
        ],
    }
    spec_json = {
        "spec-id": 0,
        "fields": [
            {
                "name": c,
                "transform": "identity",
                "source-id": field_ids[c],
                "field-id": 1000 + i,
            }
            for i, c in enumerate(partition_by)
        ],
    }

    existing = _metadata_versions(meta_dir)
    if existing:
        meta = LF.iceberg_metadata(str(existing[-1]))
        prev_version = int(existing[-1].name.split(".")[0][1:])
        by_id = {s["schema-id"]: s for s in meta["schemas"]}
        cur = by_id[meta["current-schema-id"]]
        export_sid = int(meta["current-schema-id"])
        if cur["fields"] != schema_json["fields"]:
            # Re-export after Delta schema evolution: legal ONLY
            # for column-mapped tables, whose field ids are the STABLE
            # delta.columnMapping.ids — the evolved shape joins as a
            # new schemas[] entry (old snapshots keep their schema-id,
            # so Iceberg-side time travel reads the old shape).
            # Unmapped tables keep the gate: positional ids drift.
            if cm_mode == "none":
                raise LF.LakeFormatGatedError(
                    "re-export after Delta schema evolution is not "
                    "supported on unmapped tables — the positional field "
                    "ids would drift from the already-exported Iceberg "
                    "schema (enable column mapping, whose ids are stable)"
                )
            cur_by_id = {f["id"]: f for f in cur["fields"]}
            for f in schema_json["fields"]:
                of = cur_by_id.get(f["id"])
                if of is not None and of["type"] != f["type"]:
                    raise LF.LakeFormatGatedError(
                        f"re-export changes the type of field id "
                        f"{f['id']} ({of['type']!r} → {f['type']!r}) — "
                        "ids are identity; a type change is not evolution"
                    )
            export_sid = max(sc["schema-id"] for sc in meta["schemas"]) + 1
            schema_json = dict(schema_json, **{"schema-id": export_sid})
            meta = dict(meta)
            meta["schemas"] = list(meta["schemas"]) + [schema_json]
            meta["current-schema-id"] = export_sid
            meta["last-column-id"] = max(
                int(meta.get("last-column-id") or 0), max(field_ids.values())
            )
        specs = {s["spec-id"]: s for s in meta["partition-specs"]}
        if json.dumps(specs[meta["default-spec-id"]], sort_keys=True) != (
            json.dumps(spec_json, sort_keys=True)
        ):
            raise LF.LakeFormatError(
                "Delta partitioning differs from the exported Iceberg spec"
            )
        seq = int(meta.get("last-sequence-number", 0)) + 1
        parent = meta.get("current-snapshot-id")
    else:
        meta = None
        prev_version = 0
        seq = 1
        parent = None
        export_sid = 0

    snapshot_id = seq
    now_ms = int(time.time() * 1000)
    type_by_id = {
        field_ids[f.name]: _iceberg_type_of(f.dataType) for f in schema.fields
    }
    data_cols = [f.name for f in schema.fields if f.name not in partition_by]
    summaries = [
        {"contains_null": False, "lo": None, "hi": None} for _ in partition_by
    ]
    entries: list[dict] = []
    rows_total = 0
    for f in sorted(snap["files"], key=lambda x: x["path"]):
        ap = os.path.join(table_dir, f["path"])
        pv: dict[str, object] = {}
        for c in partition_by:
            raw = (f.get("partitionValues") or {}).get(
                cm_phys.get(c, c), (f.get("partitionValues") or {}).get(c)
            )
            if raw is None:
                pv[c] = None
            elif isinstance(schema[c].dataType, (T.IntegerType, T.LongType)):
                pv[c] = int(raw)
            else:
                pv[c] = str(raw)
        if cm_mode != "none":
            # stats collect under each file's PHYSICAL names, keyed back
            # to logical; a file with neither footer ids nor a physical
            # name equal to its logical name would be unreadable to the
            # Iceberg side's resolution — gate it loudly here, at
            # export, not silently null-filled at read
            top_ids, _n, file_names = LF._parquet_field_names_by_id(ap)
            pn_of: dict[str, str] = {}
            for name in data_cols:
                pn = top_ids.get(field_ids[name])
                if pn is None:
                    phys_name = cm_phys.get(name, name)
                    if phys_name not in file_names:
                        # column physically ABSENT (pre-evolution file):
                        # Iceberg's own null-fill rule covers it — skip
                        # its stats, never gate
                        continue
                    if phys_name != name:
                        raise LF.LakeFormatGatedError(
                            f"{ap} has no parquet footer field id for "
                            f"column {name!r} (physical {phys_name!r}) — "
                            "an Iceberg reader would null-fill it; "
                            "rewrite the file with field ids (OPTIMIZE) "
                            "first"
                        )
                    pn = phys_name
                pn_of[name] = pn
            nrows, bounds_p, nulls_p, vc_p = footer_column_stats(
                ap, list(pn_of.values())
            )
            back = {pn: n for n, pn in pn_of.items()}
            bounds = {back[k]: v for k, v in bounds_p.items()}
            nulls = {back[k]: v for k, v in nulls_p.items()}
            value_counts = {back[k]: v for k, v in vc_p.items()}
        else:
            nrows, bounds, nulls, value_counts = footer_column_stats(
                ap, data_cols
            )
        rows_total += nrows
        lower: dict[int, bytes] = {}
        upper: dict[int, bytes] = {}
        for name, (lo, hi) in bounds.items():
            fid = field_ids[name]
            blo = encode_iceberg_bound(type_by_id[fid], lo)
            bhi = encode_iceberg_bound(type_by_id[fid], hi)
            if blo is not None and bhi is not None:
                lower[fid] = blo
                upper[fid] = bhi
        vc = {field_ids[n]: v for n, v in value_counts.items()}
        nc = {field_ids[n]: v for n, v in nulls.items()}
        # the partition value IS the column's min/max/count for every
        # row of the file (identity transform)
        for i, c in enumerate(partition_by):
            fid = field_ids[c]
            v = pv[c]
            vc[fid] = nrows
            nc[fid] = nrows if v is None else 0
            if v is None:
                summaries[i]["contains_null"] = True
                continue
            b = encode_iceberg_bound(type_by_id[fid], v)
            if b is not None:
                lower[fid] = b
                upper[fid] = b
            if summaries[i]["lo"] is None or v < summaries[i]["lo"]:
                summaries[i]["lo"] = v
            if summaries[i]["hi"] is None or v > summaries[i]["hi"]:
                summaries[i]["hi"] = v
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": f["path"],
                    "file_format": "PARQUET",
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(ap),
                    "partition": dict(pv),
                    "value_counts": _kv(vc),
                    "null_value_counts": _kv(nc),
                    "lower_bounds": _kv(lower),
                    "upper_bounds": _kv(upper),
                    "equality_ids": None,
                },
            }
        )
    if not entries:
        raise LF.LakeFormatError(
            f"Delta table {table_path} has no live files to export"
        )

    meta_dir.mkdir(parents=True, exist_ok=True)
    wsalt = staging.salt()
    m_name = f"m-{snapshot_id:05d}-{wsalt}.avro"
    partition_avro_fields = [
        {
            "name": c,
            "avro": "long"
            if isinstance(schema[c].dataType, (T.IntegerType, T.LongType))
            else "string",
        }
        for c in partition_by
    ]
    LF.write_avro_records(
        str(meta_dir / m_name),
        _manifest_schema(partition_avro_fields),
        entries,
    )
    mlist_rows = [
        _mlist_data_row(
            m_name,
            meta_dir,
            seq,
            snapshot_id,
            len(entries),
            rows_total,
            _encode_part_summaries(
                summaries, [type_by_id[field_ids[c]] for c in partition_by]
            ),
        )
    ]
    n_dv_positions = 0
    if dv_live:
        # DVs → one sorted position-delete parquet + a content=1
        # manifest in THIS snapshot (same sequence number: position
        # deletes apply to data files with seq <= theirs, the exact
        # shape a compaction writer commits)
        dv_pairs = [
            (os.path.join(table_dir, rel), desc) for rel, desc in dv_live
        ]
        for ap, _desc in dv_pairs:
            if LF._uri_path(ap) != ap:
                raise LF.LakeFormatGatedError(
                    f"DV-bearing data-file path needs URI percent-encoding "
                    f"({ap!r}) — position deletes cannot be matched "
                    "against Spark's encoded rendering"
                )
        total_card = sum(int(d.get("cardinality") or 0) for _, d in dv_pairs)
        decode = (
            LF._dv_positions_local
            if total_card <= LF._DV_DRIVER_CAP
            else LF._dv_positions_distributed
        )
        pos_df = decode(spark, table_dir, dv_pairs)
        written = _land_delete_file(
            spark,
            pos_df.select(_table_relative(table_dir).alias("file_path"), F.col("__pos").alias("pos")),
            ["file_path", "pos"],
            table_dir,
            seq,
            "delete",
        )
        if written is not None:
            del_file, n_dv_positions = written
            mlist_rows.append(
                _write_delete_manifest(
                    meta_dir,
                    partition_avro_fields,
                    del_file,
                    n_dv_positions,
                    seq=seq,
                    snapshot_id=snapshot_id,
                    wsalt=wsalt,
                    content=1,
                )
            )
    snap_name = f"snap-{snapshot_id:05d}-{wsalt}.avro"
    LF.write_avro_records(
        str(meta_dir / snap_name), _MLIST_SCHEMA, mlist_rows
    )
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": f"metadata/{snap_name}",
        "schema-id": export_sid,
        "summary": {
            "operation": "append",
            "delta-version": str(snap["version"]),
        },
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    if meta is None:
        meta = _fresh_table_metadata(
            table_dir,
            schema_json,
            spec_json,
            partition_by,
            max(field_ids.values()),
            now_ms,
        )
    meta = _append_snapshot_to_meta(meta, snapshot, now_ms, seq)
    dest = _commit_metadata(
        meta_dir, prev_version + 1, json.dumps(meta, sort_keys=True, indent=1)
    )
    return {
        "snapshot_id": snapshot_id,
        "metadata_path": str(dest),
        "files_exported": len(entries),
        "rows_exported": rows_total,
        "dv_positions_exported": n_dv_positions,
        "delta_version": snap["version"],
    }


def iceberg_last_epoch(table_dir: str, key: str) -> int | None:
    """Highest integer recorded under ``key`` in any snapshot's summary
    — the exactly-once guard an idempotent streaming sink consults
    before committing a replayed epoch (the Delta twin is the ``txn``
    app marker).  None when the table does not exist yet or no
    snapshot carries the key.

    Reads the table PROPERTIES high-water mark first (write_iceberg
    mirrors integer summary markers there), then snapshot summaries —
    the properties copy survives expire_iceberg_snapshots rewriting
    the snapshot list, so maintenance cannot reopen a committed epoch
    to replay."""
    meta_dir = Path(table_dir) / "metadata"
    existing = _metadata_versions(meta_dir)
    if not existing:
        return None
    meta = LF.iceberg_metadata(str(existing[-1]))
    best: int | None = None
    v = (meta.get("properties") or {}).get(key)
    if v is not None:
        best = int(v)
    for s in meta.get("snapshots", []):
        v = (s.get("summary") or {}).get(key)
        if v is None:
            continue
        e = int(v)
        if best is None or e > best:
            best = e
    return best


def compact_iceberg(
    spark: SparkSession,
    metadata_path: str,
    max_records_per_file: int | None = None,
) -> dict:
    """REWRITE DATA FILES — Iceberg's maintenance twin of Delta
    OPTIMIZE (F16): the CURRENT state, with position AND equality
    deletes applied PHYSICALLY, rewrites bin-packed per identity
    partition and commits as ONE 'replace' snapshot whose manifest
    list holds a single full manifest — delete files and manifest
    sprawl stop burdening every subsequent read.  On a Delta-EXPORTED
    table this also MATERIALIZES the back-filled partition columns
    into the data files.  History is preserved (the pre-compaction
    snapshots stay travelable until expire); the CAS targets the
    metadata version the state was read from, so a compaction from a
    stale read collides instead of dropping a concurrent commit.
    Transformed partition specs (bucket/truncate/year/month/day/hour)
    compact too — the rewrite RE-DERIVES placement from the source
    columns the data files carry, through the same executor-side
    transform expressions the write path uses; only transforms with no
    write-side expression gate."""
    info = LF.iceberg_snapshot_info(metadata_path)
    spec_fields = info["partition_spec_fields"] or []
    names_by_id = info["field_names_by_id"]
    pcols = _spec_fields_to_partition_by(spec_fields, names_by_id)
    table_dir = os.path.dirname(
        os.path.dirname(os.path.abspath(metadata_path))
    )
    entries = LF.iceberg_snapshot_entries(metadata_path)
    files_before = len(
        {e["path"] for e in entries if e["status"] != 2 and e["content"] == 0}
    )
    df = LF.read_iceberg_snapshot(spark, metadata_path)
    res = write_iceberg(
        spark,
        df,
        table_dir,
        partition_by=pcols,
        max_records_per_file=max_records_per_file,
        mode="replace",
        expected_metadata_path=metadata_path,
    )
    res["files_before"] = files_before
    res["files_after"] = res.pop("files_added")
    return res


# ------------------------------------------------------------------
# refs: tags and branches
# ------------------------------------------------------------------


def set_iceberg_ref(
    metadata_path: str,
    name: str,
    *,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> dict:
    """CREATE TAG / CREATE BRANCH — a named ref (spec v2 ``refs`` map)
    pointing at ``snapshot_id`` (default: current).  Pure metadata, one
    CAS commit; refs PROTECT their snapshot from expire_iceberg_
    snapshots, exactly like production retention.  An existing name
    refuses (drop it first — silently moving a tag is how pinned reads
    drift)."""
    if ref_type not in ("tag", "branch"):
        raise LF.LakeFormatError(f"ref type must be tag|branch, got {ref_type!r}")
    meta = dict(LF.iceberg_metadata(metadata_path))
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    known = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if sid not in known:
        raise LF.LakeFormatError(f"snapshot {sid} not in metadata {sorted(known)}")
    refs = dict(meta.get("refs") or {})
    if name in refs:
        raise LF.LakeFormatError(
            f"ref {name!r} already exists (→ snapshot "
            f"{refs[name]['snapshot-id']}); remove it first"
        )
    refs[name] = {"snapshot-id": int(sid), "type": ref_type}
    meta["refs"] = refs
    meta_dir = Path(os.path.dirname(os.path.abspath(metadata_path)))
    version = int(os.path.basename(metadata_path).split(".")[0][1:]) + 1
    dest = _commit_metadata(
        meta_dir, version, json.dumps(meta, sort_keys=True, indent=1)
    )
    return {"metadata_path": str(dest), "name": name, "snapshot_id": int(sid)}


def ancestor_ids(meta: dict) -> set:
    """Snapshot ids on the CURRENT parent chain — the spec's
    is-current-ancestor set.  ONE definition shared by rollback's
    ancestor-only rule and the history metadata table, so the two
    cannot drift."""
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    node = snaps.get(meta.get("current-snapshot-id"))
    out: set = set()
    while node is not None:
        out.add(node["snapshot-id"])
        node = snaps.get(node.get("parent-snapshot-id"))
    return out


def rollback_iceberg(metadata_path: str, snapshot_id: int) -> dict:
    """ROLLBACK TO SNAPSHOT (the ``rollback_to_snapshot`` procedure):
    set the table's current snapshot back to an ANCESTOR of the
    current one.  Pure metadata, one CAS commit; the spec requires a
    new snapshot-log entry whenever the current snapshot changes, so
    the rolled-back-over snapshots become visible as non-ancestors in
    the history table (their log entries stay, their
    is-current-ancestor flips false).

    The target must be an ancestor of the current snapshot —
    production rollback refuses to jump to an unrelated branch head
    (that's ``set_current_snapshot``, a different, more dangerous
    tool); so do we.  The log entry's timestamp stays monotonic under
    the same ms-collision rule the commit path uses, and snapshot
    timestamps are NOT rewritten (the entry records when the snapshot
    was made current AGAIN, not a new commit time)."""
    meta = dict(LF.iceberg_metadata(metadata_path))
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise LF.LakeFormatError(
            f"snapshot {snapshot_id} not in metadata {sorted(snaps)}"
        )
    if snapshot_id not in ancestor_ids(meta):
        raise LF.LakeFormatError(
            f"snapshot {snapshot_id} is not an ancestor of the current "
            f"snapshot {meta.get('current-snapshot-id')} — rollback only "
            "travels the parent chain"
        )
    now_ms = int(time.time() * 1000)
    slog = list(meta.get("snapshot-log", []))
    if slog and now_ms <= slog[-1]["timestamp-ms"]:
        now_ms = slog[-1]["timestamp-ms"] + 1
    slog.append({"timestamp-ms": now_ms, "snapshot-id": int(snapshot_id)})
    meta["snapshot-log"] = slog
    meta["current-snapshot-id"] = int(snapshot_id)
    meta["last-updated-ms"] = max(now_ms, int(meta.get("last-updated-ms") or 0))
    meta_dir = Path(os.path.dirname(os.path.abspath(metadata_path)))
    version = int(os.path.basename(metadata_path).split(".")[0][1:]) + 1
    dest = _commit_metadata(
        meta_dir, version, json.dumps(meta, sort_keys=True, indent=1)
    )
    return {"metadata_path": str(dest), "snapshot_id": int(snapshot_id)}


def fast_forward_iceberg(metadata_path: str, branch: str, to_ref: str) -> dict:
    """FAST-FORWARD ``branch`` to the head of ``to_ref`` (the
    ``fast_forward`` procedure) — the publish half of
    write-audit-publish: a snapshot staged on an audit branch with
    ``write_iceberg(..., ref="audit")`` and validated there becomes
    visible to main readers atomically, in one pure-metadata CAS
    commit.

    ``branch="main"`` means the table's current snapshot.  The move is
    REFUSED unless the branch's current head is an ancestor of the
    target head (or the branch head IS the target's root) — a
    non-ancestor target means the branch has commits the target
    doesn't include, and "fast-forward" would silently drop them
    (that's a different, more dangerous tool).  Publishing to main
    appends one snapshot-log entry per published snapshot along the
    parent chain (oldest first, monotonic clock), so AS OF TIMESTAMP
    resolution sees the published history exactly as if it had been
    committed on main."""
    meta = dict(LF.iceberg_metadata(metadata_path))
    refs = dict(meta.get("refs") or {})
    if to_ref not in refs:
        raise LF.LakeFormatError(
            f"no ref {to_ref!r} to fast-forward from; refs: {sorted(refs)}"
        )
    target = int(refs[to_ref]["snapshot-id"])
    if branch == "main":
        # ALWAYS the table's current snapshot — an explicit refs["main"]
        # entry is not maintained by the main commit path, so trusting
        # it would let a stale ref defeat the non-ancestor guard below
        # and silently drop main commits
        cur = meta.get("current-snapshot-id")
    elif branch in refs:
        if refs[branch].get("type") != "branch":
            raise LF.LakeFormatError(
                f"ref {branch!r} is a {refs[branch].get('type')} — only "
                "branches fast-forward"
            )
        cur = refs[branch]["snapshot-id"]
    else:
        raise LF.LakeFormatError(
            f"no branch {branch!r}; refs: {sorted(refs)}"
        )
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if target not in snaps:
        raise LF.LakeFormatError(f"target snapshot {target} not in metadata")
    # the target's ancestor chain, target-first
    chain: list[int] = []
    node = snaps.get(target)
    while node is not None:
        chain.append(node["snapshot-id"])
        node = snaps.get(node.get("parent-snapshot-id"))
    if cur is not None and cur not in chain:
        raise LF.LakeFormatError(
            f"branch {branch!r} head {cur} is not an ancestor of "
            f"{to_ref!r} head {target} — fast-forward refuses (the "
            "branch has commits the target does not include)"
        )
    if cur == target:
        return {
            "metadata_path": metadata_path,
            "branch": branch,
            "snapshot_id": target,
            "published": 0,
        }
    # snapshots being published: the chain segment above cur, oldest first
    newly = list(reversed(chain[: chain.index(cur)] if cur is not None else chain))
    if branch == "main":
        slog = list(meta.get("snapshot-log", []))
        now_ms = int(time.time() * 1000)
        for sid in newly:
            if slog and now_ms <= slog[-1]["timestamp-ms"]:
                now_ms = slog[-1]["timestamp-ms"] + 1
            slog.append({"timestamp-ms": now_ms, "snapshot-id": int(sid)})
        meta["snapshot-log"] = slog
        meta["current-snapshot-id"] = target
        meta["last-updated-ms"] = max(
            now_ms, int(meta.get("last-updated-ms") or 0)
        )
        if branch in refs:
            refs[branch] = {"snapshot-id": target, "type": "branch"}
    else:
        refs[branch] = {"snapshot-id": target, "type": "branch"}
    meta["refs"] = refs
    meta_dir = Path(os.path.dirname(os.path.abspath(metadata_path)))
    version = int(os.path.basename(metadata_path).split(".")[0][1:]) + 1
    dest = _commit_metadata(
        meta_dir, version, json.dumps(meta, sort_keys=True, indent=1)
    )
    return {
        "metadata_path": str(dest),
        "branch": branch,
        "snapshot_id": target,
        "published": len(newly),
    }


def remove_iceberg_ref(metadata_path: str, name: str) -> dict:
    """DROP TAG / DROP BRANCH — removes the named ref; its snapshot
    stays until expire drops it under normal retention."""
    meta = dict(LF.iceberg_metadata(metadata_path))
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise LF.LakeFormatError(f"no ref {name!r}; refs: {sorted(refs)}")
    del refs[name]
    meta["refs"] = refs
    meta_dir = Path(os.path.dirname(os.path.abspath(metadata_path)))
    version = int(os.path.basename(metadata_path).split(".")[0][1:]) + 1
    dest = _commit_metadata(
        meta_dir, version, json.dumps(meta, sort_keys=True, indent=1)
    )
    return {"metadata_path": str(dest), "name": name}
