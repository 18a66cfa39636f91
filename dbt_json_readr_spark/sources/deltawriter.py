"""Native Delta Lake WRITE path: transactional commit authoring
over Spark-written parquet — no delta-spark jars.

The read bridge (``lakeformats.py``) replays ``_delta_log`` JSON into
exact file lists; this module is its inverse: Spark writes the DATA
(distributed, columnar, the only part that scales with rows) and the
driver authors the METADATA (commit JSON, per-file stats, deletion
vectors, checkpoints — O(#files), the same driver-side posture as the
reader).  Every byte of table state this module emits is consumed by
``lakeformats.read_delta_snapshot`` / ``skipping.delta_file_matches``
and by any spec-conformant Delta reader:

- data files land and commits publish through ``staging.py`` (the
  one place both native writers stage, name and commit files): a
  commit is put-if-absent, so two concurrent writers cannot both win a
  version — the loser raises ``DeltaConcurrentCommitError`` and its
  landed files are orphans (vacuum-able), never corruption;
- every ``add`` carries ``stats`` JSON (numRecords / minValues /
  maxValues / nullCount) read from the parquet FOOTERS pyarrow already
  has open — so tables written here are file-skippable from day one;
- ``delete_delta`` encodes deletion vectors EXECUTOR-side (the
  positions stream through ``applyInPandas`` into per-file roaring
  bitmaps; the driver only handles O(#files) opaque blobs) and commits
  the protocol-3/7 ``deletionVectors`` feature upgrade;
- ``merge_delta`` rewrites ONLY the files that contain a matched key
  (file-pruned copy-on-write, the standard MERGE physical plan);
- ``optimize_delta`` bin-packs each partition to one file and applies
  outstanding DVs physically (``dataChange: false``);
- ``write_delta_checkpoint`` materializes the replay state as the
  spec's checkpoint parquet + ``_last_checkpoint`` so readers seed
  from O(#files) parquet instead of replaying every JSON commit.

Reference anchor: the reference tool (explore.R) reads engine-written
artifact JSON; this module is the artifact-WRITING half an engine
needs once it owns the table format end to end.

Scale notes (100 TB posture): data never round-trips the driver — the
staged write is one distributed ``df.write.parquet``; stats come
from footer reads (O(#files) random reads of ~KB footers, the same
cost every Delta writer pays); DV encode is distributed with the
driver seeing only encoded blobs; MERGE's touched-file discovery is a
key-cardinality semi-join, not a table rewrite.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import time
import uuid as _uuid
from decimal import Decimal
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import lakeformats as LF
from . import roaring, staging

__all__ = [
    "DeltaConcurrentCommitError",
    "write_delta",
    "delete_delta",
    "merge_delta",
    "optimize_delta",
    "restore_delta",
    "vacuum_delta",
    "write_delta_checkpoint",
    "last_txn_version",
]


class DeltaConcurrentCommitError(LF.LakeFormatError):
    """Another writer committed this version first — re-read the
    snapshot and retry (optimistic concurrency, PROTOCOL.md)."""


class DeltaConstraintViolationError(LF.LakeFormatError):
    """Incoming rows violate a ``delta.constraints.*`` CHECK
    constraint — nothing was committed."""


# stats are only emitted for values the reader's ``skipping._coerce``
# round-trips exactly; longer strings are omitted (conservative: a
# missing stat keeps the file) rather than truncated, because a
# truncated max that is not carefully incremented UNDER-covers the file
_STATS_MAX_STR = 256

# partition values that survive a ``col=value`` path segment and the
# reader's partitionValues parse without escaping; anything else gates
_PATH_SAFE = set(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_. "
)


def _now_ms() -> int:
    return int(time.time() * 1000)


# ------------------------------------------------------------------
# commit plumbing
# ------------------------------------------------------------------


def _table_version(table_path: str) -> int | None:
    """Latest version, or None when the directory holds no Delta log."""
    log = Path(table_path) / "_delta_log"
    if not log.is_dir():
        return None
    try:
        _versions, _ck, latest = LF._log_versions(log)
    except LF.LakeFormatError:
        return None  # directory exists but holds no log artifacts
    return latest


def _commit(table_path: str, version: int, actions: list[dict]) -> None:
    """Publish ``actions`` as commit ``version``, put-if-absent (the
    protocol's log-store requirement)."""
    log = Path(table_path) / "_delta_log"
    log.mkdir(parents=True, exist_ok=True)
    try:
        staging.put_if_absent(
            log / f"{version:020d}.json",
            "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
            + "\n",
        )
    except FileExistsError:
        raise DeltaConcurrentCommitError(
            f"version {version} of {table_path} was committed concurrently "
            "— re-read the snapshot and retry"
        ) from None


def _strip_field_metadata(node) -> None:
    """Recursively drop the ``metadata`` entry from every field dict of
    a schema jsonValue — nested struct fields carry metadata too, and a
    top-level-only strip would leave nested comments spuriously
    failing the logical-shape gate."""
    if isinstance(node, dict):
        if "name" in node and "type" in node:
            node.pop("metadata", None)
        for v in node.values():
            _strip_field_metadata(v)
    elif isinstance(node, list):
        for v in node:
            _strip_field_metadata(v)


def _schema_fingerprint(schema: T.StructType) -> str:
    """FULL schema identity (metadata included) — RESTORE's
    should-re-emit-metaData decision.  Append/merge compatibility uses
    ``_append_compatible`` instead (production semantics: comments and
    generation metadata never block an append; metadata the writer
    cannot honor gates explicitly via
    ``_gate_unenforced_invariants``)."""
    return json.dumps(schema.jsonValue(), sort_keys=True)


def _append_compatible(
    table_schema: T.StructType, incoming: T.StructType
) -> bool:
    """Logical append compatibility: same columns in the same order
    with EXACT types (metadata excluded, nested included); an incoming
    NON-NULLABLE column may write into a nullable table column — the
    safe direction, and every lit()-derived column is non-nullable —
    but never the reverse (a nullable write into a required column
    could store nulls readers were promised not to see)."""
    if len(table_schema.fields) != len(incoming.fields):
        return False
    for t, i in zip(table_schema.fields, incoming.fields):
        if t.name != i.name:
            return False
        tj, ij = t.dataType.jsonValue(), i.dataType.jsonValue()
        _strip_field_metadata(tj)
        _strip_field_metadata(ij)
        if json.dumps(tj, sort_keys=True) != json.dumps(ij, sort_keys=True):
            return False
        if i.nullable and not t.nullable:
            return False
    return True


def _gate_unenforced_invariants(schema: T.StructType) -> None:
    """``delta.invariants`` (writer version 2) field metadata is an
    enforcement OBLIGATION this writer does not implement — appending
    unchecked rows would corrupt the table for every engine that
    trusts the invariant, so the write refuses loudly (the
    metadata-free fingerprint does not gate it on its own)."""
    bad = [
        f.name
        for f in schema.fields
        if (f.metadata or {}).get("delta.invariants")
    ]
    if bad:
        raise LF.LakeFormatGatedError(
            f"table declares delta.invariants on column(s) {bad} — this "
            "writer does not enforce writer-version-2 invariants and "
            "refuses to append unchecked rows"
        )


def _generation_exprs(schema: T.StructType) -> dict[str, str]:
    """name → SQL expression for every GENERATED column (the
    protocol's ``delta.generationExpression`` field metadata)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        md = f.metadata or {}
        e = md.get("delta.generationExpression")
        if e:
            out[f.name] = str(e)
    return out


def _commit_info(operation: str, params: dict | None = None) -> dict:
    return {
        "commitInfo": {
            "timestamp": _now_ms(),
            "operation": operation,
            "operationParameters": {
                k: json.dumps(v) if not isinstance(v, str) else v
                for k, v in (params or {}).items()
            },
            "engineInfo": "dbt-json-readr-spark",
        }
    }


def _remove_action(f: dict, ts: int, data_change: bool = True) -> dict:
    """The ``remove`` tombstone for a snapshot file entry.  Mirrors the
    removed entry's deletionVector descriptor when it has one (the
    protocol keys reconciliation on (path, dvId), and vacuum protects
    the orphaned DV file on the tombstone clock) — ONE definition so
    every writer path tombstones identically."""
    r = {
        "remove": {
            "path": f["path"],
            "deletionTimestamp": int(ts),
            "dataChange": data_change,
            "partitionValues": f["partitionValues"],
        }
    }
    if f.get("deletionVector"):
        r["remove"]["deletionVector"] = f["deletionVector"]
    return r


def last_txn_version(table_path: str, app_id: str) -> int | None:
    """Highest ``txn.version`` committed for ``app_id`` — the
    idempotent-append primitive (a streaming sink skips a batch whose
    txn version it already committed).  The log replay folds in the
    seeding checkpoint's txn rows, so log cleanup cannot resurrect a
    replayed batch.  None when the directory holds no Delta log."""
    if _table_version(table_path) is None:
        return None
    return LF._state_as_of(table_path)[0].txns.get(app_id)


# ------------------------------------------------------------------
# staged write + footer stats
# ------------------------------------------------------------------


def _stat_json_value(v):
    """A footer stat as the JSON value ``skipping._coerce`` reads back
    exactly; None = not representable (omit the stat, keep the file)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None
        return v
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            # offset-bearing instant — unambiguous for tz columns
            return v.astimezone(_dt.timezone.utc).isoformat()
        return v.isoformat()  # NTZ: naive wall time
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, str):
        if len(v) > _STATS_MAX_STR:
            return None
        return v
    return None  # bytes / nested — never emit


def footer_column_stats(
    path: str, data_cols: list[str]
) -> tuple[int, dict, dict, dict]:
    """Per-file column statistics from the parquet FOOTER — one ~KB
    metadata read, no data pages touched.  Returns (numRecords,
    {col: (min, max)} as native python values, {col: null_count},
    {col: total_value_count incl. nulls}).  A column missing from a
    map could not be derived soundly (absent/untrusted row-group
    stats) — callers must treat absence as 'unknown', never as zero.
    Shared by the Delta writer (add.stats) and the Iceberg writer
    (manifest entry bounds/counts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    nrows = meta.num_rows
    bounds: dict = {}
    nulls: dict = {}
    value_counts: dict = {}
    wanted = set(data_cols)
    # decimal columns need a raw-stats fallback: pyarrow's statistics
    # cast raises ArrowNotImplementedError when the PHYSICAL type is
    # INT32/INT64 (how Spark stores decimal p<=18) — the raw stat is
    # then the unscaled integer; FLBA/BYTE_ARRAY raws are the
    # big-endian two's-complement unscaled bytes
    dec_scale = {
        f.name: f.type.scale for f in pf.schema_arrow if pat.is_decimal(f.type)
    }

    def _stat_value(st, name: str, attr: str):
        try:
            return getattr(st, attr)
        except pa.lib.ArrowNotImplementedError:
            if name not in dec_scale:
                raise
            raw = getattr(st, attr + "_raw")
            u = (
                int.from_bytes(raw, "big", signed=True)
                if isinstance(raw, bytes)
                else int(raw)
            )
            # widened-context rescale (skipping._decimal_rescale): the
            # default 28-digit context would silently ROUND unscaled
            # values wider than 28 digits — min could round up / max
            # down, writing bounds NARROWER than the data into
            # add.stats / manifest bounds, so pruning could skip files
            # containing matching rows (the bug class skipping.py's
            # reader-side rescale also guards).
            from .skipping import _decimal_rescale

            return _decimal_rescale(u, dec_scale[name])
    # column order is identical across row groups; walk by index
    for ci in range(meta.num_columns):
        col0 = meta.row_group(0).column(ci) if meta.num_row_groups else None
        if col0 is None:
            continue
        name = col0.path_in_schema
        if name not in wanted:
            continue  # nested leaves carry dotted paths — skip
        lo = hi = None
        nc = 0
        nv = 0
        ok_bounds = True
        ok_nulls = True
        for gi in range(meta.num_row_groups):
            cm = meta.row_group(gi).column(ci)
            nv += cm.num_values
            st = cm.statistics
            if st is None:
                ok_bounds = ok_nulls = False
                continue
            if st.null_count is None:
                ok_nulls = False
            else:
                nc += st.null_count
            if not st.has_min_max:
                # bounds missing: fine ONLY if the group is all-null
                # (its values add nothing to min/max); otherwise the
                # file's true range is unknown — omit, keep the file
                nonnull = cm.num_values - (st.null_count or 0)
                if nonnull:
                    ok_bounds = False
                continue
            try:
                smin = _stat_value(st, name, "min")
                smax = _stat_value(st, name, "max")
                lo = smin if lo is None else min(lo, smin)
                hi = smax if hi is None else max(hi, smax)
            except (TypeError, pa.lib.ArrowNotImplementedError):
                ok_bounds = False
        value_counts[name] = nv
        if ok_nulls:
            nulls[name] = nc
        if ok_bounds and lo is not None:
            bounds[name] = (lo, hi)
    return nrows, bounds, nulls, value_counts


def _footer_stats(path: str, data_cols: list[str]) -> tuple[str, int]:
    """(add.stats JSON string, numRecords) for a Delta ``add``."""
    nrows, bounds, nulls, _nv = footer_column_stats(path, data_cols)
    mins: dict = {}
    maxs: dict = {}
    for name, (lo, hi) in bounds.items():
        jlo, jhi = _stat_json_value(lo), _stat_json_value(hi)
        if jlo is not None and jhi is not None:
            mins[name] = jlo
            maxs[name] = jhi
    stats = {
        "numRecords": nrows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }
    return json.dumps(stats, separators=(",", ":")), nrows


def _stage_and_collect(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    version: int,
    max_records_per_file: int | None,
    colocate: bool,
    sort_within: list | None = None,
) -> tuple[list[dict], int]:
    """Land ``df`` as data files under the table root and return (add
    actions, total rows).  ``colocate`` repartitions by the partition
    columns so every partition value lands in exactly ONE task → one
    file per value per ``max_records_per_file`` window (deterministic
    layout, the property the audit oracles count on).  A caller that
    already partitioned its DataFrame passes colocate=False and keeps
    its own layout."""
    out = df
    sort_cols = [
        c if not isinstance(c, str) else F.col(c) for c in (sort_within or [])
    ]
    if partition_by and colocate:
        out = out.repartition(*[F.col(c) for c in partition_by])
    elif sort_cols and colocate:
        # UNPARTITIONED clustering rewrite: hash-colocating is a no-op
        # here, and local sorts alone leave every task's files spanning
        # its full (overlapping) input range — range-partition on the
        # sort keys so files are disjoint GLOBALLY, not just within a
        # task (a per-task sort alone delivers overlapping min/max)
        out = out.repartitionByRange(*sort_cols)
    if sort_within:
        # clustering layout: rows sort within each task on
        # (partition cols, sort keys) so every emitted file covers a
        # CONTIGUOUS key range — maxRecordsPerFile then slices the
        # sorted run, making footer min/max DISJOINT across a
        # partition's files (the zone-map-friendly rewrite the
        # zone_map_skipping_audit motivates)
        out = out.sortWithinPartitions(
            *[F.col(c) for c in partition_by], *sort_cols
        )
    data_cols = [c for c in df.columns if c not in partition_by]
    adds: list[dict] = []
    total_rows = 0
    for f in staging.land_parquet(
        spark,
        out,
        table_path,
        prefix="part",
        version=version,
        partition_by=partition_by,
        max_records_per_file=max_records_per_file,
    ):
        missing = [c for c in partition_by if c not in f.partition]
        if missing:
            raise LF.LakeFormatError(
                f"landed file {f.path} lacks partition dirs for {missing}"
            )
        stats, nrows = _footer_stats(f.abspath, data_cols)
        total_rows += nrows
        adds.append(
            {
                "path": f.path,
                "partitionValues": f.partition,
                "size": f.size,
                "modificationTime": f.mtime_ms,
                "dataChange": True,
                "stats": stats,
            }
        )
    return adds, total_rows


def _cdf_enabled(snap: dict) -> bool:
    return (
        str(snap.get("configuration", {}).get("delta.enableChangeDataFeed", ""))
        .lower()
        == "true"
    )


def _table_constraints(config: dict | None) -> dict[str, str]:
    """name → CHECK expression from ``delta.constraints.*`` table
    configuration (the protocol's checkConstraints feature)."""
    pre = "delta.constraints."
    return {
        k[len(pre):]: v
        for k, v in (config or {}).items()
        if k.startswith(pre)
    }


def _enforce_write_checks(
    df: DataFrame,
    config: dict | None,
    gen: dict[str, str] | None,
    op: str,
) -> None:
    """CHECK constraints + generated-column equality in ONE aggregate
    pass (separate collects would re-execute the merge join once per
    gate).  SQL CHECK semantics: a row violates a constraint
    only when the expression evaluates FALSE — NULL passes; a provided
    generated value violates when it differs null-safely from its
    expression.  Zero cost when the table declares neither; the error
    names every violated rule with its expression and row count."""
    cons = _table_constraints(config)
    gen = gen or {}
    if not cons and not gen:
        return
    aggs = []
    for i, (n, e) in enumerate(sorted(cons.items())):
        aggs.append(
            F.sum(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
            ).alias(f"__c{i}")
        )
    for i, (c, e) in enumerate(sorted(gen.items())):
        aggs.append(
            F.sum(
                F.when(
                    ~F.col(c).eqNullSafe(
                        F.expr(e).cast(df.schema[c].dataType)
                    ),
                    1,
                ).otherwise(0)
            ).alias(f"__g{i}")
        )
    row = df.agg(*aggs).collect()[0]
    msgs = []
    for i, (n, e) in enumerate(sorted(cons.items())):
        c = int(row[f"__c{i}"] or 0)
        if c > 0:
            msgs.append(
                f"{op} violates CHECK constraint(s): "
                f"{n!r} CHECK ({e}) — {c} row(s)"
            )
    for i, (c_name, e) in enumerate(sorted(gen.items())):
        c = int(row[f"__g{i}"] or 0)
        if c > 0:
            msgs.append(
                f"{op} provides values for generated column(s) that "
                f"differ from their generation expression: "
                f"{c_name!r} = ({e}) — {c} row(s)"
            )
    if msgs:
        raise DeltaConstraintViolationError("; ".join(msgs))


def _enforce_constraints(df: DataFrame, config: dict | None, op: str) -> None:
    _enforce_write_checks(df, config, None, op)


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> dict:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr): every EXISTING
    row must already satisfy the expression (one distributed scan —
    production refuses the ALTER otherwise), then a metaData commit
    records ``delta.constraints.<name>`` and the protocol rises to the
    checkConstraints feature — legacy writer version 3, or
    'checkConstraints' appended to writerFeatures when the table is
    already on table-features (7).  Readers are unaffected; every
    subsequent write/merge through this writer enforces the check."""
    snap = LF.delta_snapshot(table_path)
    key = f"delta.constraints.{name}"
    if key in snap["configuration"]:
        raise LF.LakeFormatError(
            f"constraint {name!r} already exists on {table_path}"
        )
    live = LF.read_delta_snapshot(spark, table_path)
    _enforce_constraints(live, {key: expr}, "ADD CONSTRAINT")
    cfg = dict(snap["configuration"])
    cfg[key] = expr
    actions: list[dict] = [
        _commit_info("ADD CONSTRAINT", {"name": name, "expr": expr})
    ]
    proto = snap.get("protocol") or {}
    mw = int(proto.get("minWriterVersion") or 2)
    if mw >= 7:
        wf = sorted(
            set(proto.get("writerFeatures") or []) | {"checkConstraints"}
        )
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": int(proto.get("minReaderVersion") or 1),
                    "minWriterVersion": 7,
                    "readerFeatures": proto.get("readerFeatures"),
                    "writerFeatures": wf,
                }
            }
        )
    elif mw < 3:
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": int(proto.get("minReaderVersion") or 1),
                    "minWriterVersion": 3,
                }
            }
        )
    actions.append(
        {
            "metaData": {
                "id": snap["meta_id"],
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(snap["schema"].jsonValue()),
                "partitionColumns": list(snap["partition_columns"]),
                "configuration": cfg,
            }
        }
    )
    version = snap["version"] + 1
    _commit(table_path, version, actions)
    return {"version": version, "name": name, "expr": expr}


def _stage_cdc(
    spark: SparkSession,
    rows: DataFrame,
    table_path: str,
    partition_by: list[str],
    version: int,
) -> list[dict]:
    """Write CHANGE DATA FILES for one commit (PROTOCOL.md: parquet
    under ``_change_data/`` carrying the table's data columns plus a
    physical ``_change_type`` string; partition values live in the
    ``cdc`` action, not the file) and return the cdc actions.  The
    write is the same distributed staged write as the data files —
    change rows are data-scale, never driver-side."""
    if partition_by:
        rows = rows.repartition(*[F.col(c) for c in partition_by])
    return [
        {
            "cdc": {
                "path": f.path,
                "partitionValues": f.partition,
                "size": f.size,
                "dataChange": False,
            }
        }
        for f in staging.land_parquet(
            spark,
            rows,
            table_path,
            prefix="cdc",
            version=version,
            subdir="_change_data",
            partition_by=partition_by,
        )
    ]


def _validate_partition_types(schema: T.StructType, partition_by: list[str]):
    for c in partition_by:
        if c not in schema.fieldNames():
            raise LF.LakeFormatError(f"partition column {c!r} not in schema")
        dt = schema[c].dataType
        if not isinstance(
            dt,
            (
                T.StringType,
                T.IntegerType,
                T.LongType,
                T.ShortType,
                T.ByteType,
                T.DateType,
                T.BooleanType,
            ),
        ):
            raise LF.LakeFormatGatedError(
                f"partition column {c!r} has type {dt.simpleString()} — "
                "this writer partitions on string/integral/date/boolean "
                "columns only (their path form round-trips exactly)"
            )


def _check_path_safe_partitions(adds: list[dict]) -> None:
    for a in adds:
        for col, val in a["partitionValues"].items():
            if val is not None and not set(val) <= _PATH_SAFE:
                raise LF.LakeFormatGatedError(
                    f"partition value {val!r} for column {col!r} needs "
                    "path escaping — write with a sanitized partition "
                    "column (escaping round-trip not implemented)"
                )


# ------------------------------------------------------------------
# write (append / overwrite / replaceWhere)
# ------------------------------------------------------------------


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    *,
    mode: str = "append",
    partition_by: list[str] | tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    colocate: bool = True,
    replace_where: list | None = None,
    configuration: dict[str, str] | None = None,
    txn: tuple[str, int] | None = None,
    data_change: bool = True,
    merge_schema: bool = False,
    generated: dict[str, str] | None = None,
) -> dict:
    """Write ``df`` as a Delta commit.  Returns an audit dict
    {"version", "files_added", "files_removed", "rows_written"}.

    ``generated`` (CREATE-time only): column → SQL generation
    expression, stored as ``delta.generationExpression`` field
    metadata (protocol writer version 4).  On every write the column
    COMPUTES when the frame lacks it and VALIDATES exactly (null-safe)
    when provided — the classic use is a generated PARTITION column
    (e.g. ``{"o_year": "year(o_orderdate)"}``) so time-derived
    partition pruning works without the writer trusting callers.

    - ``mode="append"``: add files (schema must match the table's).
    - ``mode="overwrite"``: remove every live file, add the new ones.
    - ``replace_where`` (with mode="overwrite"): a conjunction of
      ``(partition_column, op, value)`` terms — only live files whose
      partitionValues PROVABLY satisfy every term are replaced, and
      every incoming file must satisfy them too (the classic
      partition-overwrite contract).  Terms on non-partition columns
      gate: row-level replaceWhere would silently drop rows this
      writer never scanned.
    - ``txn=(app_id, version)``: records an idempotent-append marker;
      use ``last_txn_version`` to skip replayed batches.
    - ``merge_schema``: SCHEMA EVOLUTION — incoming columns the table
      lacks append to the schema (old files read them as NULL, no
      rewrite: the read path scans every file with the evolved
      schema); table columns the incoming frame lacks fill NULL in
      the new files and force the field nullable.  Shared columns
      must keep their exact type — silent type coercion is the
      corruption this writer exists to refuse.
    """
    from . import skipping

    partition_by = list(partition_by)
    if mode not in ("append", "overwrite"):
        raise LF.LakeFormatError(f"unsupported write mode {mode!r}")
    if replace_where is not None and mode != "overwrite":
        raise LF.LakeFormatError("replace_where requires mode='overwrite'")

    latest = _table_version(table_path)
    snap: dict | None = None
    gen_checks: dict[str, str] = {}  # provided generated cols to verify
    if generated:
        if latest is not None:
            raise LF.LakeFormatError(
                "generated= is a CREATE-time option — the expressions "
                "live in the table schema afterwards"
            )
        gen_checks = {c: e for c, e in generated.items() if c in df.columns}
        for col, expr in generated.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
    if latest is not None:
        snap = LF.delta_snapshot(table_path)
        if snap["column_mapping_mode"] != "none":
            raise LF.LakeFormatGatedError(
                "writing to a column-mapped table is not implemented — "
                "the writer would have to emit PHYSICAL column names"
            )
        _gate_unenforced_invariants(snap["schema"])
        # generated columns compute/validate BEFORE partition-type
        # validation — the generated PARTITION column is the feature's
        # whole point, and an incoming frame legitimately lacks it
        gen_map = _generation_exprs(snap["schema"])
        if gen_map:
            gen_checks = {
                c: e for c, e in gen_map.items() if c in df.columns
            }
            for col, expr in gen_map.items():
                if col not in df.columns:
                    df = df.withColumn(
                        col, F.expr(expr).cast(snap["schema"][col].dataType)
                    )
            if set(df.columns) == set(snap["schema"].fieldNames()):
                # withColumn appends the computed column LAST; the
                # logical fingerprint is order-sensitive, so re-project
                # into table order (a generated column created in a
                # non-terminal position would fail every
                # column-omitting append)
                df = df.select(*snap["schema"].fieldNames())
    schema = df.schema
    _validate_partition_types(schema, partition_by)
    removes: list[dict] = []
    actions: list[dict] = [
        _commit_info(
            "WRITE",
            {"mode": mode.upper(), "partitionBy": partition_by},
        )
    ]
    if latest is None:
        version = 0
        # a table BORN with delta.constraints.* must declare the
        # checkConstraints writer feature (version 3) from commit 0 —
        # at version 2 a spec-compliant external writer would append
        # violating rows without ever checking; the
        # legacy ladder is cumulative, so generated columns need 4
        writer_v = 2
        if _table_constraints(configuration):
            writer_v = 3
        if generated:
            writer_v = 4
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": writer_v}}
        )
        schema_json = schema.jsonValue()
        for fj in schema_json.get("fields", []):
            # a created table's columns are nullable, as Delta's own
            # DataFrame writers store them: the table's rows read back
            # nullable, and must overwrite the table they came from
            fj["nullable"] = True
            if generated and fj["name"] in generated:
                fj.setdefault("metadata", {})
                fj["metadata"]["delta.generationExpression"] = generated[
                    fj["name"]
                ]
        actions.append(
            {
                "metaData": {
                    "id": str(
                        _uuid.UUID(
                            bytes=hashlib.sha256(
                                os.path.abspath(table_path).encode()
                            ).digest()[:16]
                        )
                    ),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema_json),
                    "partitionColumns": partition_by,
                    "configuration": dict(configuration or {}),
                    "createdTime": _now_ms(),
                }
            }
        )
    else:
        version = latest + 1
        if not _append_compatible(snap["schema"], schema):
            if not merge_schema:
                raise LF.LakeFormatGatedError(
                    "incoming schema differs from the table schema — pass "
                    "merge_schema=True for evolution, or align the "
                    f"DataFrame (table: {snap['schema'].simpleString()}, "
                    f"incoming: {schema.simpleString()})"
                )
            schema, df = _evolve_schema(snap["schema"], df)
            evolved_meta = {
                "metaData": {
                    "id": snap["meta_id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema.jsonValue()),
                    "partitionColumns": snap["partition_columns"],
                    "configuration": dict(snap["configuration"]),
                }
            }
            actions.append(evolved_meta)
        if partition_by != snap["partition_columns"]:
            raise LF.LakeFormatError(
                f"partition_by {partition_by} != table partitioning "
                f"{snap['partition_columns']}"
            )
        if mode == "overwrite":
            victims = snap["files"]
            if replace_where is not None:
                pcols = set(snap["partition_columns"])
                bad = [t for t in replace_where if t[0] not in pcols]
                if bad:
                    raise LF.LakeFormatGatedError(
                        f"replace_where terms on non-partition columns {bad} "
                        "— only partition-predicate overwrite is supported"
                    )
                skipping.validate_predicate(
                    replace_where, [f.name for f in snap["schema"].fields]
                )
                dtypes = skipping.dtype_map(snap["schema"])
                victims = [
                    f
                    for f in snap["files"]
                    if _pv_satisfies(
                        f,
                        snap["partition_columns"],
                        replace_where,
                        dtypes,
                        skipping,
                    )
                ]
            now = _now_ms()
            removes = [_remove_action(f, now) for f in victims]

    # CHECK constraints + provided-generated-value checks enforce in
    # ONE aggregate pass BEFORE anything stages — a violating batch
    # must leave no trace (zero cost when the table declares neither)
    _enforce_write_checks(
        df,
        dict(configuration or {}) if latest is None else snap["configuration"],
        gen_checks,
        "WRITE",
    )
    adds, rows = _stage_and_collect(
        spark, df, table_path, partition_by, version,
        max_records_per_file, colocate,
    )
    _check_path_safe_partitions(adds)
    if replace_where is not None and adds:
        dtypes = skipping.dtype_map(schema)
        for a in adds:
            if not _pv_satisfies(
                {"partitionValues": a["partitionValues"]},
                partition_by,
                replace_where,
                dtypes,
                skipping,
            ):
                raise LF.LakeFormatError(
                    f"replace_where violation: staged file {a['path']} has "
                    f"partitionValues {a['partitionValues']} outside the "
                    "replaced predicate — refusing a lossy overwrite"
                )
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": str(txn[0]),
                    "version": int(txn[1]),
                    "lastUpdated": _now_ms(),
                }
            }
        )
    actions.extend(removes)
    for a in adds:
        if not data_change:
            a = dict(a, dataChange=False)
        actions.append({"add": a})
    _commit(table_path, version, actions)
    return {
        "version": version,
        "files_added": len(adds),
        "files_removed": len(removes),
        "rows_written": rows,
    }


def _evolve_schema(
    table_schema: T.StructType, df: DataFrame
) -> tuple[T.StructType, DataFrame]:
    """mergeSchema semantics: table fields first (a field the incoming
    frame lacks fills NULL and becomes nullable), then the incoming
    frame's NEW fields (nullable — old files read them as NULL).
    Shared fields must keep their EXACT type; silent coercion gates."""
    incoming = {f.name: f for f in df.schema.fields}
    fields: list[T.StructField] = []
    for f in table_schema.fields:
        inc = incoming.get(f.name)
        # the TABLE field's metadata rides along — dropping it erased
        # delta.generationExpression from the committed schemaString on
        # every merge_schema append to a generated table
        if inc is None:
            fields.append(
                T.StructField(f.name, f.dataType, True, f.metadata)
            )
        else:
            if inc.dataType != f.dataType:
                raise LF.LakeFormatGatedError(
                    f"column {f.name!r} type mismatch under merge_schema "
                    f"(table: {f.dataType.simpleString()}, incoming: "
                    f"{inc.dataType.simpleString()}) — no silent coercion"
                )
            fields.append(
                T.StructField(
                    f.name, f.dataType, f.nullable or inc.nullable, f.metadata
                )
            )
    table_names = set(table_schema.fieldNames())
    for f in df.schema.fields:
        if f.name not in table_names:
            fields.append(T.StructField(f.name, f.dataType, True))
    evolved = T.StructType(fields)
    out = df.select(
        *[
            F.col(f.name)
            if f.name in incoming
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in evolved.fields
        ]
    )
    return evolved, out


def _pv_satisfies(f: dict, pcols: list[str], predicate, dtypes, skipping) -> bool:
    """True iff the file's partitionValues satisfy EVERY term, decided
    EXACTLY (a partition column is one literal per file, so per-file
    might-match and all-rows-match coincide) — and loudly when they
    cannot be decided (an un-coercible stored value would otherwise be
    kept 'conservatively', which for OVERWRITE victims means silently
    deleting rows the predicate never named)."""
    pv = f.get("partitionValues") or {}
    for col, op, value in predicate:
        raw = pv.get(col)
        if raw is None:
            if op == "is_null":
                continue
            return False  # null partition value: no comparison matches
        actual = skipping._coerce(dtypes[col], raw)
        if actual is None:
            raise LF.LakeFormatGatedError(
                f"partitionValues[{col!r}] = {raw!r} does not coerce to "
                f"{dtypes[col].simpleString()} — cannot decide the "
                "replace_where predicate exactly; refusing to overwrite"
            )
        try:
            if op == "=":
                ok = actual == value
            elif op == "<":
                ok = actual < value
            elif op == "<=":
                ok = actual <= value
            elif op == ">":
                ok = actual > value
            elif op == ">=":
                ok = actual >= value
            elif op == "in":
                ok = actual in set(value)
            elif op == "is_null":
                ok = False
            elif op == "is_not_null":
                ok = True
            else:
                raise LF.LakeFormatError(f"unknown op {op!r}")
        except TypeError as e:
            raise LF.LakeFormatGatedError(
                f"replace_where term ({col!r}, {op!r}, {value!r}) is not "
                f"comparable against stored value {actual!r}: {e}"
            ) from e
        if not ok:
            return False
    return True


# ------------------------------------------------------------------
# internal DV-aware scan with file identity
# ------------------------------------------------------------------


def _scan_with_fp(
    spark: SparkSession, table_path: str, snap: dict, files: list[dict]
) -> DataFrame:
    """``files`` (a subset of the snapshot's live set) as a DataFrame
    with every table column plus ``__fp`` (absolute file path) and
    ``__pos`` (row index within the file), existing deletion vectors
    already applied.  Column-mapped tables gate (the write path does
    not author them)."""
    if snap["column_mapping_mode"] != "none":
        raise LF.LakeFormatGatedError(
            "write-path scans do not support column-mapped tables"
        )
    schema: T.StructType = snap["schema"]
    pcols = snap["partition_columns"]
    data_fields = [f for f in schema.fields if f.name not in pcols]
    read_schema = T.StructType(data_fields)
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for f in files:
        ap = os.path.abspath(os.path.join(table_path, f["path"]))
        pkey = tuple(f["partitionValues"].get(c) for c in pcols)
        groups.setdefault(pkey, []).append((ap, f))
    out_names = [f.name for f in schema.fields] + ["__fp", "__pos"]
    parts = []
    # keys join against _metadata.file_path → ENCODED rendering
    dv_positions: dict[str, list[int]] = {}
    for pkey, members in sorted(
        groups.items(), key=lambda kv: tuple((v is None, v) for v in kv[0])
    ):
        paths = [ap for ap, _f in members]
        for ap, f in members:
            dv = f.get("deletionVector")
            if dv:
                dv_positions[LF._uri_path(ap)] = LF._dv_positions(
                    table_path, dv
                )
        part = (
            spark.read.schema(read_schema)
            .parquet(*paths)
            .select(
                *[F.col(f.name) for f in data_fields],
                LF._norm_uri(F.col("_metadata.file_path")).alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        )
        for c, val in zip(pcols, pkey):
            part = part.withColumn(c, F.lit(val).cast(schema[c].dataType))
        parts.append(part.select(*out_names))
    if not parts:
        empty = T.StructType(
            schema.fields
            + [
                T.StructField("__fp", T.StringType()),
                T.StructField("__pos", T.LongType()),
            ]
        )
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if dv_positions:
        rows = [
            (fp, pos) for fp, positions in dv_positions.items()
            for pos in positions
        ]
        dels = spark.createDataFrame(rows, "__dfp string, __dpos long")
        out = out.join(
            F.broadcast(dels),
            (out["__fp"] == dels["__dfp"]) & (out["__pos"] == dels["__dpos"]),
            "left_anti",
        )
    return out


# ------------------------------------------------------------------
# DELETE via deletion vectors
# ------------------------------------------------------------------

_DV_PROTOCOL = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
}

# blobs at or under this size inline into the log ('i' storage) —
# the same small-DV shortcut production writers take
_DV_INLINE_MAX = 64


def delete_delta(
    spark: SparkSession, table_path: str, predicate: list
) -> dict:
    """DELETE FROM ``table_path`` WHERE ``predicate`` (a conjunction of
    ``(column, op, value)`` terms — the same grammar the read-side
    skipping takes), implemented the modern way: deletion VECTORS, not
    file rewrites.

    Physical plan: stats/partition pruning picks candidate files (a
    file the predicate provably misses is never scanned); candidates
    scan WITH ``_metadata.row_index``; matching positions aggregate
    executor-side into per-file roaring bitmaps (``applyInPandas`` —
    the driver only ever sees O(#files) encoded blobs); files whose
    every live row matched become plain removes; the rest re-add with
    a DV descriptor (merged with any existing DV, since a new DV
    REPLACES the old one wholesale per the protocol)."""
    from . import skipping

    snap = LF.delta_snapshot(table_path)
    if snap["column_mapping_mode"] != "none":
        raise LF.LakeFormatGatedError(
            "DELETE on column-mapped tables is not implemented"
        )
    skipping.validate_predicate(
        predicate, [f.name for f in snap["schema"].fields]
    )
    candidates, _skipped = LF.prune_delta_files(snap, predicate)
    audit = {
        "files_total": len(snap["files"]),
        "files_scanned": len(candidates),
        "files_removed": 0,
        "files_rewritten_dv": 0,
        "rows_deleted": 0,
        "version": None,
    }
    if not candidates:
        return audit  # nothing can match: no commit, delete is a no-op

    scan = _scan_with_fp(spark, table_path, snap, candidates)
    flt = scan.filter(skipping.predicate_column(predicate))
    cdf_on = _cdf_enabled(snap)
    if cdf_on:
        # the filtered scan feeds BOTH the bitmap encode and the CDC
        # staging write — pin it so the candidate files are read once,
        # not once per consumer (CDF would double the delete cost)
        flt = flt.persist()
    matched = flt.select("__fp", "__pos")

    # existing DVs must fold into the replacement DV (the protocol
    # replaces, never merges); ship the old positions into the task
    old_positions: dict[str, list[int]] = {}
    by_abs: dict[str, dict] = {}  # ENCODED __fp rendering → file dict
    for f in candidates:
        enc = LF._uri_path(os.path.abspath(os.path.join(table_path, f["path"])))
        by_abs[enc] = f
        dv = f.get("deletionVector")
        if dv:
            old_positions[enc] = LF._dv_positions(table_path, dv)
    sc_old = spark.sparkContext.broadcast(old_positions)

    def _encode_group(_key, pdf):
        # one group = one file; positions → roaring bitmap blob,
        # encoded IN the task — the driver only sees the opaque bytes
        import pandas as _pd

        from dbt_json_readr_spark.sources import roaring as _r

        fp = pdf["__fp"].iloc[0]
        prior = set(sc_old.value.get(fp, []))
        new = set(int(p) for p in pdf["__pos"].tolist())
        positions = sorted(prior | new)
        blob = _r.encode_dv_blob(positions)
        return _pd.DataFrame(
            {
                "fp": [fp],
                "blob": [blob],
                "cardinality": [len(positions)],
                "new_deletes": [len(new - prior)],
            }
        )

    enc_schema = (
        "fp string, blob binary, cardinality long, new_deletes long"
    )
    encoded = (
        matched.groupBy("__fp")
        .applyInPandas(_encode_group, enc_schema)
        .collect()
    )
    if not encoded:
        if cdf_on:
            flt.unpersist()
        return audit

    now = _now_ms()
    actions: list[dict] = [
        _commit_info("DELETE", {"predicate": repr(predicate)})
    ]
    # protocol from the replayed STATE (checkpoint-aware), not a
    # retained-JSON scan — after log cleanup the scan forgets the
    # upgrade (re-emitting it is merely redundant, but stay exact)
    feats = (snap.get("protocol") or {}).get("readerFeatures") or []
    if "deletionVectors" not in feats:
        actions.append(_DV_PROTOCOL)

    rewrites: list[tuple[dict, bytes, int]] = []  # (file, blob, card)
    for row in sorted(encoded, key=lambda r: r["fp"]):
        f = by_abs[row["fp"]]
        nrec = _physical_rows(table_path, f)
        audit["rows_deleted"] += int(row["new_deletes"])
        if nrec is not None and int(row["cardinality"]) >= nrec:
            # every physical row deleted: the file leaves the table
            # whole — no point carrying a full-coverage DV
            actions.append(_remove_action(f, now))
            audit["files_removed"] += 1
        else:
            rewrites.append((f, bytes(row["blob"]), int(row["cardinality"])))

    # small DVs inline into the log ('i'); the rest share ONE DV file
    # per commit ('u'), named deterministically from the content hash
    file_backed = [(f, b, c) for f, b, c in rewrites if len(b) > _DV_INLINE_MAX]
    descs_by_path: dict[str, dict] = {}
    if file_backed:
        digest = hashlib.sha256(b"".join(b for _f, b, _c in file_backed)).digest()
        uid = _uuid.UUID(bytes=digest[:16])
        offsets = roaring.write_dv_file_blobs(
            os.path.join(table_path, f"deletion_vector_{uid}.bin"),
            [b for _f, b, _c in file_backed],
        )
        for (f, _b, card), (offset, size) in zip(file_backed, offsets):
            descs_by_path[f["path"]] = {
                "storageType": "u",
                "pathOrInlineDv": roaring.z85_encode(uid.bytes),
                "offset": offset,
                "sizeInBytes": size,
                "cardinality": card,
            }
    for f, blob, card in rewrites:
        desc = descs_by_path.get(f["path"])
        if desc is None:
            padded = blob + b"\x00" * (-len(blob) % 4)
            desc = {
                "storageType": "i",
                "pathOrInlineDv": roaring.z85_encode(padded),
                "sizeInBytes": len(blob),
                "cardinality": card,
            }
        actions.append(_remove_action(f, now))
        actions.append(
            {
                "add": {
                    "path": f["path"],
                    "partitionValues": f["partitionValues"],
                    "size": os.path.getsize(os.path.join(table_path, f["path"])),
                    "modificationTime": now,
                    "dataChange": True,
                    "stats": f.get("stats"),
                    "deletionVector": desc,
                }
            }
        )
        audit["files_rewritten_dv"] += 1

    # commit at snapshot_version + 1, NOT a re-read of latest: the
    # put-if-absent CAS only detects a concurrent commit if we target the
    # version our plan was derived from (a re-read would let a delete
    # silently re-add a file another writer had just compacted)
    version = snap["version"] + 1
    if cdf_on:
        # CHANGE DATA FILES (PROTOCOL.md): with CDF on, the deleted
        # rows themselves land under _change_data so readers get
        # row-level deletes instead of gating on (or deriving
        # whole-file churn from) the DV rewrite
        try:
            del_rows = flt.drop("__fp", "__pos").withColumn(
                "_change_type", F.lit("delete")
            )
            actions.extend(
                _stage_cdc(
                    spark,
                    del_rows,
                    table_path,
                    snap["partition_columns"],
                    version,
                )
            )
        finally:
            flt.unpersist()
    _commit(table_path, version, actions)
    audit["version"] = version
    return audit


def _physical_rows(table_path: str, f: dict) -> int | None:
    """numRecords from add.stats, else one footer read, else None."""
    stats = f.get("stats")
    if isinstance(stats, str):
        try:
            n = json.loads(stats).get("numRecords")
            if n is not None:
                return int(n)
        except (ValueError, TypeError):
            pass
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            os.path.join(table_path, f["path"])
        ).metadata.num_rows
    except Exception:
        return None


# ------------------------------------------------------------------
# MERGE (upsert)
# ------------------------------------------------------------------


def merge_delta(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
) -> dict:
    """MERGE INTO ``table_path`` USING ``source`` ON key equality —
    WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * (the upsert
    core; conditional clauses compose on top).

    Physical plan (copy-on-write): touched files = distinct files
    holding a matched key (a key-cardinality semi-join — never a
    table rewrite); those files' live rows re-emit with source values
    winning on match; inserts append; untouched files are untouched.
    Duplicate source keys gate loudly — SQL MERGE declares that
    nondeterministic, this writer refuses it."""
    snap = LF.delta_snapshot(table_path)
    schema: T.StructType = snap["schema"]
    _gate_unenforced_invariants(schema)
    if set(source.columns) != set(schema.fieldNames()):
        raise LF.LakeFormatError(
            f"MERGE source columns {sorted(source.columns)} != table "
            f"columns {sorted(schema.fieldNames())}"
        )
    for k in on:
        if k not in schema.fieldNames():
            raise LF.LakeFormatError(f"merge key {k!r} not in table schema")

    src = source.select(*schema.fieldNames())
    # same logical-schema gate as write_delta: a name-only
    # check lets a string-typed source coerce the rewrite output away
    # from the table's schemaString — silent nulls on later reads
    if not _append_compatible(schema, src.schema):
        raise LF.LakeFormatGatedError(
            "MERGE source schema differs from the table schema — align "
            f"types/nullability (table: {schema.simpleString()}, "
            f"source: {src.schema.simpleString()})"
        )
    dup = src.groupBy(*on).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise LF.LakeFormatError(
            "MERGE source has duplicate join keys — the protocol makes "
            "multi-match updates nondeterministic; dedup the source first"
        )
    src = src.persist()
    pinned: list[DataFrame] = []
    try:
        scan = _scan_with_fp(spark, table_path, snap, snap["files"])
        touched_rows = scan.join(
            src.select(*on), on=on, how="left_semi"
        )
        touched_files = [
            r["__fp"] for r in touched_rows.select("__fp").distinct().collect()
        ]
        by_abs = {
            LF._uri_path(os.path.abspath(os.path.join(table_path, f["path"]))): f
            for f in snap["files"]
        }
        rel_touched = [by_abs[fp]["path"] for fp in touched_files]

        # rewrite set: live rows of touched files, source values win
        tfiles = [by_abs[fp] for fp in touched_files]
        updates_base = (
            _scan_with_fp(spark, table_path, snap, tfiles)
            .drop("__fp", "__pos")
            if tfiles
            else None
        )
        inserts = src.join(
            scan.select(*on), on=on, how="left_anti"
        )
        joined = None
        if updates_base is not None:
            s_alias = src.withColumn("__m", F.lit(True)).alias("s")
            t_alias = updates_base.alias("t")
            cond = None
            for k in on:
                term = F.col(f"t.{k}") == F.col(f"s.{k}")
                cond = term if cond is None else cond & term
            # a coalesce(s.c, t.c) merge would resurrect target values
            # under NULL source updates; matched rows take source
            # values VERBATIM, keyed on an explicit match flag
            joined = t_alias.join(s_alias, cond, "left")
            merged = joined.select(
                *[
                    F.when(F.col("__m").isNotNull(), F.col(f"s.{c}"))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                    for c in schema.fieldNames()
                ]
            )
            new_rows = merged.unionByName(inserts)
        else:
            new_rows = inserts

        version = snap["version"] + 1
        # constraints + generated-column checks in ONE pass BEFORE any
        # staging — _stage_cdc lands change-data files in _change_data/
        # under final names, so a post-staging refusal would leak a
        # full distributed CDC write per refused MERGE
        _enforce_write_checks(
            new_rows, snap["configuration"], _generation_exprs(schema), "MERGE"
        )
        cdc_actions: list[dict] = []
        if _cdf_enabled(snap):
            # under CDF the join feeds THREE sinks (merged data write,
            # preimage, postimage) and inserts feed two — pin both so
            # the touched files and the source are scanned once, not
            # once per consumer (CDF would triple the merge cost)
            if joined is not None:
                joined = joined.persist()
                pinned.append(joined)
            inserts = inserts.persist()
            pinned.append(inserts)
            # CHANGE DATA FILES: matched rows contribute an
            # update_preimage (target values) and update_postimage
            # (source values) pair; unmatched source rows are inserts;
            # COPIED rows of rewritten files are not changes
            ct = "_change_type"
            cdc_rows = inserts.withColumn(ct, F.lit("insert"))
            if joined is not None:
                m = joined.filter(F.col("__m").isNotNull())
                pre = m.select(
                    *[F.col(f"t.{c}").alias(c) for c in schema.fieldNames()]
                ).withColumn(ct, F.lit("update_preimage"))
                post = m.select(
                    *[F.col(f"s.{c}").alias(c) for c in schema.fieldNames()]
                ).withColumn(ct, F.lit("update_postimage"))
                cdc_rows = cdc_rows.unionByName(pre).unionByName(post)
            cdc_actions = _stage_cdc(
                spark, cdc_rows, table_path, snap["partition_columns"], version
            )
        adds, rows = _stage_and_collect(
            spark,
            new_rows.select(*schema.fieldNames()),
            table_path,
            snap["partition_columns"],
            version,
            None,
            True,
        )
        _check_path_safe_partitions(adds)
        now = _now_ms()
        actions: list[dict] = [
            _commit_info("MERGE", {"on": on})
        ]
        for rel in sorted(rel_touched):
            f = next(x for x in snap["files"] if x["path"] == rel)
            actions.append(_remove_action(f, now))
        actions.extend({"add": a} for a in adds)
        actions.extend(cdc_actions)
        _commit(table_path, version, actions)
        return {
            "version": version,
            "files_rewritten": len(rel_touched),
            "files_added": len(adds),
            "rows_written": rows,
        }
    finally:
        src.unpersist()
        for p in pinned:
            p.unpersist()


# ------------------------------------------------------------------
# OPTIMIZE (compaction)
# ------------------------------------------------------------------


_ZORDER_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _zorder_expr(
    cols: list[str], mins: list, maxs: list, bits: int
) -> "F.Column":
    """The Z-VALUE of a row: each column maps to a value-proportional
    ``bits``-bit bucket — ``((v - min) * 2^bits) div (max - min + 1)``,
    exact BIGINT arithmetic, nulls to bucket 0 — and column j
    contributes its bucket's bit i at z-bit ``i * n_cols + j`` (the
    textbook interleave, generalized to n columns).  Proportional
    bucketing trades equi-depth balance under skew for a formula that
    is one distributed min/max pass (production Z-order samples range
    boundaries instead) and exactly replayable by an independent SQL
    oracle.  Entirely JVM-side shift/and/or — no UDFs."""
    z = F.lit(0).cast("long")
    n = len(cols)
    for j, c in enumerate(cols):
        mn = 0 if mins[j] is None else int(mins[j])
        mx = mn if maxs[j] is None else int(maxs[j])
        span = max(1, mx - mn + 1)
        # ((v - mn) * 2^bits) runs in BIGINT on the executors: the
        # multiply overflows once (span-1)·2^bits exceeds 2^63-1 — an
        # ANSI throw mid-OPTIMIZE, a silently broken interleave
        # otherwise.  Gate exactly at the formula's true ceiling, so
        # the message's claimed range is the range that works.
        if span - 1 > ((2**63 - 1) >> bits):
            raise LF.LakeFormatGatedError(
                f"zorder column {c!r} spans [{mn}, {mx}] — wider than "
                f"the exact-BIGINT bucket formula supports at "
                f"bits={bits} (max span 2^{63 - bits}); lower "
                "zorder_bits or pre-scale the column"
            )
        b = F.expr(
            f"CAST(((coalesce({c}, {mn}) - ({mn})) * {1 << bits}) "
            f"div {span} AS BIGINT)"
        )
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> dict:
    """Bin-pack every multi-file partition into one file and apply
    outstanding deletion vectors physically.  ``dataChange: false`` —
    the logical table is identical, so CDF readers and downstream
    incremental consumers correctly ignore the commit.

    ``sort_by`` turns compaction into a CLUSTERING rewrite (OPTIMIZE
    ZORDER's one-dimensional core): EVERY live file rewrites with rows
    sorted on the keys inside each partition, so per-file footer
    min/max become disjoint and the stats-based skipping this bridge
    writes/reads prunes range probes to the files that actually hold
    the range.

    ``zorder_by`` is the MULTI-column clustering rewrite (OPTIMIZE
    ZORDER BY): rows sort on the interleaved Z-value of the named
    integer columns (see ``_zorder_expr``), so range probes on EVERY
    named dimension prune — the property a single-key sort cannot give
    the second column.  Ties broken by the columns themselves, so the
    per-file min/max of each dimension are deterministic under the
    colocate + maxRecordsPerFile slicing contract.  Non-integer
    Z-order columns gate loudly (production samples range boundaries
    for arbitrary types; this writer's proportional buckets are
    integer-exact by design)."""
    snap = LF.delta_snapshot(table_path)
    if snap["column_mapping_mode"] != "none":
        raise LF.LakeFormatGatedError(
            "OPTIMIZE on column-mapped tables is not implemented"
        )
    if sort_by and zorder_by:
        raise LF.LakeFormatError(
            "sort_by and zorder_by are mutually exclusive"
        )
    if sort_by:
        for c in sort_by:
            if isinstance(c, str) and c not in snap["schema"].fieldNames():
                raise LF.LakeFormatError(f"sort column {c!r} not in schema")
    if zorder_by:
        by_name = {f.name: f for f in snap["schema"].fields}
        for c in zorder_by:
            if c not in by_name:
                raise LF.LakeFormatError(f"zorder column {c!r} not in schema")
            if c in snap["partition_columns"]:
                raise LF.LakeFormatError(
                    f"zorder column {c!r} is a partition column — it is "
                    "constant within every rewritten file already"
                )
            if not isinstance(by_name[c].dataType, _ZORDER_INT_TYPES):
                raise LF.LakeFormatGatedError(
                    f"zorder column {c!r} has type "
                    f"{by_name[c].dataType.simpleString()} — only integer "
                    "columns are supported (proportional buckets are "
                    "integer-exact; other types would need sampled range "
                    "boundaries)"
                )
    groups: dict[tuple, list[dict]] = {}
    pcols = snap["partition_columns"]
    for f in snap["files"]:
        pkey = tuple(f["partitionValues"].get(c) for c in pcols)
        groups.setdefault(pkey, []).append(f)
    victims: list[dict] = []
    for pkey, members in groups.items():
        if sort_by or zorder_by or len(members) > 1 or any(
            m.get("deletionVector") for m in members
        ):
            victims.extend(members)
    audit = {
        "files_before": len(snap["files"]),
        "files_compacted": len(victims),
        "files_after": len(snap["files"]),
        "version": None,
    }
    if not victims:
        return audit
    rows = (
        _scan_with_fp(spark, table_path, snap, victims)
        .drop("__fp", "__pos")
        .select(*snap["schema"].fieldNames())
    )
    sort_within: list | None = list(sort_by) if sort_by else None
    if zorder_by:
        # one distributed pass for the proportional-bucket anchors —
        # the only driver-side values are 2·n_cols scalars
        mm = rows.agg(
            *[F.min(c).alias(f"mn{i}") for i, c in enumerate(zorder_by)],
            *[F.max(c).alias(f"mx{i}") for i, c in enumerate(zorder_by)],
        ).collect()[0]
        mins = [mm[f"mn{i}"] for i in range(len(zorder_by))]
        maxs = [mm[f"mx{i}"] for i in range(len(zorder_by))]
        sort_within = [
            _zorder_expr(list(zorder_by), mins, maxs, zorder_bits)
        ] + [F.col(c) for c in zorder_by]
    version = snap["version"] + 1
    adds, _nrows = _stage_and_collect(
        spark,
        rows,
        table_path,
        pcols,
        version,
        max_records_per_file,
        True,
        sort_within=sort_within,
    )
    now = _now_ms()
    actions: list[dict] = [_commit_info("OPTIMIZE", {})]
    for f in sorted(victims, key=lambda x: x["path"]):
        actions.append(_remove_action(f, now, data_change=False))
    for a in adds:
        actions.append({"add": dict(a, dataChange=False)})
    _commit(table_path, version, actions)
    audit["files_after"] = len(snap["files"]) - len(victims) + len(adds)
    audit["version"] = version
    return audit


# ------------------------------------------------------------------
# CONVERT TO DELTA (in place)
# ------------------------------------------------------------------


def convert_to_delta(
    directory: str,
    schema: T.StructType,
    partition_by: list[str] | tuple[str, ...] = (),
) -> dict:
    """Convert a plain (optionally Hive-partitioned) parquet directory
    into a Delta table IN PLACE — the migration command: no data
    moves, commit 0 simply catalogs every existing parquet file with
    footer-derived stats and partition values parsed from its
    ``col=value`` path, so the converted table is transactional AND
    file-skippable immediately.  ``schema`` is the TABLE schema
    including partition columns (their types drive the partition-value
    parse, exactly like a reader).  Refuses directories that already
    hold a Delta log (splicing a commit 0 under survivors corrupts
    history)."""
    partition_by = list(partition_by)
    _validate_partition_types(schema, partition_by)
    root = Path(directory)
    log = root / "_delta_log"
    # hidden entries are a crashed writer's put-if-absent temp files
    if log.exists() and any(
        not p.name.startswith(".") for p in log.iterdir()
    ):
        raise LF.LakeFormatError(
            f"{log} already contains Delta log artifacts — refusing to "
            "convert an existing table; this directory is already Delta"
        )
    data_cols = [f.name for f in schema.fields if f.name not in partition_by]
    adds: list[dict] = []
    rows = 0
    for p in sorted(root.rglob("*.parquet")):
        rel = p.relative_to(root).as_posix()
        if rel.startswith(("_", ".")):
            continue
        pv = staging.hive_partition(p.parent.relative_to(root).as_posix())
        extra = [c for c in pv if c not in partition_by]
        if extra:
            # silently cataloging a=1/b=2 files under partition_by
            # =['a'] would make column b read NULL everywhere — the
            # directory is partitioned DEEPER than declared: gate,
            # never null-fill
            raise LF.LakeFormatError(
                f"{rel} carries partition directories for {extra}, "
                f"columns not in partition_by={partition_by} — the "
                "directory layout is partitioned deeper than "
                "declared; list every col=value level"
            )
        missing = [c for c in partition_by if c not in pv]
        if missing:
            raise LF.LakeFormatError(
                f"{rel} carries no partition directory for {missing} — "
                "partition_by must match the directory layout"
            )
        stats, nrows = _footer_stats(str(p), data_cols)
        rows += nrows
        adds.append(
            {
                "path": rel,
                "partitionValues": pv,
                "size": p.stat().st_size,
                "modificationTime": p.stat().st_mtime_ns // 1_000_000,
                "dataChange": True,
                "stats": stats,
            }
        )
    if not adds:
        raise LF.LakeFormatError(f"no parquet files under {directory}")
    _check_path_safe_partitions(adds)
    actions: list[dict] = [
        _commit_info("CONVERT", {"numFiles": len(adds)}),
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(
                    _uuid.UUID(
                        bytes=hashlib.sha256(
                            os.path.abspath(directory).encode()
                        ).digest()[:16]
                    )
                ),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema.jsonValue()),
                "partitionColumns": partition_by,
                "configuration": {},
                "createdTime": _now_ms(),
            }
        },
    ]
    actions.extend({"add": a} for a in adds)
    _commit(directory, 0, actions)
    return {"version": 0, "files_added": len(adds), "rows_cataloged": rows}


# ------------------------------------------------------------------
# VACUUM
# ------------------------------------------------------------------


def vacuum_delta(
    table_path: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
    now_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Delete data/DV files under the table that the LATEST snapshot
    does not reference and that are older than the retention horizon.
    A file's age is max(filesystem mtime, its remove action's
    ``deletionTimestamp`` when the log has one) — production Delta
    measures tombstone retention from deletionTimestamp, so a
    month-old file tombstoned by OPTIMIZE seconds ago stays protected
    for the full window (mtime alone would delete it immediately,
    breaking readers pinned on the pre-OPTIMIZE snapshot); mtime
    covers untracked files.  Also sweeps orphaned staging dirs past
    the horizon (``staging.sweep_staging``).  Underscore/dot-prefixed
    entries (``_delta_log``, ``_change_data``, audit markers, hidden
    files) are never touched, matching the production command's
    hidden-file rule.  DESTRUCTIVE by contract: time travel to
    versions whose files were vacuumed fails loudly at read, exactly
    like production Delta.  Returns {files_deleted, bytes_deleted,
    files_retained_young, files_live}."""
    import uuid as _uuid_mod

    snap = LF.delta_snapshot(table_path)
    now = _now_ms() if now_ms is None else int(now_ms)
    horizon = now - int(retention_ms)
    # tombstone clock: newest deletionTimestamp per removed path across
    # the retained JSON commits (checkpoint-compacted history has no
    # remove rows — those files fall back to mtime, which is at least
    # as old as the checkpoint)
    log = Path(table_path) / "_delta_log"
    tombstone_ms: dict[str, int] = {}
    json_versions, _ck, _latest = LF._log_versions(log)
    for v in json_versions:
        for r in LF._parse_commit(log, v)["removes"]:
            ts = r.get("deletionTimestamp")
            if ts is None:
                continue
            key = os.path.normpath(os.path.join(table_path, r["path"]))
            tombstone_ms[key] = max(tombstone_ms.get(key, 0), int(ts))
            # a remove that carried a DV descriptor orphans that DV
            # file at the same instant — protect it on the same clock
            dv = r.get("deletionVector")
            if isinstance(dv, dict) and dv.get("storageType") in ("u", "p"):
                dvp = LF._dv_file_path(table_path, dv)
                if dvp:
                    dvk = os.path.normpath(dvp)
                    tombstone_ms[dvk] = max(tombstone_ms.get(dvk, 0), int(ts))
    live: set[str] = set()
    for f in snap["files"]:
        live.add(os.path.normpath(os.path.join(table_path, f["path"])))
        dv = f.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            if dv["storageType"] == "u":
                body = dv.get("pathOrInlineDv") or ""
                prefix, z85_uuid = body[:-20], body[-20:]
                uid = _uuid_mod.UUID(bytes=roaring.z85_decode(z85_uuid))
                live.add(
                    os.path.normpath(
                        os.path.join(
                            table_path, prefix, f"deletion_vector_{uid}.bin"
                        )
                    )
                )
            else:
                live.add(
                    os.path.normpath(
                        LF._resolve(dv.get("pathOrInlineDv") or "", table_path)
                    )
                )
    root = Path(table_path)
    deleted = 0
    deleted_bytes = 0
    young = 0
    # a UniForm-style Iceberg export (delta_to_iceberg) lives under
    # metadata/ — and Iceberg-side maintenance (delete/compact) writes
    # its files under data/.  The Delta log references neither, so an
    # unaware vacuum would DESTROY the exported table wholesale.  When
    # an export exists, both dirs belong to the Iceberg side:
    # expire_iceberg_snapshots owns their retention.  Vacuuming old
    # DELTA data files that old Iceberg snapshots referenced stays
    # allowed — the same "time travel to vacuumed versions fails loudly"
    # contract, on both logs symmetrically.
    iceberg_export = any((root / "metadata").glob("v*.metadata.json"))
    for p in sorted(root.rglob("*")):
        parts = p.relative_to(root).parts
        if any(seg.startswith(("_", ".")) for seg in parts):
            continue
        if iceberg_export and parts[0] in ("metadata", "data"):
            continue
        if not p.is_file():
            continue
        norm = os.path.normpath(str(p))
        if norm in live:
            continue
        age_ms = max(
            p.stat().st_mtime_ns // 1_000_000, tombstone_ms.get(norm, 0)
        )
        if age_ms >= horizon:
            young += 1
            continue
        deleted += 1
        deleted_bytes += p.stat().st_size
        if not dry_run:
            p.unlink()
    staging.sweep_staging(table_path, horizon, dry_run)
    if not dry_run:
        # prune now-empty partition directories (cosmetic, like the
        # production command)
        for d in sorted(root.rglob("*"), reverse=True):
            if (
                d.is_dir()
                and not any(
                    seg.startswith(("_", "."))
                    for seg in d.relative_to(root).parts
                )
                and not any(d.iterdir())
            ):
                d.rmdir()
    return {
        "files_deleted": deleted,
        "bytes_deleted": deleted_bytes,
        "files_retained_young": young,
        "files_live": len(live),
    }


# ------------------------------------------------------------------
# RESTORE
# ------------------------------------------------------------------


def restore_delta(table_path: str, version: int) -> dict:
    """RESTORE TABLE TO VERSION AS OF ``version`` — a NEW commit whose
    file actions make the live set equal the target snapshot's (time
    travel that moves the table, not just a read).  History is
    preserved: the restored-over commits stay replayable.  Pure
    metadata — no data file moves; O(#files) driver work.

    If the target's schema/partitioning/configuration differ from the
    current ones, the commit re-emits the target ``metaData`` (same
    table id).  The protocol is never downgraded."""
    cur = LF.delta_snapshot(table_path)
    tgt = LF.delta_snapshot(table_path, version)
    cur_files = {f["path"]: f for f in cur["files"]}
    tgt_files = {f["path"]: f for f in tgt["files"]}
    now = _now_ms()
    actions: list[dict] = [
        _commit_info("RESTORE", {"version": version})
    ]
    if (
        _schema_fingerprint(tgt["schema"]) != _schema_fingerprint(cur["schema"])
        or tgt["partition_columns"] != cur["partition_columns"]
        or tgt["configuration"] != cur["configuration"]
    ):
        actions.append(
            {
                "metaData": {
                    "id": tgt["meta_id"] or cur["meta_id"],
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(tgt["schema"].jsonValue()),
                    "partitionColumns": list(tgt["partition_columns"]),
                    "configuration": dict(tgt["configuration"]),
                }
            }
        )
    # a vacuumed target must gate BEFORE the commit (production Delta
    # RESTORE errors on missing files): re-adding entries whose data or
    # DV files are gone would corrupt the CURRENT table, not just the
    # time-travel read
    missing: list[str] = []
    for path, f in sorted(tgt_files.items()):
        if not os.path.exists(os.path.join(table_path, path)):
            missing.append(path)
        dv = f.get("deletionVector")
        if isinstance(dv, dict) and dv.get("storageType") in ("u", "p"):
            dv_path = LF._dv_file_path(table_path, dv)
            if dv_path and not os.path.exists(dv_path):
                missing.append(f"{path} (deletion vector {dv_path})")
    if missing:
        raise LF.LakeFormatError(
            f"RESTORE to version {version} is impossible — "
            f"{len(missing)} file(s) it references no longer exist "
            f"(vacuumed?): {missing[:5]}"
        )
    adds = 0
    removes = 0
    for path, f in sorted(tgt_files.items()):
        if cur_files.get(path) == f:
            continue  # identical entry (same DV, stats) — untouched
        actions.append(
            {
                "add": {
                    "path": path,
                    "partitionValues": f["partitionValues"],
                    "size": int(f.get("size") or 0),
                    "modificationTime": int(f.get("modificationTime") or 0),
                    "dataChange": True,
                    "stats": f.get("stats"),
                    "deletionVector": f.get("deletionVector"),
                }
            }
        )
        adds += 1
    for path, f in sorted(cur_files.items()):
        if path in tgt_files:
            continue
        actions.append(_remove_action(f, now))
        removes += 1
    new_version = cur["version"] + 1
    _commit(table_path, new_version, actions)
    return {
        "version": new_version,
        "restored_to": tgt["version"],
        "files_added": adds,
        "files_removed": removes,
    }


# ------------------------------------------------------------------
# checkpoint
# ------------------------------------------------------------------


def write_delta_checkpoint(
    table_path: str,
    v2: bool = False,
    sidecar_files: int = 2,
    manifest_format: str = "parquet",
) -> dict:
    """Materialize the latest snapshot as the spec's checkpoint
    parquet + ``_last_checkpoint`` so a reader seeds from O(#files)
    parquet instead of replaying the whole JSON log.  Rows: one
    protocol, one metaData, the latest ``txn`` per appId (idempotence
    survives log cleanup), one ``add`` per live file (stats and DV
    descriptors intact).  Driver-side pyarrow write — checkpoints are
    metadata-cardinality, the same posture as the reader.

    ``v2=True`` writes the V2 form: a UUID-named manifest holding
    protocol/metaData/txn/checkpointMetadata plus ``sidecar`` refs,
    with the add rows split across ``sidecar_files`` parquet files
    under ``_delta_log/_sidecars`` — the layout big production tables
    use so checkpoint writes parallelize and readers prune sidecars.
    Requires the table protocol to already declare the v2Checkpoint
    feature (readers that predate it would see no checkpoint rows);
    upgrading the protocol is a separate, explicit commit.

    ``manifest_format="json"`` (v2 only)
    writes the manifest as NDJSON (one action object per line, the
    commit-file shape) instead of parquet; SIDECARS STAY PARQUET (the
    spec allows either format for the manifest but sidecar files are
    always parquet).  The spec motivates the JSON form for tiny
    metadata-only checkpoints where parquet's footer overhead
    dominates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if manifest_format not in ("parquet", "json"):
        raise LF.LakeFormatError(
            f"manifest_format must be 'parquet' or 'json', got "
            f"{manifest_format!r}"
        )
    if manifest_format == "json" and not v2:
        raise LF.LakeFormatError(
            "JSON checkpoint manifests are a v2-checkpoint form — "
            "classic checkpoints are parquet by spec"
        )
    state, version = LF._state_as_of(table_path)
    log = LF._delta_log_dir(table_path)
    if v2:
        feats = set((state.protocol or {}).get("readerFeatures") or [])
        if "v2Checkpoint" not in feats:
            raise LF.LakeFormatGatedError(
                "v2 checkpoint requested but the table protocol does not "
                "declare the v2Checkpoint reader feature — commit a "
                "protocol upgrade first (readers without the feature "
                "would silently ignore the checkpoint's shape)"
            )

    # the protocol and table id come from the REPLAYED STATE (which
    # already folds in any prior checkpoint's rows) — deriving them
    # from retained JSON commits alone would downgrade a DV table to
    # 1/2 after log cleanup and mint a fake table identity
    if state.protocol is None:
        raise LF.LakeFormatError(
            f"no protocol action reachable for {table_path} — refusing "
            "to checkpoint a spec-violating log"
        )
    proto = dict(state.protocol)
    meta_row = {
        "id": state.meta_id or "dbt-json-readr-spark-checkpoint",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(state.schema.jsonValue()),
        "partitionColumns": list(state.partition_columns),
        "configuration": dict(state.configuration),
    }

    dv_struct = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int64()),
            ("sizeInBytes", pa.int64()),
            ("cardinality", pa.int64()),
        ]
    )
    add_struct = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_struct),
        ]
    )
    meta_struct = pa.struct(
        [
            ("id", pa.string()),
            (
                "format",
                pa.struct(
                    [
                        ("provider", pa.string()),
                        ("options", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_struct = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    txn_struct = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )

    rows: list[dict] = []
    rows.append({"protocol": proto, "metaData": None, "txn": None, "add": None})
    rows.append(
        {"protocol": None, "metaData": meta_row, "txn": None, "add": None}
    )
    # the replayed state folds in any prior checkpoint's txn rows, so
    # apps whose only marker lives there survive into the new one
    for app, tv in sorted(state.txns.items()):
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "txn": {"appId": app, "version": tv, "lastUpdated": None},
                "add": None,
            }
        )
    for f in sorted(state.files.values(), key=lambda x: x["path"]):
        add = {
            "path": f["path"],
            "partitionValues": list((f["partitionValues"] or {}).items()),
            "size": int(f.get("size") or 0),
            "modificationTime": int(f.get("modificationTime") or 0),
            "dataChange": False,
            "stats": f.get("stats"),
            "deletionVector": f.get("deletionVector"),
        }
        rows.append({"protocol": None, "metaData": None, "txn": None, "add": add})
    for r in rows:
        if r["metaData"]:
            md = dict(r["metaData"])
            md["format"] = {
                "provider": md["format"]["provider"],
                "options": list(md["format"]["options"].items()),
            }
            md["configuration"] = list(md["configuration"].items())
            r["metaData"] = md

    if v2:
        import uuid as _uuid

        sidecars_dir = log / "_sidecars"
        sidecars_dir.mkdir(exist_ok=True)
        add_rows = [r for r in rows if r["add"] is not None]
        head_rows = [r for r in rows if r["add"] is None]
        n_side = max(1, min(int(sidecar_files), max(1, len(add_rows))))
        side_schema = pa.schema([("add", add_struct)])
        sidecar_refs = []
        for i in range(n_side):
            chunk = add_rows[i::n_side]
            name = f"{_uuid.uuid4()}.parquet"
            sp = sidecars_dir / name
            table = pa.Table.from_pylist([{"add": r["add"]} for r in chunk], schema=side_schema)
            staging.publish_file(sp, lambda tmp: pq.write_table(table, tmp))
            sidecar_refs.append(
                {"path": name, "sizeInBytes": sp.stat().st_size}
            )
        sidecar_struct = pa.struct(
            [("path", pa.string()), ("sizeInBytes", pa.int64())]
        )
        cm_struct = pa.struct([("version", pa.int64())])
        man_rows = [
            {**{k: r[k] for k in ("protocol", "metaData", "txn")},
             "checkpointMetadata": None, "sidecar": None}
            for r in head_rows
        ]
        man_rows.append(
            {"protocol": None, "metaData": None, "txn": None,
             "checkpointMetadata": {"version": version}, "sidecar": None}
        )
        for ref in sidecar_refs:
            man_rows.append(
                {"protocol": None, "metaData": None, "txn": None,
                 "checkpointMetadata": None, "sidecar": ref}
            )
        if manifest_format == "json":
            # one action object per line, commit-file shape; the
            # metaData row needs its JSON (dict) form back — the
            # item-list conversion above is parquet map encoding
            lines = []
            for r in man_rows:
                for k, v in r.items():
                    if v is None:
                        continue
                    if k == "metaData":
                        v = dict(v)
                        v["format"] = {
                            "provider": v["format"]["provider"],
                            "options": dict(v["format"]["options"]),
                        }
                        v["configuration"] = dict(v["configuration"])
                    lines.append(json.dumps({k: v}, separators=(",", ":")))
            dest = log / f"{version:020d}.checkpoint.{_uuid.uuid4()}.json"
            text = "\n".join(lines) + "\n"
            staging.publish_file(dest, lambda tmp: Path(tmp).write_text(text))
        else:
            schema_pa = pa.schema(
                [
                    ("protocol", proto_struct),
                    ("metaData", meta_struct),
                    ("txn", txn_struct),
                    ("checkpointMetadata", cm_struct),
                    ("sidecar", sidecar_struct),
                ]
            )
            dest = log / f"{version:020d}.checkpoint.{_uuid.uuid4()}.parquet"
            table = pa.Table.from_pylist(man_rows, schema=schema_pa)
            staging.publish_file(dest, lambda tmp: pq.write_table(table, tmp))
        _publish_last_checkpoint(log, version, len(rows))
        return {
            "version": version,
            "actions": len(rows),
            "sidecars": len(sidecar_refs),
        }

    schema_pa = pa.schema(
        [
            ("protocol", proto_struct),
            ("metaData", meta_struct),
            ("txn", txn_struct),
            ("add", add_struct),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema_pa)
    dest = log / f"{version:020d}.checkpoint.parquet"
    staging.publish_file(dest, lambda tmp: pq.write_table(table, tmp))
    _publish_last_checkpoint(log, version, len(rows))
    return {"version": version, "actions": len(rows)}


def _publish_last_checkpoint(log: Path, version: int, size: int) -> None:
    """Point ``_last_checkpoint`` at the checkpoint just published."""
    text = json.dumps({"version": version, "size": size})
    staging.publish_file(log / "_last_checkpoint", lambda tmp: Path(tmp).write_text(text))
