"""External table-format READ bridges: Delta Lake ``_delta_log`` and
Iceberg ``metadata.json`` snapshots.

A real lake already has tables in Delta or Iceberg (this engine writes
both natively: ``sources/deltawriter.py`` and
``sources/icebergwriter.py``).  Both formats keep their commit METADATA
as JSON (Delta: one JSON-lines action file per commit; Iceberg: a
versioned metadata.json with snapshot lineage), so a snapshot's schema
+ active-file list is recoverable with the stdlib — no format jars —
and the files themselves are plain parquet Spark reads natively.

Scope is explicit and loud:
- Delta: checkpoint-parquet state (pyarrow, driver-side) seeds the
  file set when ``_last_checkpoint`` covers the target version, with
  later JSON commits replayed on top; a fully-retained JSON log replays
  from 0.  Column mapping modes 'name' and 'id' and DELETION VECTORS
  are implemented — mode 'id' resolves parquet columns by
  footer FIELD ID per file (the Iceberg-style identity rule); DV
  positions decode driver-side (sources/roaring.py,
  magic/size/CRC/cardinality all validated) and apply as a distributed
  (_metadata.file_path, row_index) anti-join.  Time travel BEHIND the
  retained log gates loudly (that history is vacuumed), as do nested
  mapped columns and any other reader-protocol-3 feature (timestampNtz,
  ...).  Checkpoints seed state in classic single/multipart parquet
  form AND v2 form (UUID-named parquet or NDJSON manifest + _sidecars
  file-action parquet).  The same replay carries ``txn`` markers, the
  idempotent-append state the writer reads back.
- Iceberg: metadata.json parse (snapshot lineage, schema translation to
  Spark types, current-snapshot resolution) is full-fidelity; the DATA
  path walks the avro manifest list with the pure-Python container
  reader (``sources/avrocore.py`` — manifests are driver-side pointer
  rows, no JVM involved) and APPLIES v2 row-level deletes: position
  deletes via the _metadata.row_index anti-join, equality deletes via
  null-safe value anti-joins honoring sequence-number ordering.
  ``read_iceberg_snapshot`` gates loudly on delete metadata it cannot
  apply correctly (missing equality_ids / sequence numbers, nested
  equality columns) and on malformed delete manifests.

Driver-side work is O(metadata): the driver parses pointers,
executors read parquet.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class LakeFormatError(RuntimeError):
    """Malformed / unsupported table metadata."""


class LakeFormatGatedError(LakeFormatError):
    """The metadata is valid but uses a feature this bridge does not
    implement (a newer reader protocol, nested column mapping,
    vacuumed history...).  Message says exactly which."""


# ------------------------------------------------------------- Delta


def _norm_uri(c):
    """Normalize Spark's file-URI rendering (file:///x vs /x) before
    any ``_metadata.file_path`` comparison — one definition so the
    Delta and Iceberg paths can never silently diverge."""
    return F.regexp_replace(c, "^file:/+", "/")


# RFC 3986 path characters Spark leaves UN-encoded in
# ``_metadata.file_path`` (probed empirically on Spark 4.1: unreserved
# + sub-delims + ':' '@' '/'; non-ASCII stays RAW, space/'%'/'#'/'?'
# percent-encode)
_URI_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "/!$&'()*+,;=:@-._~"
)


def _uri_path(path: str) -> str:
    """A local filesystem path rendered the way Spark renders
    ``_metadata.file_path`` (scheme already stripped): percent-encode
    exactly the characters Spark encodes.  EVERY python-side path that
    joins against a ``__fp`` column must pass through this — a raw
    path with a space matches nothing and, but for the loud path-map
    asserts, would silently resurrect DV-deleted rows (MERGE on the
    space-bearing o_orderpriority partition values is the pinned
    case)."""
    return "".join(
        ch if (ch in _URI_SAFE or ord(ch) > 127) else f"%{ord(ch):02X}"
        for ch in path
    )


def _delta_log_dir(table_path: str) -> Path:
    d = Path(table_path) / "_delta_log"
    if not d.is_dir():
        raise LakeFormatError(f"not a Delta table (no _delta_log): {table_path}")
    return d


# reader protocol-3 table features this bridge actually implements;
# anything else in readerFeatures gates loudly (timestampNtz...).
# v2Checkpoint: UUID-named parquet or NDJSON manifests with sidecar
# file-action parquet under _delta_log/_sidecars replay into the same
# state classic checkpoints seed.
_SUPPORTED_READER_FEATURES = {"columnMapping", "deletionVectors", "v2Checkpoint"}

# deletion-vector positions materialize on the DRIVER up to this total
# cardinality (known from the descriptors before any decode).  Honest
# accounting at the cap: the decoded python int lists (~28 B each,
# ~0.6 GB), plus the numpy/pandas frame (~8 B each) and its arrow copy
# — ~0.8 GB peak, safe under the 4-6 GB driver the verify recipe
# budgets.  BEYOND the cap the decode moves EXECUTOR-side: descriptors
# ship as metadata rows, each task runs the same roaring decode and
# emits (file_path, row_index) batches, so a heavily-deleted 100 TB
# table decodes at DV-file parallelism with no driver ceiling (the
# per-DV task bound below is the one that remains).  Small snapshots
# keep the driver path — one decode, no extra stage.
_DV_DRIVER_CAP = 20_000_000

# executor-side decode bound: ONE deletion vector still decodes as a
# single python position list inside its task (~28 B/position + the
# int64 copy), so the ceiling the distributed path removes from the
# driver reappears PER DV — declared here, gated loudly driver-side
# (the cardinality is in the descriptor, no decode needed to check).
# 200M positions ≈ 7 GB task peak; a single DV beyond that wants
# compaction, not an opaque executor OOM.
_DV_TASK_CAP = 200_000_000


class _DeltaState:
    def __init__(self):
        self.schema: T.StructType | None = None
        self.partition_columns: list[str] = []
        self.files: dict[str, dict] = {}
        self.column_mapping_mode: str = "none"
        self.configuration: dict[str, str] = {}
        # logical field name -> physical parquet column name
        self.physical_names: dict[str, str] = {}
        # logical field name -> delta.columnMapping.id (mode 'id'
        # resolves parquet columns by this against footer field ids)
        self.field_ids: dict[str, int] = {}
        # the LAST protocol action seen and the table id — a checkpoint
        # writer must carry both faithfully: a protocol derived from
        # retained JSON alone would downgrade a DV table to 1/2 after
        # log cleanup, and a constant id would break table identity
        self.protocol: dict | None = None
        self.meta_id: str | None = None
        # appId -> highest committed txn version (the idempotent-append
        # marker a streaming sink checks before it commits a batch)
        self.txns: dict[str, int] = {}

    def check_protocol(self, p: dict) -> None:
        self.protocol = {
            "minReaderVersion": p.get("minReaderVersion", 1),
            "minWriterVersion": p.get("minWriterVersion", 2),
            "readerFeatures": (
                list(p["readerFeatures"])
                if p.get("readerFeatures") is not None
                else None
            ),
            "writerFeatures": (
                list(p["writerFeatures"])
                if p.get("writerFeatures") is not None
                else None
            ),
        }
        v = p.get("minReaderVersion", 1)
        if v > 3:
            # a future reader protocol's requirements are NOT expressed
            # through the readerFeatures list this bridge knows — only
            # exactly-3 is feature-gated; anything newer gates whole.
            raise LakeFormatGatedError(
                f"Delta reader protocol {v} is newer than this bridge "
                "understands (max 3 with columnMapping)"
            )
        if v == 3:
            feats = p.get("readerFeatures")
            if feats is None:
                # protocol 3 REQUIRES readerFeatures (Delta PROTOCOL.md
                # table-features section); absence means a malformed or
                # future-shaped log — gate, don't guess.
                raise LakeFormatGatedError(
                    "Delta reader protocol 3 without a readerFeatures "
                    "list — malformed table-features log"
                )
            unsupported = set(feats) - _SUPPORTED_READER_FEATURES
            if unsupported:
                raise LakeFormatGatedError(
                    f"Delta reader protocol {v} with "
                    f"unsupported reader features {sorted(unsupported)} — "
                    "this bridge implements "
                    f"{sorted(_SUPPORTED_READER_FEATURES)} only"
                )

    def meta(self, md: dict) -> None:
        if md.get("format", {}).get("provider", "parquet") != "parquet":
            raise LakeFormatError(f"non-parquet Delta table: {md['format']}")
        self.meta_id = md.get("id")
        schema_json = json.loads(md["schemaString"])
        self.schema = T.StructType.fromJson(schema_json)
        self.partition_columns = list(md.get("partitionColumns") or [])
        conf = md.get("configuration") or {}
        if not isinstance(conf, dict):  # pyarrow map → list of (k, v)
            conf = dict(conf)
        self.configuration = {str(k): str(v) for k, v in conf.items()}
        mode = conf.get("delta.columnMapping.mode", "none")
        if mode not in ("none", "name", "id"):
            raise LakeFormatGatedError(
                f"Delta column mapping mode {mode!r} — this bridge "
                "supports modes 'none', 'name' and 'id' only"
            )
        self.column_mapping_mode = mode
        self.physical_names = {}
        self.field_ids = {}
        if mode in ("name", "id"):
            for f in schema_json.get("fields", []):
                fmeta = f.get("metadata") or {}
                phys = fmeta.get("delta.columnMapping.physicalName")
                fid = fmeta.get("delta.columnMapping.id")
                if mode == "name" and not phys:
                    raise LakeFormatError(
                        "column mapping mode 'name' but field "
                        f"{f.get('name')!r} carries no "
                        "delta.columnMapping.physicalName — malformed log"
                    )
                if mode == "id" and fid is None:
                    # id mode resolves columns by FIELD ID; a field
                    # without one cannot be resolved at all
                    raise LakeFormatError(
                        "column mapping mode 'id' but field "
                        f"{f.get('name')!r} carries no "
                        "delta.columnMapping.id — malformed log"
                    )
                if isinstance(f.get("type"), dict):
                    # nested remaps rename leaves inside struct/array/map
                    # types too; only top-level remapping is implemented
                    raise LakeFormatGatedError(
                        f"column mapping on nested column {f.get('name')!r} "
                        "— only top-level columns are supported"
                    )
                if phys:
                    self.physical_names[f["name"]] = phys
                if fid is not None:
                    self.field_ids[f["name"]] = int(fid)

    def add(self, a: dict) -> None:
        pv = a.get("partitionValues") or {}
        if not isinstance(pv, dict):  # pyarrow map → list of (k, v)
            pv = dict(pv)
        dv = a.get("deletionVector")
        if isinstance(dv, dict) and not dv.get("storageType"):
            dv = None  # checkpoint parquet yields all-None structs
        self.files[a["path"]] = {
            "path": a["path"],
            "partitionValues": pv,
            "deletionVector": dv,
            # per-file statistics JSON (PROTOCOL.md) — the raw string;
            # skipping.delta_file_matches parses it lazily and treats
            # absence/garbage as "keep the file"
            "stats": a.get("stats"),
            # carried for faithful checkpoint re-emission: zeroing them
            # would lie to size-aware external readers
            "size": a.get("size"),
            "modificationTime": a.get("modificationTime"),
        }

    def remove(self, path: str) -> None:
        self.files.pop(path, None)

    def txn(self, t: dict) -> None:
        if t.get("appId") is None:
            return  # checkpoint parquet yields all-None structs
        app, v = str(t["appId"]), int(t["version"])
        self.txns[app] = max(self.txns.get(app, v), v)


def _read_checkpoint(log: Path, ck_version: int, parts: int | None) -> _DeltaState:
    """Load a checkpoint's complete snapshot state.  Checkpoints are
    plain parquet with one action struct per row; pyarrow reads them
    driver-side (metadata-scale — O(#files) rows, no Spark job).
    ``remove`` rows are retention tombstones, already absent from the
    live set."""
    import pyarrow.parquet as pq

    if parts:
        paths = [
            log / f"{ck_version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
            for i in range(parts)
        ]
    else:
        classic = log / f"{ck_version:020d}.checkpoint.parquet"
        if classic.exists():
            paths = [classic]
        else:
            # Distinguish a MULTIPART checkpoint whose _last_checkpoint
            # omitted the optional "parts" field from a V2 UUID-named
            # manifest: part names are n.checkpoint.<i:010d>.<N:010d>
            # .parquet — treating one part as a complete v2 manifest
            # would silently drop every file in the other parts.
            import re as _re

            cands = sorted(log.glob(f"{ck_version:020d}.checkpoint.*.parquet"))
            part_re = _re.compile(
                rf"^{ck_version:020d}\.checkpoint\.(\d{{10}})\.(\d{{10}})\.parquet$"
            )
            part_matches = [
                m for m in (part_re.match(p.name) for p in cands) if m
            ]
            if part_matches:
                total = int(part_matches[0].group(2))
                paths = [
                    log
                    / f"{ck_version:020d}.checkpoint.{i + 1:010d}.{total:010d}.parquet"
                    for i in range(total)
                ]
            elif cands:
                # V2 CHECKPOINT: UUID-named manifest — any one
                # manifest for the version is complete by spec; its
                # sidecar actions point at file-action parquet under
                # _delta_log/_sidecars
                paths = [cands[0]]
            else:
                # JSON-FORMAT v2 manifest: the spec allows the manifest
                # itself as NDJSON — same actions, one object per line;
                # sidecars are still parquet
                jcands = sorted(
                    log.glob(f"{ck_version:020d}.checkpoint.*.json")
                )
                paths = [jcands[0]] if jcands else [classic]
    state = _DeltaState()

    def _manifest_rows(src: Path) -> list[dict]:
        if src.suffix == ".json":
            out = []
            with open(src) as f:
                for line in f:
                    if line.strip():
                        out.append(json.loads(line))
            return out
        return pq.read_table(str(src)).to_pylist()

    def _apply_rows(src: Path, top_level: bool) -> None:
        for row in _manifest_rows(src):
            if row.get("protocol"):
                state.check_protocol(row["protocol"])
            if row.get("metaData"):
                md = dict(row["metaData"])
                if isinstance(md.get("format"), dict) is False and md.get("format"):
                    md["format"] = dict(md["format"])
                state.meta(md)
            if row.get("add"):
                state.add(dict(row["add"]))
            if row.get("txn"):
                state.txn(dict(row["txn"]))
            if row.get("checkpointMetadata"):
                cm = dict(row["checkpointMetadata"])
                if int(cm.get("version", ck_version)) != ck_version:
                    raise LakeFormatError(
                        f"v2 checkpoint manifest {src.name} declares version "
                        f"{cm.get('version')} but is named {ck_version}"
                    )
            if row.get("sidecar"):
                if not top_level:
                    raise LakeFormatError(
                        f"sidecar action inside sidecar file {src.name} — "
                        "spec allows sidecars in the manifest only"
                    )
                sc = dict(row["sidecar"])
                sp = Path(sc["path"])
                if sp.suffix == ".json":
                    raise LakeFormatError(
                        f"v2 checkpoint sidecar {sp.name} is JSON — the "
                        "spec requires sidecar files to be parquet (only "
                        "the manifest may be JSON)"
                    )
                if not sp.is_absolute():
                    sp = log / "_sidecars" / sc["path"]
                if not sp.exists():
                    raise LakeFormatError(
                        f"v2 checkpoint sidecar missing: {sp.name}"
                    )
                _apply_rows(sp, top_level=False)

    for p in paths:
        if not p.exists():
            raise LakeFormatError(f"missing checkpoint part: {p.name}")
        _apply_rows(p, top_level=True)
    if state.schema is None:
        raise LakeFormatError(
            f"checkpoint {ck_version} has no metaData row (spec violation)"
        )
    return state


def _parse_commit(log: Path, v: int) -> dict:
    """One JSON commit parsed into action groups (order-free, per the
    protocol's set semantics), plus its first ``commitInfo`` (or
    None)."""
    out: dict = {
        "protocol": [],
        "meta": [],
        "adds": [],
        "removes": [],
        "cdc": [],
        "txns": [],
        "commit_info": None,
    }
    with open(log / f"{v:020d}.json") as f:
        for line in f:
            if not line.strip():
                continue
            action = json.loads(line)
            if "commitInfo" in action:
                if out["commit_info"] is None:
                    out["commit_info"] = action["commitInfo"]
            elif "protocol" in action:
                out["protocol"].append(action["protocol"])
            elif "metaData" in action:
                out["meta"].append(action["metaData"])
            elif "add" in action:
                out["adds"].append(action["add"])
            elif "remove" in action:
                out["removes"].append(action["remove"])
            elif "cdc" in action:
                out["cdc"].append(action["cdc"])
            elif "txn" in action:
                out["txns"].append(action["txn"])
    return out


def _apply_commit(state: _DeltaState, parsed: dict) -> None:
    """Apply one commit's actions as a SET: the protocol's
    reconciliation keys file actions by (path, dvId) and puts no
    meaning on JSON line order, and a DV update is remove(path) +
    add(path, dv) in ONE commit — replaying add-then-remove
    line-by-line would drop the file entirely.  Removes apply before
    adds so the re-add always wins."""
    for pr in parsed["protocol"]:
        state.check_protocol(pr)
    for md in parsed["meta"]:
        state.meta(md)
    for r in parsed["removes"]:
        state.remove(r["path"])
    for a in parsed["adds"]:
        state.add(a)
    for t in parsed["txns"]:
        state.txn(t)


def _log_versions(log: Path) -> tuple[list[int], int | None, int]:
    """(sorted JSON commit versions, checkpoint version or None,
    latest version) — the one place version discovery lives, so the
    snapshot and change-feed readers cannot disagree on 'latest'."""
    json_versions = sorted(
        int(p.stem) for p in log.glob("*.json") if p.stem.isdigit()
    )
    ck_version: int | None = None
    if (log / "_last_checkpoint").exists():
        ck_version = int(
            json.loads((log / "_last_checkpoint").read_text())["version"]
        )
    if not json_versions and ck_version is None:
        raise LakeFormatError(f"empty Delta log: {log.parent}")
    latest = max(json_versions[-1] if json_versions else 0, ck_version or 0)
    return json_versions, ck_version, latest


def _state_as_of(table_path: str, version: int | None = None) -> tuple[_DeltaState, int]:
    """Replay the log to the state AS OF ``version`` (default latest).

    Replay strategy: if ``_last_checkpoint`` points at a checkpoint ≤
    the target version, its parquet state seeds the file set and only
    JSON commits AFTER it replay; otherwise the JSON log replays from 0.
    Time travel BEHIND the retained log (target < checkpoint and commit
    0 vacuumed) gates loudly — that history is physically gone."""
    log = _delta_log_dir(table_path)
    json_versions, ck_version, latest = _log_versions(log)
    ck_parts: int | None = None
    if ck_version is not None:
        ck_parts = json.loads((log / "_last_checkpoint").read_text()).get("parts")
    if version is None:
        version = latest
    replay_from_zero = json_versions and json_versions[0] == 0
    use_checkpoint = ck_version is not None and ck_version <= version
    if use_checkpoint and replay_from_zero:
        use_checkpoint = False  # full JSON history retained; no parquet read needed
    if not use_checkpoint and not replay_from_zero:
        raise LakeFormatGatedError(
            f"version {version} predates the retained log (checkpoint at "
            f"{ck_version}, earliest JSON commit "
            f"{json_versions[0] if json_versions else None}) — that history "
            "was vacuumed"
        )
    if use_checkpoint:
        state = _read_checkpoint(log, ck_version, ck_parts)
        start_after = ck_version
    else:
        state = _DeltaState()
        start_after = -1
    known = set(json_versions) | ({ck_version} if ck_version is not None else set())
    if version not in known:
        raise LakeFormatError(f"Delta version {version} not in log {sorted(known)}")
    # commits between checkpoint and target must be contiguous
    needed = [v for v in range(start_after + 1, version + 1)]
    missing = [v for v in needed if v not in set(json_versions)]
    if missing:
        raise LakeFormatError(
            f"missing JSON commits {missing} between checkpoint and {version}"
        )
    for v in needed:
        _apply_commit(state, _parse_commit(log, v))
    if state.schema is None:
        raise LakeFormatError(f"no metaData action in Delta log: {table_path}")
    return state, version


def delta_commit_timestamps(table_path: str) -> dict[int, int]:
    """version → commit timestamp (epoch ms) for every RETAINED JSON
    commit, per the protocol's time-travel rules: a commitInfo action
    carrying ``inCommitTimestamp`` is authoritative (the in-commit-
    timestamp table feature); otherwise the log file's modification
    time stands in.  Timestamps are then made MONOTONIC the way
    production readers do (each commit at least 1 ms after its
    predecessor) so clock skew between writers cannot make a later
    version resolve before an earlier one."""
    log = _delta_log_dir(table_path)
    json_versions, _ck, _latest = _log_versions(log)
    out: dict[int, int] = {}
    prev = None
    prev_from_ict = False
    for v in json_versions:
        p = log / f"{v:020d}.json"
        ts = None
        with open(p) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                ci = action.get("commitInfo")
                if ci is not None and ci.get("inCommitTimestamp") is not None:
                    ts = int(ci["inCommitTimestamp"])
                break  # commitInfo, when present, is the first action
        from_ict = ts is not None
        if ts is None:
            ts = os.stat(p).st_mtime_ns // 1_000_000
        if prev is not None and ts <= prev:
            if from_ict and prev_from_ict:
                # the ICT feature GUARANTEES strict monotonicity AMONG
                # ICT commits — a regression there is log corruption,
                # not clock skew; gate like every other protocol
                # violation.  Across the mtime/ICT boundary (feature
                # enabled mid-history, or a restored log's skewed
                # mtime preceding an honest ICT) the spec makes no
                # ordering promise — clamp like any skewed clock (gating
                # there would fail valid tables).
                raise LakeFormatGatedError(
                    f"commit {v}'s inCommitTimestamp {ts} is not after "
                    f"its predecessor's {prev} — corrupt commit clock"
                )
            ts = prev + 1  # clock skew: documented adjustment
        out[v] = ts
        prev = ts
        prev_from_ict = from_ict
    return out


def _to_epoch_ms(ts) -> int:
    """Accept epoch ms (int) or datetime (naive = UTC; aware converts)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return int(ts.timestamp() * 1000)
    return int(ts)


def delta_version_at_timestamp(table_path: str, ts, stamps=None) -> int:
    """The version a Delta reader pins for AS OF TIMESTAMP ``ts``: the
    LATEST retained commit whose timestamp is <= ts.  A timestamp
    before the earliest retained commit gates loudly — either the
    table did not exist yet or that history was vacuumed; both are
    unanswerable, never guessed.  Callers resolving many probes pass a
    precomputed ``delta_commit_timestamps`` map so the clock derives
    once."""
    ts_ms = _to_epoch_ms(ts)
    if stamps is None:
        stamps = delta_commit_timestamps(table_path)
    if not stamps:
        raise LakeFormatGatedError(
            "no retained JSON commits — timestamp travel needs commit "
            f"timestamps, which a checkpoint alone does not carry: {table_path}"
        )
    eligible = [v for v, t in stamps.items() if t <= ts_ms]
    if not eligible:
        raise LakeFormatGatedError(
            f"timestamp {ts_ms} predates the earliest retained commit "
            f"({min(stamps)} at {stamps[min(stamps)]}) — before table "
            "creation or vacuumed history"
        )
    return max(eligible)


def iceberg_snapshot_at_timestamp(metadata_path: str, ts) -> int:
    """The snapshot an Iceberg reader pins for AS OF TIMESTAMP: the
    latest snapshot with timestamp-ms <= ts (metadata.json carries the
    timestamps directly — no file-mtime fallback needed).  Resolution
    walks ``snapshot-log`` when present — the spec's COMMIT-ORDERED
    history, the structure the reference reader consults — so same-ms
    ties break toward the later COMMIT, not whatever order the
    ``snapshots`` array was serialized in; metadata
    without a snapshot-log falls back to the array with the same
    last-entry-wins rule."""
    ts_ms = _to_epoch_ms(ts)
    meta = iceberg_metadata(metadata_path)
    slog = meta.get("snapshot-log") or []
    if slog:
        eligible = [
            (int(e["timestamp-ms"]), i, int(e["snapshot-id"]))
            for i, e in enumerate(slog)
            if int(e["timestamp-ms"]) <= ts_ms
        ]
    else:
        eligible = [
            (int(s["timestamp-ms"]), i, int(s["snapshot-id"]))
            for i, s in enumerate(meta.get("snapshots", []))
            if int(s["timestamp-ms"]) <= ts_ms
        ]
    if not eligible:
        raise LakeFormatGatedError(
            f"timestamp {ts_ms} predates every snapshot in {metadata_path}"
        )
    return max(eligible)[2]


def delta_snapshot(table_path: str, version: int | None = None) -> dict:
    """The snapshot a Delta reader pins AS OF ``version`` (default:
    latest) → {"version", "schema" (Spark StructType),
    "partition_columns", "files": [{"path", "partitionValues"}]}.
    See ``_state_as_of`` for the replay strategy."""
    state, version = _state_as_of(table_path, version)
    return {
        "version": version,
        "schema": state.schema,
        "partition_columns": state.partition_columns,
        "column_mapping_mode": state.column_mapping_mode,
        "physical_names": dict(state.physical_names),
        "field_ids": dict(state.field_ids),
        "configuration": dict(state.configuration),
        "protocol": dict(state.protocol) if state.protocol else None,
        "meta_id": state.meta_id,
        "files": sorted(state.files.values(), key=lambda f: f["path"]),
    }


def _dv_file_path(table_path: str, desc: dict) -> str | None:
    """The on-disk file a 'u'/'p' deletion-vector descriptor points at
    (None for inline 'i' storage).  ONE definition shared by the decode
    path and existence gates (e.g. RESTORE refusing a vacuumed target)
    so the two can never resolve differently."""
    import uuid as _uuid

    from . import roaring

    st = desc.get("storageType")
    if st == "u":
        body = desc.get("pathOrInlineDv") or ""
        if len(body) < 20:
            raise roaring.DeletionVectorError(
                f"'u' pathOrInlineDv too short for a z85 UUID: {body!r}"
            )
        prefix, z85_uuid = body[:-20], body[-20:]
        uid = _uuid.UUID(bytes=roaring.z85_decode(z85_uuid))
        return os.path.join(table_path, prefix, f"deletion_vector_{uid}.bin")
    if st == "p":
        return _resolve(desc.get("pathOrInlineDv") or "", table_path)
    return None


def _dv_positions(table_path: str, desc: dict) -> list[int]:
    """Resolve one deletion-vector descriptor to its sorted 64-bit row
    indexes (driver-side metadata, like Iceberg position deletes).
    Storage types per PROTOCOL.md: ``i`` inline (Z85 of the blob),
    ``u`` UUID-relative (optional prefix + Z85 of the 16-byte UUID →
    ``<prefix>/deletion_vector_<uuid>.bin``), ``p`` absolute path.
    The decoded cardinality must equal the descriptor's — a decode that
    'works' but disagrees with the log is corrupt, not usable."""
    from . import roaring

    st = desc.get("storageType")
    body = desc.get("pathOrInlineDv") or ""
    try:
        if st == "i":
            # Z85 encodes 4-byte groups, so writers zero-pad the blob
            # and sizeInBytes records the TRUE length — decode, check
            # the padding is consistent, then truncate.  Same loud
            # missing-field contract as the file-backed branch.
            if desc.get("sizeInBytes") is None:
                raise LakeFormatError(
                    "deletion-vector descriptor (storageType 'i') is "
                    "missing required field(s) ['sizeInBytes'] — "
                    "malformed log"
                )
            blob = roaring.z85_decode(body)
            want = int(desc["sizeInBytes"])
            if not (want <= len(blob) < want + 4):
                raise roaring.DeletionVectorError(
                    f"inline DV decodes to {len(blob)} bytes, descriptor "
                    f"says sizeInBytes {want} (padding may be ≤3 bytes)"
                )
            positions = roaring.decode_dv_blob(blob[:want])
        elif st in ("u", "p"):
            fpath = _dv_file_path(table_path, desc)
            # the spec marks offset optional — a descriptor missing it
            # (or sizeInBytes) must fail the module's loud contract,
            # not a bare KeyError
            missing = [
                k for k in ("offset", "sizeInBytes") if desc.get(k) is None
            ]
            if missing:
                raise LakeFormatError(
                    f"deletion-vector descriptor (storageType {st!r}) is "
                    f"missing required field(s) {missing} for a file-backed "
                    "DV — malformed log"
                )
            positions = roaring.read_dv_from_file(
                fpath, int(desc["offset"]), int(desc["sizeInBytes"])
            )
        else:
            raise LakeFormatGatedError(
                f"unknown deletion-vector storageType {st!r}"
            )
    except roaring.DeletionVectorError as e:
        raise LakeFormatError(f"deletion vector unreadable: {e}") from e
    if len(positions) != int(desc["cardinality"]):
        raise LakeFormatError(
            f"deletion vector decoded {len(positions)} positions but the "
            f"log's descriptor says cardinality {desc['cardinality']} — "
            "refusing a delete set that disagrees with the commit"
        )
    return positions


def prune_delta_files(snap: dict, predicate: list | None) -> tuple[list[dict], int]:
    """(kept files, skipped count) for a snapshot under a conjunctive
    predicate — per-file ``add.stats`` interval checks plus exact
    partitionValues evaluation (sources/skipping.py).  Strictly
    conservative: files without stats are kept.  This is the 100 TB
    lever: the pruned list is what reaches ``spark.read``, so a
    selective predicate stops opening every file."""
    from . import skipping

    if not predicate:
        return list(snap["files"]), 0
    skipping.validate_predicate(
        predicate, [f.name for f in snap["schema"].fields]
    )
    phys = snap["physical_names"] if snap["column_mapping_mode"] != "none" else {}
    norm = skipping.normalize_predicate_delta(predicate, snap["schema"])
    dtypes = skipping.dtype_map(snap["schema"])
    kept = [
        f
        for f in snap["files"]
        if skipping.delta_file_matches(
            f,
            snap["schema"],
            snap["partition_columns"],
            norm,
            phys,
            prenormalized=True,
            dtypes=dtypes,
        )
    ]
    return kept, len(snap["files"]) - len(kept)


def read_delta_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    predicate: list | None = None,
    timestamp=None,
) -> DataFrame:
    """The Delta table AS OF ``version`` as a DataFrame — the exact
    file list the snapshot pins, schema from the log (never inferred),
    partition columns reconstructed from partitionValues with their
    declared types (they are NOT in the data files).

    Column mapping mode 'name': the parquet files store PHYSICAL column
    names (``col-<uuid>``); the scan schema uses those and a final
    projection aliases them back to the logical names — a pure metadata
    remap, so logical renames need no data rewrite.  Per the protocol,
    with mapping enabled the log tracks partitionValues under the
    PHYSICAL name; the lookup falls back to the logical name for writers
    that predate that rule.

    ``predicate`` is a conjunction of ``(column, op, value)`` terms:
    files whose ``add.stats`` / partitionValues PROVE no match are
    dropped from the scan list before ``spark.read`` ever sees them, and
    the predicate is then ALSO applied row-level — skipping is a pure
    optimization, never a semantics change.

    ``timestamp`` is AS OF TIMESTAMP time travel: epoch ms or a
    datetime (naive = UTC), resolved to the latest commit at-or-before
    it via ``delta_version_at_timestamp`` (inCommitTimestamp when the
    log carries it, else monotonic-adjusted file mtimes)."""
    if timestamp is not None:
        if version is not None:
            raise LakeFormatError(
                "pass either version or timestamp, not both"
            )
        version = delta_version_at_timestamp(table_path, timestamp)
    snap = delta_snapshot(table_path, version)
    schema: T.StructType = snap["schema"]
    pcols = snap["partition_columns"]
    mode = snap["column_mapping_mode"]
    phys = snap["physical_names"] if mode != "none" else {}
    pname = lambda c: phys.get(c, c)  # noqa: E731
    row_filter = None
    if predicate:
        from . import skipping

        kept, _ = prune_delta_files(snap, predicate)
        snap = dict(snap, files=kept)
        row_filter = skipping.predicate_column(predicate)
    if not snap["files"]:
        return spark.createDataFrame([], schema)
    # deletion vectors: resolve each file's DV to row indexes
    # and anti-join on the scan's hidden (_metadata.file_path,
    # row_index) — the same distributed shape as Iceberg position
    # deletes; the data itself never round-trips.  Below the cap the
    # driver decodes (one pass, no extra stage); above it the decode
    # runs EXECUTOR-side at DV-file parallelism — no driver ceiling.
    dv_total = 0
    dv_files: list[tuple[str, dict]] = []
    all_paths: list[str] = []
    for f in snap["files"]:
        ap = os.path.abspath(os.path.join(table_path, f["path"]))
        all_paths.append(ap)
        dv = f.get("deletionVector")
        if not dv:
            continue
        card = dv.get("cardinality")
        if card is None:
            # loud, not a raw TypeError deep in a sum: cardinality is a
            # required descriptor field (PROTOCOL.md)
            raise LakeFormatError(
                f"deletion-vector descriptor on {f['path']} has no "
                "cardinality — malformed log"
            )
        dv_total += int(card)
        # keyed by the ENCODED rendering: this string only ever joins
        # against _metadata.file_path (file access goes through the
        # descriptor + table_path, never this key)
        dv_files.append((_uri_path(ap), dv))
    if not dv_files:
        dels = None
    elif dv_total > _DV_DRIVER_CAP:
        worst = max(int(d["cardinality"]) for _, d in dv_files)
        if worst > _DV_TASK_CAP:
            # the distributed path bounds DRIVER memory, but one DV
            # still decodes whole inside its task — a single blob past
            # the per-task budget gates loudly instead of OOMing an
            # executor: the moved ceiling is declared, not silent
            raise LakeFormatGatedError(
                f"a single deletion vector carries {worst:,} positions "
                f"(per-task cap {_DV_TASK_CAP:,}) — compact the file; "
                "the distributed decode bounds the driver, not one blob"
            )
        dels = _dv_positions_distributed(spark, table_path, dv_files)
    else:
        dels = _dv_positions_local(spark, table_path, dv_files)
    norm = _norm_uri
    meta_sel = (
        [
            norm(F.col("_metadata.file_path")).alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        if dv_files
        else []
    )
    has_dv = bool(dv_files)
    data_fields = [f for f in schema.fields if f.name not in pcols]
    if mode == "id":
        # mode 'id' resolves parquet columns by FIELD ID, not name: each
        # file's footer ids (cached O(metadata) probe, same machinery as
        # the Iceberg grouped read) map delta.columnMapping.id → that
        # file's physical column name; files without footer ids fall
        # back to the metadata physicalName when present, else gate.
        fids = snap["field_ids"]

        def file_names(ap: str) -> tuple:
            top, _nested, _names = _parquet_field_names_by_id(ap)
            names = []
            for fld in data_fields:
                pn = top.get(fids[fld.name], phys.get(fld.name))
                if pn is None:
                    raise LakeFormatGatedError(
                        f"column mapping mode 'id': {ap} carries no "
                        f"parquet field id {fids[fld.name]} for column "
                        f"{fld.name!r} and the log records no "
                        "physicalName fallback"
                    )
                names.append((fld.name, pn))
            if len({n for _, n in names}) != len(names):
                raise LakeFormatGatedError(
                    f"field-id resolution for {ap} collides on physical "
                    f"names {sorted(n for _, n in names)}"
                )
            return tuple(names)

    else:
        _const_names = tuple((f.name, pname(f.name)) for f in data_fields)

        def file_names(ap: str) -> tuple:
            return _const_names

    # group by (partition key, column remap): partition values inject
    # per group, and each remap group scans with ITS physical names —
    # group count is bounded by partitions × distinct historical
    # schemas, so the union stays shallow
    groups: dict[tuple, list[str]] = {}
    for f, ap in zip(snap["files"], all_paths):
        pv = f["partitionValues"]
        pkey = tuple(pv.get(pname(c), pv.get(c)) for c in pcols)
        groups.setdefault((pkey, file_names(ap)), []).append(ap)
    out_names = [f.name for f in schema.fields] + (
        ["__fp", "__pos"] if has_dv else []
    )
    parts = []
    # None-safe ordering: nullable partition columns write
    # partitionValues of null (Hive default partition)
    for (pkey, remap), paths in sorted(
        groups.items(),
        key=lambda kv: (tuple((v is None, v) for v in kv[0][0]), kv[0][1]),
    ):
        names = dict(remap)
        read_schema = T.StructType(
            [
                T.StructField(names[f.name], f.dataType, f.nullable)
                for f in data_fields
            ]
        )
        part = spark.read.schema(read_schema).parquet(*paths)
        if any(names[f.name] != f.name for f in data_fields) or has_dv:
            # metadata columns resolve against the scan relation — take
            # them in the FIRST projection, before partition withColumns
            part = part.select(
                *[F.col(names[f.name]).alias(f.name) for f in data_fields],
                *meta_sel,
            )
        for c, val in zip(pcols, pkey):
            part = part.withColumn(c, F.lit(val).cast(schema[c].dataType))
        parts.append(part.select(*out_names))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = _apply_dv(spark, out, dels, schema, [_uri_path(p) for p in all_paths])
    return out if row_filter is None else out.filter(row_filter)


def _dv_positions_local(
    spark: SparkSession, table_path: str, dv_files: list[tuple[str, dict]]
) -> DataFrame:
    """Driver-side decode (small DV totals): one pass, no extra stage.
    numpy-backed frame, NOT a python tuple list: at the cap this is
    ~8 B/position plus one shared string reference per path (np.repeat
    on an object array repeats references), where a tuple list costs
    ~90 B/position and briefly tripled the footprint the cap budgets."""
    import numpy as np
    import pandas as pd

    dv_map = {ap: _dv_positions(table_path, desc) for ap, desc in dv_files}
    paths = list(dv_map)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "__fp": np.repeat(
                    np.array(paths, dtype=object),
                    [len(dv_map[p]) for p in paths],
                ),
                "__pos": np.fromiter(
                    (pos for p in paths for pos in dv_map[p]),
                    dtype=np.int64,
                ),
            }
        ),
        schema="__fp string, __pos long",
    )


def _dv_positions_distributed(
    spark: SparkSession, table_path: str, dv_files: list[tuple[str, dict]]
) -> DataFrame:
    """EXECUTOR-side decode: descriptors ship as metadata rows — one per
    DV-bearing file — and each task runs the SAME ``_dv_positions``
    decode (roaring.py, all magic/CRC/cardinality validation intact; a
    corrupt DV fails its task loudly) and emits Arrow batches of
    (file_path, row_index).  Positions never touch the driver, so TOTAL
    DV cardinality is unbounded (one blob is still bounded by
    _DV_TASK_CAP, gated loudly before launch); parallelism is the
    DV-file count, the natural unit (one blob decodes sequentially).
    This is the sanctioned-Python pattern the multimodal codec boundary
    uses: Python only where a byte format needs decoding, Arrow-batched,
    at metadata cardinality."""
    import pandas as pd

    rows = [(ap, json.dumps(desc)) for ap, desc in dv_files]
    n_parts = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    desc_df = spark.createDataFrame(
        rows, "__fp string, __dv string"
    ).repartition(n_parts)

    def decode(batches):
        import numpy as np

        for pdf in batches:
            for ap, dv_json in zip(pdf["__fp"], pdf["__dv"]):
                positions = _dv_positions(table_path, json.loads(dv_json))
                yield pd.DataFrame(
                    {
                        "__fp": np.repeat(
                            np.array([ap], dtype=object), len(positions)
                        ),
                        "__pos": np.asarray(positions, dtype=np.int64),
                    }
                )

    return desc_df.mapInPandas(decode, "__fp string, __pos long")


def _apply_dv(
    spark: SparkSession,
    out: DataFrame,
    dels: DataFrame | None,
    schema: T.StructType,
    all_paths: list[str],
) -> DataFrame:
    """Anti-join the (file_path, row_index) delete set — driver-decoded
    or executor-decoded, same shape; no broadcast hint — AQE broadcasts
    small delete sets from measured size and shuffles genuinely large
    ones (same posture as the Iceberg equality-delete join).

    Guard: if Spark's ``_metadata.file_path`` rendering ever diverges
    from the log-derived paths (percent encoding, exotic schemes), the
    anti-join would match NOTHING and silently resurrect every deleted
    row — so every data row must first find its file in the broadcast
    path map (assert_true folded into a used column, same pattern as the
    Iceberg seq-map join)."""
    if dels is None:
        return out
    import pandas as pd

    known = spark.createDataFrame(
        pd.DataFrame({"__fp": sorted(all_paths)}), schema="__fp string"
    ).withColumn("__known", F.lit(1))
    # fold the assertion into __pos — the anti-join KEY — so column
    # pruning cannot optimize the check away (select-then-drop of a
    # dedicated flag column would be pruned to nothing)
    out = out.join(F.broadcast(known), "__fp", "left").withColumn(
        "__pos",
        F.when(
            F.assert_true(
                F.col("__known").isNotNull(),
                F.concat(
                    F.lit("deletion-vector path map has no entry for "),
                    F.col("__fp"),
                ),
            ).isNull(),
            F.col("__pos"),
        ),
    )
    return out.join(dels, ["__fp", "__pos"], "left_anti").select(
        *[f.name for f in schema.fields]
    )


def _cdf_fingerprint(state: _DeltaState):
    """What must stay FIXED across a CDF range for every commit's files
    to be readable with the final schema: unmapped tables → the full
    schema JSON + partitioning (a rename rewrote nothing but renamed
    the parquet column the pre-images carry — gate); mapped tables →
    the PHYSICAL layout (physical names, types, nullability) and the
    physically-keyed partitioning, so a metadata-only logical rename
    passes while add/drop/type/partitioning changes still gate."""
    if state.column_mapping_mode == "none":
        return (
            "none",
            json.dumps(state.schema.jsonValue(), sort_keys=True),
            tuple(state.partition_columns),
        )
    pn = state.physical_names
    if state.column_mapping_mode == "id":
        # id mode: column identity IS the field id (physicalName may be
        # absent entirely); partitionValues stay physically keyed
        ids = state.field_ids
        return (
            "id",
            tuple(
                sorted(
                    (ids[f.name], f.dataType.json(), f.nullable)
                    for f in state.schema.fields
                )
            ),
            tuple(pn.get(c, c) for c in state.partition_columns),
        )
    return (
        state.column_mapping_mode,
        tuple(
            sorted(
                (pn.get(f.name, f.name), f.dataType.json(), f.nullable)
                for f in state.schema.fields
            )
        ),
        tuple(pn.get(c, c) for c in state.partition_columns),
    )


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    start_version: int,
    end_version: int | None = None,
) -> DataFrame:
    """Delta CHANGE DATA FEED for commits ``start_version..end_version``
    (inclusive; default latest): table columns + ``_change_type`` +
    ``_commit_version``, per PROTOCOL.md's Change Data Files rules —
    - a commit WITH ``cdc`` actions: its ``_change_data`` files are the
      AUTHORITATIVE change set (they physically carry ``_change_type``,
      including update_preimage/update_postimage rows); add/remove
      actions in that commit are NOT double-counted;
    - a commit WITHOUT ``cdc`` actions derives changes from metadata:
      ``add(dataChange=true)`` files are inserts, ``remove(dataChange=
      true)`` files (content as of the PREVIOUS version) are deletes;
      ``dataChange=false`` rewrites (compaction) contribute nothing.
    The range replays ONE incremental state walk (the start-1 snapshot
    seeds it; each commit is parsed exactly once and buffered), so the
    gates are PER COMMIT, as real readers enforce:
    ``delta.enableChangeDataFeed`` must be true at EVERY commit in the
    range (a commit made before enablement recorded no change data —
    deriving it would fabricate whole-file churn), the schema and
    partitioning must not change PHYSICALLY inside the range (gated
    naming the CHANGING commit; on a mode-'name' column-mapped table a
    metadata-only logical RENAME passes — the cdc/data parquet are
    untouched and scans run under physical names — while add/drop/type
    changes still gate; on a mode-'id' table identity keys on FIELD IDS,
    so a rename passes there too), a commit touching deletion vectors
    without cdc files gates, and vacuumed ranges gate.  Mode-'id'
    cdc/data scans resolve per file by footer field id (metadata
    physicalName as the no-ids fallback) and batch per (commit,
    change_type, partitionValues, resolved-name map);
    unmapped/mode-'name' scans batch per (commit, change_type,
    partitionValues)."""
    log = _delta_log_dir(table_path)
    if start_version < 0:
        raise LakeFormatError(f"invalid CDF start_version {start_version}")
    _, _, latest = _log_versions(log)
    if end_version is None:
        end_version = latest
    if end_version > latest:
        raise LakeFormatError(
            f"CDF end version {end_version} not in log (latest {latest})"
        )
    if start_version > end_version:
        raise LakeFormatError(
            f"CDF range start {start_version} > end {end_version}"
        )
    state = (
        _state_as_of(table_path, start_version - 1)[0]
        if start_version > 0
        else _DeltaState()
    )
    cur_fingerprint = _cdf_fingerprint(state) if state.schema else None
    # one pass: parse each range commit once, apply, buffer what the
    # scan/validation phase needs (prev file map only when a derived
    # remove will consult it; fingerprint only recomputed on metaData)
    records = []
    for v in range(start_version, end_version + 1):
        if not (log / f"{v:020d}.json").exists():
            raise LakeFormatGatedError(
                f"CDF commit {v} is not in the retained JSON log — "
                "that history was vacuumed"
            )
        parsed = _parse_commit(log, v)
        # buffer ONLY the removed paths' prior entries (O(removes)) —
        # a full state.files copy per commit held O(range × files)
        # driver memory across the buffered records
        need_prev = not parsed["cdc"] and any(
            r.get("dataChange", True) for r in parsed["removes"]
        )
        prev_files = (
            {
                r["path"]: state.files.get(r["path"])
                for r in parsed["removes"]
                if r.get("dataChange", True)
            }
            if need_prev
            else None
        )
        pre_fingerprint = cur_fingerprint
        _apply_commit(state, parsed)
        if state.schema is None:
            raise LakeFormatError(
                f"commit {v} precedes the table's metaData — malformed log"
            )
        if parsed["meta"]:
            cur_fingerprint = _cdf_fingerprint(state)
        if (
            state.configuration.get(
                "delta.enableChangeDataFeed", "false"
            ).lower()
            != "true"
        ):
            # per-commit, as real readers enforce: a commit made while
            # CDF was off recorded no change data, and deriving it
            # would fabricate whole-file delete+insert churn
            raise LakeFormatGatedError(
                f"change data was not recorded for commit {v} "
                "(delta.enableChangeDataFeed was not true at that version)"
            )
        if pre_fingerprint is not None and cur_fingerprint != pre_fingerprint:
            # mapped tables compare the PHYSICAL layout, so a
            # metadata-only logical rename mid-range is fine (the cdc
            # and data parquet are untouched) while
            # add/drop/type/partitioning changes still gate; unmapped
            # tables keep the strict full-schema comparison
            raise LakeFormatGatedError(
                f"commit {v} changes the table schema/partitioning inside "
                "the CDF range — its old-schema delete pre-images cannot "
                "be read with the new schema"
            )
        records.append((v, parsed, prev_files))
    schema: T.StructType = state.schema
    pcols = state.partition_columns
    # column mapping mode 'name': cdc and data
    # parquet store PHYSICAL column names (partitionValues keyed the
    # same way), so scans use the physical schema and the projection
    # aliases back to the END-of-range logical names — the fingerprint
    # gate above guarantees the physical layout is constant across the
    # range, so one mapping serves every commit
    phys = state.physical_names if state.column_mapping_mode != "none" else {}
    pname = lambda c: phys.get(c, c)  # noqa: E731
    data_fields = [f for f in schema.fields if f.name not in pcols]
    if state.column_mapping_mode == "id":
        # mode 'id': cdc and data parquet
        # resolve by FOOTER FIELD ID against delta.columnMapping.id —
        # the same cached O(metadata) probe the snapshot reader uses —
        # with the metadata physicalName as the no-footer-ids fallback;
        # scans group by (partition key, resolved name map) so files
        # from different physical writers union cleanly
        fids = dict(state.field_ids)

        def file_names(ap: str) -> tuple:
            top, _nested, _names = _parquet_field_names_by_id(ap)
            names = []
            for fld in data_fields:
                pn = top.get(fids[fld.name], phys.get(fld.name))
                if pn is None:
                    raise LakeFormatGatedError(
                        f"column mapping mode 'id': {ap} carries no "
                        f"parquet field id {fids[fld.name]} for column "
                        f"{fld.name!r} and the log records no "
                        "physicalName fallback"
                    )
                names.append((fld.name, pn))
            if len({n for _, n in names}) != len(names):
                raise LakeFormatGatedError(
                    f"field-id resolution for {ap} collides on physical "
                    f"names {sorted(n for _, n in names)}"
                )
            return tuple(names)

    else:
        _const_names = tuple((f.name, pname(f.name)) for f in data_fields)

        def file_names(ap: str) -> tuple:
            return _const_names

    out_cols = [f.name for f in schema.fields] + [
        "_change_type",
        "_commit_version",
    ]

    def finish(df, pv: dict, v: int, change_type: str | None, names: tuple):
        sel = [F.col(pn).alias(ln) for ln, pn in names]
        if change_type is None:
            sel.append(F.col("_change_type"))
        df = df.select(*sel)
        for c in pcols:
            df = df.withColumn(
                c,
                F.lit(pv.get(pname(c), pv.get(c))).cast(schema[c].dataType),
            )
        ct = (
            F.col("_change_type")
            if change_type is None
            else F.lit(change_type)
        )
        return df.select(
            *[f.name for f in schema.fields],
            ct.alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    outs = []
    types_by_name = {f.name: f for f in data_fields}

    def scan_groups(actions, v, change_type, pv_of, use_cdc_schema=False):
        groups: dict[tuple, tuple[dict, tuple, list[str]]] = {}
        for a in actions:
            pv = pv_of(a)
            names = file_names(os.path.join(table_path, a["path"]))
            key = (tuple(sorted(pv.items())), names)
            groups.setdefault(key, (pv, names, []))[2].append(a["path"])
        # None-safe ordering: nullable partition columns write
        # partitionValues of null (same key as the snapshot reader)
        for _, (pv, names, paths) in sorted(
            groups.items(),
            key=lambda kv: (
                tuple(
                    (n, val is None, "" if val is None else val)
                    for n, val in kv[0][0]
                ),
                kv[0][1],
            ),
        ):
            sch_fields = [
                T.StructField(
                    pn,
                    types_by_name[ln].dataType,
                    types_by_name[ln].nullable,
                )
                for ln, pn in names
            ]
            if use_cdc_schema:
                sch_fields.append(
                    T.StructField("_change_type", T.StringType(), True)
                )
            df = spark.read.schema(T.StructType(sch_fields)).parquet(
                *[os.path.join(table_path, p) for p in sorted(paths)]
            )
            outs.append(finish(df, pv, v, change_type, names))

    for v, parsed, prev_files in records:
        if parsed["cdc"]:
            scan_groups(
                parsed["cdc"],
                v,
                None,
                lambda c: c.get("partitionValues") or {},
                use_cdc_schema=True,
            )
            continue
        # DATA-CHANGING deletion-vector involvement in a cdc-less commit
        # gates — including a DV re-add with dataChange=false: skipping
        # it as 'compaction' while deriving the paired remove would
        # report the WHOLE file deleted when the commit only DV-deleted
        # a few rows (caught by this path's own gate test).  A
        # dataChange=false REMOVE that merely mirrors its file's DV
        # descriptor (the protocol's tombstone shape — OPTIMIZE applying
        # a DV physically) declares no logical change and must stay
        # invisible here, exactly like its paired compacted add.
        if any(a.get("deletionVector") for a in parsed["adds"]) or any(
            r.get("deletionVector") and r.get("dataChange", True)
            for r in parsed["removes"]
        ):
            raise LakeFormatGatedError(
                f"commit {v} changes deletion vectors without cdc "
                "files — row-level changes cannot be derived"
            )
        scan_groups(
            [a for a in parsed["adds"] if a.get("dataChange", True)],
            v,
            "insert",
            lambda a: a.get("partitionValues") or {},
        )
        derived_removes = []
        for r in parsed["removes"]:
            if not r.get("dataChange", True):
                continue
            prev = prev_files.get(r["path"]) if prev_files else None
            if prev is None:
                raise LakeFormatError(
                    f"commit {v} removes {r['path']} which version "
                    f"{v - 1} does not contain — malformed log"
                )
            if prev.get("deletionVector"):
                raise LakeFormatGatedError(
                    f"commit {v} removes a DV-bearing file without cdc "
                    "files — the already-deleted rows cannot be excluded"
                )
            derived_removes.append(prev)
        scan_groups(
            derived_removes,
            v,
            "delete",
            lambda f: f.get("partitionValues") or {},
        )
    if not outs:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), True),
                    T.StructField("_commit_version", T.LongType(), True),
                ]
            ),
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(*out_cols)


# ------------------------------------------------------------ Iceberg

_ICEBERG_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _iceberg_type(t) -> T.DataType:
    if isinstance(t, str):
        if t in _ICEBERG_PRIMITIVES:
            return _ICEBERG_PRIMITIVES[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise LakeFormatError(f"unsupported Iceberg type: {t}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"], _iceberg_type(f["type"]), not f.get("required", False)
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            _iceberg_type(t["element"]), not t.get("element-required", False)
        )
    if kind == "map":
        return T.MapType(
            _iceberg_type(t["key"]),
            _iceberg_type(t["value"]),
            not t.get("value-required", False),
        )
    raise LakeFormatError(f"unsupported Iceberg type: {t}")


def iceberg_schema_to_spark(schema: dict) -> T.StructType:
    """Iceberg schema JSON (spec v2 §Schemas) → Spark StructType.
    ``required`` maps to non-nullable; uuid/fixed land on the closest
    Spark type (string/binary) — the same mapping iceberg-spark uses."""
    out = _iceberg_type({"type": "struct", "fields": schema["fields"]})
    assert isinstance(out, T.StructType)
    return out


def iceberg_metadata(metadata_path: str) -> dict:
    with open(metadata_path) as f:
        meta = json.load(f)
    if meta.get("format-version") not in (1, 2):
        raise LakeFormatError(
            f"unsupported Iceberg format-version: {meta.get('format-version')}"
        )
    return meta


def _iceberg_nested_ids(schema_json: dict) -> dict[int, str]:
    """field-id → name for every NESTED field of an Iceberg schema
    (struct members, list elements, map keys/values carry ids too)."""
    out: dict[int, str] = {}

    def walk_type(t) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            for f in t.get("fields", []):
                out[f["id"]] = f["name"]
                walk_type(f.get("type"))
        elif kind == "list":
            walk_type(t.get("element"))
        elif kind == "map":
            walk_type(t.get("key"))
            walk_type(t.get("value"))

    for f in schema_json.get("fields", []):
        walk_type(f.get("type"))
    return out


def iceberg_snapshot_info(
    metadata_path: str,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> dict:
    """Resolve one snapshot (default: current) against metadata.json:
    schema (translated), snapshot row, and lineage depth — everything
    the JSON holds; the avro manifest list is NOT touched here.
    ``ref`` resolves through the spec's named refs map (tags and
    branches) instead of a literal snapshot id."""
    meta = iceberg_metadata(metadata_path)
    if ref is not None:
        if snapshot_id is not None:
            raise LakeFormatError(
                "pass snapshot_id OR ref, not both — they could disagree"
            )
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise LakeFormatError(
                f"no ref {ref!r} on this table; refs: {sorted(refs)}"
            )
        snapshot_id = int(refs[ref]["snapshot-id"])
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if sid not in snaps:
        raise LakeFormatError(f"snapshot {sid} not in metadata {sorted(snaps)}")
    snap = snaps[sid]
    if meta["format-version"] == 1:
        schema_json = meta["schema"]
    else:
        by_id = {s["schema-id"]: s for s in meta["schemas"]}
        schema_json = by_id[snap.get("schema-id", meta["current-schema-id"])]
    depth, cur = 0, snap
    while cur.get("parent-snapshot-id") in snaps:
        depth += 1
        cur = snaps[cur["parent-snapshot-id"]]
    specs_by_id = {
        spec.get("spec-id"): list(spec.get("fields", []))
        for spec in meta.get("partition-specs", [])
    }
    spec_fields = list(specs_by_id.get(meta.get("default-spec-id"), []))
    return {
        "snapshot": snap,
        "schema": iceberg_schema_to_spark(schema_json),
        # raw schema JSON rides along for the skipping module: bound
        # decoding (Appendix D) and bucket hashing (Appendix B) are
        # keyed on the ICEBERG type, which the Spark translation loses
        "schema_json": schema_json,
        "partition_spec_fields": spec_fields,
        # per-spec-id fields + evolution flag: transform pruning may
        # only use a manifest's OWN spec (default-spec transforms
        # against old-spec partition tuples would prune live files);
        # with one spec ever, every manifest shares it
        "partition_specs_by_id": specs_by_id,
        "partition_spec_unambiguous": len(specs_by_id) <= 1,
        "default_spec_id": meta.get("default-spec-id"),
        # Iceberg identifies columns by FIELD ID (equality_ids in delete
        # files reference these, surviving renames); the top-level map
        # drives column resolution, the nested map exists so renamed
        # nested fields GATE instead of silently null-filling (nested
        # remap / nested equality deletes stay out of scope)
        "field_names_by_id": {f["id"]: f["name"] for f in schema_json["fields"]},
        "nested_names_by_id": _iceberg_nested_ids(schema_json),
        "lineage_depth": depth,
        "metadata": meta,
    }


def _manifest_keep_fn(info: dict, predicate: list | None):
    """ONE manifest-list prune decision shared by the entries walk and
    the F11 audit, so the measured prune cannot drift from the
    executed one.  Returns
    keep(mlist_row) — delete manifests always keep."""
    if not predicate:
        return lambda m: True
    from . import skipping as _skipping

    ctx = _skipping.make_iceberg_match_context(
        info["schema_json"], info["field_names_by_id"]
    )
    norm = _skipping.normalize_predicate_iceberg(predicate, ctx)

    def keep(m: dict) -> bool:
        if int(m.get("content") or 0) == 1:
            return True
        return _skipping.iceberg_manifest_matches(
            m,
            ctx,
            norm,
            _resolve_spec_fields(info, m.get("partition_spec_id")),
            prenormalized=True,
        )

    return keep


def _resolve_spec_fields(info: dict, sid) -> list | None:
    """The partition spec a manifest (and its entries) was written
    under, or None when it cannot be determined safely — an explicit
    partition_spec_id wins; otherwise the default spec ONLY when the
    table has never evolved its spec (default-spec transforms against
    old-spec partition tuples would prune live files).
    None disables transform/summary pruning; bounds pruning is
    unaffected.  ONE definition shared by the manifest walk and the
    data read so the two policies can never diverge."""
    if sid is not None:
        return info["partition_specs_by_id"].get(int(sid))
    if info["partition_spec_unambiguous"]:
        return info["partition_spec_fields"]
    return None


def _resolve(path: str, table_root: str) -> str:
    """Iceberg metadata stores manifest/file locations as URIs; a
    relative path resolves STRICTLY against the table root — never the
    process cwd, which could silently hit another table's files.  A
    non-file URI scheme (s3://, hdfs://...) gates LOUDLY instead of
    being joined onto the table root as a nonsense local path."""
    for scheme in ("file://",):
        if path.startswith(scheme):
            path = path[len(scheme) :]
    if "://" in path:
        raise LakeFormatGatedError(
            f"unsupported URI scheme in metadata location {path!r} — only "
            "file:// and bare paths are readable in this environment"
        )
    if os.path.isabs(path):
        return path
    return os.path.join(table_root, path)


# Iceberg manifest files are IMMUTABLE once written (a new snapshot
# writes new manifests; reused ones are listed by path), so a
# (path, size, mtime)-keyed cache is exact — the manifest caching every
# production Iceberg reader does.  A multi-snapshot audit re-walks the
# same manifest files once per snapshot otherwise.  Bounded FIFO so a
# long-lived session over many tables cannot grow it without limit.
_AVRO_CACHE: dict[tuple[str, int, int], list[dict]] = {}
_AVRO_CACHE_MAX = 4096


def _read_avro_records(*paths: str) -> list[dict]:
    """Driver-side read of avro MANIFEST files and manifest lists
    through the pure-Python container reader (``sources/avrocore.py``,
    every spec codec).  Manifests are metadata, O(#files) pointer rows,
    the avro analogue of Delta's JSON commit files; data rows never
    take this path.  Results are cached per (path,
    size, mtime_ns) — manifests are immutable, so the key is exact.  A
    malformed container raises ``LakeFormatError``."""
    from . import avrocore

    out: list[dict] = []
    for path in paths:
        st = os.stat(path)
        # st_mtime_ns, not float st_mtime: a manifest rewritten with
        # identical size within float-mtime precision must not serve a
        # stale entry
        key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
        recs = _AVRO_CACHE.get(key)
        if recs is None:
            try:
                recs = avrocore.read_container(path)
            except avrocore.AvroReadError as e:
                raise LakeFormatError(f"avro manifest decode failed: {e}")
            if len(_AVRO_CACHE) >= _AVRO_CACHE_MAX:
                _AVRO_CACHE.pop(next(iter(_AVRO_CACHE)))
            _AVRO_CACHE[key] = recs
        out.extend(recs)
    return out


def write_avro_records(dest: str, schema_json: str, records: list[dict]) -> None:
    """Counterpart writer (fixtures / manifest export): spec-true
    container files any Iceberg reader can open, encoded in pure Python
    (``sources/avrocore.py``).  Byte-level compatibility is pinned by
    test both ways: the JVM DataFileReader reads Python-written files,
    and JVM-written files decode identically through the Python
    reader."""
    from . import avrocore
    from .staging import publish_file

    publish_file(dest, lambda tmp: avrocore.write_container(tmp, schema_json, records))


def iceberg_snapshot_entries(
    metadata_path: str,
    snapshot_id: int | None = None,
    predicate: list | None = None,
) -> list[dict]:
    """ALL manifest entries a snapshot's manifest list reaches —
    including EXISTING (status 0) and DELETED (status 2) entries and
    delete files — flattened to plain dicts.  This is the raw material
    for an incremental change feed: an entry's
    ``status``/``snapshot_id`` say which snapshot added or removed the
    file, so diffing two snapshots is pure metadata and reading only the
    referenced files is O(delta).  Driver-side O(metadata), same posture
    as the data read.

    ``predicate``: DATA manifests whose manifest-list partition field
    summaries PROVE no entry matches are skipped before their avro is
    ever opened — on a 100 TB table with thousands of manifests the
    driver walk scales with MATCHING manifests, not all of them.  Delete
    manifests are never summary-skipped (their targets may survive in
    kept manifests)."""
    info = iceberg_snapshot_info(metadata_path, snapshot_id)
    snap = info["snapshot"]
    table_root = os.path.dirname(os.path.dirname(os.path.abspath(metadata_path)))
    mlist = _resolve(snap["manifest-list"], table_root)
    keep_manifest = _manifest_keep_fn(info, predicate)
    out = []
    for m in _read_avro_records(mlist):
        is_delete_manifest = int(m.get("content") or 0) == 1
        if not keep_manifest(m):
            continue
        # Iceberg metadata INHERITANCE (spec "Sequence Number
        # Inheritance" / manifest-entry field notes): an entry's
        # snapshot_id and (for ADDED entries) sequence numbers are
        # optional in the manifest and inherited from the manifest
        # list's added_snapshot_id / sequence_number when null.  Real
        # writers rely on this — fast appends never rewrite entries —
        # so without it every entry reads as ownerless and a change
        # feed comes back silently empty.
        inh_sid = m.get("added_snapshot_id")
        inh_seq = m.get("sequence_number")
        for e in _read_avro_records(_resolve(m["manifest_path"], table_root)):
            d = e["data_file"]
            sid = e.get("snapshot_id")
            if sid is None:
                sid = inh_sid
            seq = e.get("sequence_number")
            if seq is None and int(e.get("status") or 0) == 1:
                seq = inh_seq
            out.append(
                {
                    "status": int(e.get("status") or 0),
                    "snapshot_id": None if sid is None else int(sid),
                    "sequence_number": None if seq is None else int(seq),
                    "is_delete_manifest": is_delete_manifest,
                    "content": int(d.get("content") or 0),
                    # the data read's malformed-metadata gate needs to
                    # know whether content was WRITTEN or defaulted
                    "content_explicit": d.get("content") is not None,
                    "equality_ids": d.get("equality_ids"),
                    "path": _resolve(d["file_path"], table_root),
                    "rel_path": d["file_path"],
                    "file_format": str(d.get("file_format", "PARQUET")).upper(),
                    "record_count": int(d.get("record_count") or 0),
                    # column stats + partition-transform values for the
                    # file-skipping decision (sources/skipping.py);
                    # absent fields read as None → keep the file
                    "lower_bounds": d.get("lower_bounds"),
                    "upper_bounds": d.get("upper_bounds"),
                    "null_value_counts": d.get("null_value_counts"),
                    "value_counts": d.get("value_counts"),
                    "partition": d.get("partition"),
                    # the MANIFEST's spec id — entries inherit it; the
                    # data read resolves transform pruning per entry
                    # against this spec, never blindly the default
                    "partition_spec_id": (
                        None
                        if m.get("partition_spec_id") is None
                        else int(m.get("partition_spec_id"))
                    ),
                }
            )
    return out


def iceberg_manifest_prune_stats(
    metadata_path: str,
    snapshot_id: int | None = None,
    predicate: list | None = None,
) -> dict:
    """MANIFEST-LIST-level pruning decision, measured: walks ONLY the
    manifest list (never the manifests) and reports how many data
    manifests a predicate's partition-summary check would open —
    the driver-metadata twin of the file-level files_kept evidence.
    Returns {"manifests_total", "manifests_matched",
    "delete_manifests"} (delete manifests are never summary-skipped)."""
    from . import skipping as _skipping

    info = iceberg_snapshot_info(metadata_path, snapshot_id)
    if predicate:
        _skipping.validate_predicate(
            predicate, [f.name for f in info["schema"].fields]
        )
    keep_manifest = _manifest_keep_fn(info, predicate)
    table_root = os.path.dirname(
        os.path.dirname(os.path.abspath(metadata_path))
    )
    mlist = _resolve(info["snapshot"]["manifest-list"], table_root)
    total = matched = deletes = 0
    for m in _read_avro_records(mlist):
        if int(m.get("content") or 0) == 1:
            deletes += 1
            continue
        total += 1
        if keep_manifest(m):
            matched += 1
    return {
        "manifests_total": total,
        "manifests_matched": matched,
        "delete_manifests": deletes,
    }


# footer-probe cache keyed by (path, size, mtime) — data files are
# immutable once committed, and the gated keys + oracle re-verifies
# read the same snapshot repeatedly (same move as _AVRO_CACHE for
# manifests).  Bounded FIFO so long sessions over many tables stay
# flat.
_FOOTER_CACHE: dict[
    tuple, tuple[dict[int, str], dict[int, str], frozenset]
] = {}
_FOOTER_CACHE_MAX = 4096


def _parquet_field_names_by_id(
    path: str,
) -> tuple[dict[int, str], dict[int, str], frozenset]:
    """(top-level field-id → physical name, nested ditto, top-level
    column NAME set) from a parquet footer (pyarrow, O(metadata),
    driver-side — the same footer an Iceberg reader consults at task
    setup).  The id maps are empty when the file carries no field ids
    (non-Iceberg writer / imported files); the name set is what the
    identity back-fill rule keys on (a column physically ABSENT from
    the file takes its value from the entry's partition record).  The
    nested map exists so a renamed nested field can GATE instead of
    silently null-filling (nested remap is not implemented)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    hit = _FOOTER_CACHE.get(key)
    if hit is not None:
        return hit
    top: dict[int, str] = {}
    nested: dict[int, str] = {}

    def collect(field, is_top: bool) -> None:
        fid = (field.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            (top if is_top else nested)[int(fid)] = field.name
        t = field.type
        if pa.types.is_struct(t):
            for i in range(t.num_fields):
                collect(t.field(i), False)
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            collect(t.value_field, False)
        elif pa.types.is_map(t):
            collect(t.key_field, False)
            collect(t.item_field, False)

    names = []
    for f in pq.read_schema(path):
        collect(f, True)
        names.append(f.name)
    while len(_FOOTER_CACHE) >= _FOOTER_CACHE_MAX:
        _FOOTER_CACHE.pop(next(iter(_FOOTER_CACHE)))
    out = (top, nested, frozenset(names))
    _FOOTER_CACHE[key] = out
    return out


_FILL_OK_TYPES = (
    T.StringType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.BooleanType,
)


def _iceberg_grouped_read(
    spark: SparkSession,
    files: list[str],
    info: dict,
    with_meta: bool,
    identity_fill: dict | None = None,
) -> DataFrame:
    """Read data files with FIELD-ID column resolution — the Iceberg
    spec's rule (names are mutable; ids are identity).  A renamed
    column's data files keep the OLD parquet name, so a name-based read
    silently null-fills the renamed column; here each file's footer ids
    are compared to the snapshot schema's ids and files are grouped by
    their physical→logical rename mapping, each group scanned with its
    physical names and projected back to logical ones (the same
    metadata-only move as Delta column mapping, F5).  Files without
    field ids keep the name-based read (today's schema-evolution
    semantics: absent columns read as NULL).  Footer probing is one
    driver-side O(metadata) read per file — the planning cost every
    Iceberg reader pays; group count is bounded by distinct historical
    schemas, so the union stays shallow.

    ``identity_fill`` (path → {column → partition value}) implements
    the spec's IDENTITY BACK-FILL rule: an identity-transform source
    column physically ABSENT from a data file (Hive-imported layouts,
    Delta-exported tables) takes its value from the entry's partition
    record.  Applied as ONE metadata-sized broadcast join on the
    normalized file path — never a per-partition scan group — and as
    ``coalesce(stored, fill)``, which is exact because identity means
    stored ≡ partition value wherever both exist.  A column that needs
    back-fill but is not exactly literal-representable (beyond
    string/integer/boolean) gates loudly."""
    logical_by_id = info["field_names_by_id"]
    nested_by_id = info.get("nested_names_by_id") or {}
    schema: T.StructType = info["schema"]
    # which columns actually need the back-fill join: absent from at
    # least one file's footer AND covered by that file's fill map
    fill_cols: list[str] = []
    if identity_fill:
        need: set[str] = set()
        for p in files:
            _t, _n, names = _parquet_field_names_by_id(p)
            fills = identity_fill.get(os.path.normpath(p)) or {}
            need |= {c for c in fills if c not in names}
        by_name = {f.name: f for f in schema.fields}
        for c in sorted(need):
            f = by_name.get(c)
            if f is None:
                continue
            if not isinstance(f.dataType, _FILL_OK_TYPES):
                raise LakeFormatGatedError(
                    f"identity back-fill for column {c!r} of type "
                    f"{f.dataType.simpleString()} is not supported — only "
                    "string/integer/boolean partition values are exactly "
                    "literal-representable"
                )
            fill_cols.append(c)
        if fill_cols:
            for p in files:
                ap = os.path.abspath(p)
                if _uri_path(ap) != ap:
                    raise LakeFormatGatedError(
                        f"identity back-fill over a data-file path that "
                        f"needs URI percent-encoding ({ap!r}) cannot be "
                        "matched against Spark's encoded rendering"
                    )
    groups: dict[tuple, list[str]] = {}
    for p in files:
        fids, nested_fids, _names = _parquet_field_names_by_id(p)
        renamed_nested = sorted(
            f"{phys}→{nested_by_id[fid]} (id {fid})"
            for fid, phys in nested_fids.items()
            if fid in nested_by_id and nested_by_id[fid] != phys
        )
        if renamed_nested:
            # nested remap is NOT implemented — a name-based read would
            # silently null-fill the renamed subfield, so gate (the
            # Delta twin gates nested mapped columns the same way)
            raise LakeFormatGatedError(
                f"renamed NESTED field(s) {renamed_nested} in {p} — "
                "field-id resolution covers top-level columns only"
            )
        remap = tuple(
            sorted(
                (phys, logical_by_id[fid])
                for fid, phys in fids.items()
                if fid in logical_by_id and logical_by_id[fid] != phys
            )
        )
        groups.setdefault(remap, []).append(p)
    norm = _norm_uri
    dfs = []
    for remap, fs in sorted(groups.items()):
        inv = {log: phys for phys, log in remap}
        read_names = [inv.get(f.name, f.name) for f in schema.fields]
        if len(set(read_names)) != len(read_names):
            # pathological rename/reuse: a schema field absent from
            # these files shares its NAME with a renamed column's
            # physical name — a name-keyed scan schema cannot express
            # that; gate rather than guess
            raise LakeFormatGatedError(
                f"field-id rename mapping collides on physical names "
                f"{sorted(read_names)} for files {fs[:2]}..."
            )
        read_schema = T.StructType(
            [
                T.StructField(n, f.dataType, f.nullable)
                for n, f in zip(read_names, schema.fields)
            ]
        )
        df = spark.read.schema(read_schema).parquet(*sorted(fs))
        sel = [
            F.col(inv.get(f.name, f.name)).alias(f.name) for f in schema.fields
        ]
        if with_meta or fill_cols:
            sel += [norm(F.col("_metadata.file_path")).alias("__fp")]
        if with_meta:
            sel += [F.col("_metadata.row_index").alias("__pos")]
        dfs.append(df.select(*sel))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if fill_cols:
        by_name = {f.name: f for f in schema.fields}
        fill_rows = [
            tuple(
                [os.path.abspath(p)]
                + [
                    (identity_fill.get(os.path.normpath(p)) or {}).get(c)
                    for c in fill_cols
                ]
            )
            for p in sorted(set(files))
        ]
        fill_schema = T.StructType(
            [T.StructField("__fp", T.StringType(), False)]
            + [
                T.StructField(f"__fill_{c}", by_name[c].dataType, True)
                for c in fill_cols
            ]
        )
        fill_df = spark.createDataFrame(fill_rows, fill_schema)
        out = out.join(F.broadcast(fill_df), "__fp", "left").select(
            *[
                (
                    F.coalesce(F.col(f.name), F.col(f"__fill_{f.name}"))
                    .alias(f.name)
                    if f.name in fill_cols
                    else F.col(f.name)
                )
                for f in schema.fields
            ],
            *(["__fp", "__pos"] if with_meta else []),
        )
    return out


def read_iceberg_snapshot(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    predicate: list | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Data read for an Iceberg snapshot: metadata.json → manifest-list
    (avro) → manifests (avro) → live parquet data files, read by
    executors with the snapshot's TRANSLATED schema (Iceberg data files
    carry all columns, so no partition reconstruction is needed —
    unlike Delta's Hive-style layout).

    v2 row-level deletes APPLY:
    - POSITION deletes (content=1): (file_path, pos) rows anti-join
      against Spark's ``_metadata.file_path`` / ``row_index`` hidden
      columns.
    - EQUALITY deletes (content=2): value rows (columns named by
      ``equality_ids`` field ids) anti-join null-safely against the
      data, applied only to data files whose ``sequence_number`` is
      LOWER than the delete file's — the spec's ordering rule, without
      which a delete would wrongly erase rows written after it.
    Fully distributed: delete rows shuffle at delete cardinality,
    never the data.  Loud gates remain for equality deletes missing
    equality_ids/sequence numbers, nested equality columns, and
    non-parquet files."""
    info = iceberg_snapshot_info(metadata_path, snapshot_id, ref=ref)
    snap = info["snapshot"]
    # the manifest walk below must see the RESOLVED id — under ref=
    # the original argument is None, which the walk would read as
    # "current" and silently return the latest state
    snapshot_id = int(snap["snapshot-id"])
    # ONE manifest walk shared with the change feed, so the data path
    # gets the spec's snapshot_id / sequence-number inheritance too: a
    # fast-append table (null entry seqs, inherited from the manifest
    # list) reads instead of gating on "data files lack sequence
    # numbers", and position deletes keep their sequence bound.
    row_filter = None
    if predicate:
        from . import skipping

        skipping.validate_predicate(
            predicate, [f.name for f in info["schema"].fields]
        )
        row_filter = skipping.predicate_column(predicate)
        match_ctx = skipping.make_iceberg_match_context(
            info["schema_json"], info["field_names_by_id"]
        )
        norm_pred = skipping.normalize_predicate_iceberg(predicate, match_ctx)
        # spec-by-source maps cached per spec id (one spec per
        # manifest; entries inherit it — transform pruning uses the
        # ENTRY's spec via _resolve_spec_fields, the ONE policy shared
        # with the manifest walk; bounds-only when undeterminable)
        _spec_maps: dict = {}

        def _entry_spec_map(e: dict):
            sid = e.get("partition_spec_id")
            if sid not in _spec_maps:
                _spec_maps[sid] = skipping.spec_by_source(
                    _resolve_spec_fields(info, sid)
                )
            return _spec_maps[sid]
    data_files: dict[str, int | None] = {}  # path -> sequence_number
    identity_fill: dict[str, dict] = {}  # normpath -> {col: part value}
    pos_delete_files: list[tuple[str, int | None]] = []  # (path, seq)
    eq_deletes: list[tuple[str, int, list[int]]] = []  # (path, seq, field ids)
    for e in iceberg_snapshot_entries(metadata_path, snapshot_id, predicate=predicate):
        if e["status"] == 2:  # DELETED entry
            continue
        content = e["content"]
        if e["file_format"] != "PARQUET":
            raise LakeFormatError(f"non-parquet data file: {e['rel_path']}")
        path = e["path"]
        seq = e["sequence_number"]
        if e["is_delete_manifest"] and not e["content_explicit"]:
            raise LakeFormatGatedError(
                "delete-manifest entry without data_file.content — "
                "cannot distinguish position from equality deletes; "
                f"refusing: {e['rel_path']}"
            )
        if content == 1:
            pos_delete_files.append((path, seq))
        elif e["is_delete_manifest"] and content == 0:
            raise LakeFormatGatedError(
                "delete-manifest entry declares content=0 (data); "
                f"malformed metadata, refusing: {e['rel_path']}"
            )
        elif content == 2:
            eq_ids = e["equality_ids"]
            if not eq_ids or seq is None:
                raise LakeFormatGatedError(
                    "equality delete without equality_ids/sequence_number "
                    "— cannot be applied correctly"
                )
            eq_deletes.append((path, seq, [int(i) for i in eq_ids]))
        else:
            # DATA file: lower/upper bounds + partition-transform
            # pruning — skipped files never
            # reach spark.read; delete files are never pruned (their
            # targets may survive).  Conservative: missing stats keep.
            if predicate and not skipping.iceberg_file_matches(
                e,
                match_ctx,
                norm_pred,
                _entry_spec_map(e),
                prenormalized=True,
            ):
                continue
            data_files[path] = seq
            # identity back-fill candidates: the entry's partition
            # values under the entry's OWN spec (evolution-safe) —
            # consumed only for columns a file physically lacks
            spec = _resolve_spec_fields(info, e.get("partition_spec_id"))
            part = e.get("partition")
            if spec and isinstance(part, dict):
                fills = {}
                for sf in spec:
                    if sf.get("transform") == "identity":
                        col = info["field_names_by_id"].get(sf.get("source-id"))
                        if col is not None and sf.get("name") in part:
                            fills[col] = part[sf["name"]]
                if fills:
                    identity_fill[os.path.normpath(path)] = fills
    if not data_files:
        return spark.createDataFrame([], info["schema"])
    cols = [f.name for f in info["schema"].fields]
    if eq_deletes and any(s is None for s in data_files.values()):
        raise LakeFormatGatedError(
            "equality deletes present but data files lack sequence numbers"
        )
    # field-id column resolution + (when deletes apply) the normalized
    # file-path / row-index metadata columns, attached per scan group
    data = _iceberg_grouped_read(
        spark,
        sorted(data_files),
        info,
        with_meta=bool(pos_delete_files or eq_deletes),
        identity_fill=identity_fill,
    )
    if not pos_delete_files and not eq_deletes:
        return data if row_filter is None else data.filter(row_filter)
    # Normalize URIs (file:///x vs /x) before any file_path comparison
    # (delete-file paths; the data side is normalized in the grouped
    # read's __fp projection).  RELATIVE stored paths resolve against
    # the TABLE ROOT — the same rule every manifest path follows
    # (absolute delete-file URIs go stale the moment a table directory
    # moves, which the write path's atomic fixture builds do by design;
    # the native delete writer therefore stores root-relative paths,
    # and foreign absolute URIs still work).
    _del_root = os.path.dirname(
        os.path.dirname(os.path.abspath(metadata_path))
    )

    def norm(c):
        stripped = _norm_uri(c)
        return F.when(
            stripped.startswith("/"), stripped
        ).otherwise(F.concat(F.lit(_del_root.rstrip("/") + "/"), stripped))
    # Iceberg v2 scopes a position delete to data files whose sequence
    # number is <= the delete file's; the bound is
    # applied whenever both sides carry sequence numbers.  A v2 table
    # with deletes always sequences its files, so the unbounded branch
    # only covers metadata that omits them — documented global
    # application, harmless while file paths are unique.
    pos_bounded = bool(pos_delete_files) and (
        all(s is not None for _, s in pos_delete_files)
        and all(s is not None for s in data_files.values())
    )
    if eq_deletes or pos_bounded:
        # attach each data row's sequence number from the manifest map
        # (broadcast at file cardinality)
        seq_map = spark.createDataFrame(
            [(_uri_path(os.path.abspath(p)), s) for p, s in data_files.items()],
            "__fp string, __seq long",
        )
        # LEFT join + per-row assertion: if Spark's URI rendering of
        # _metadata.file_path ever diverges from the manifest-derived
        # path (percent-encoding, exotic schemes), the read must FAIL
        # loudly — an inner join would silently drop those rows and
        # return a wrong "result"
        # the assertion is folded INTO __seq (assert_true returns NULL
        # on success) so column pruning cannot optimize the check away
        data = data.join(F.broadcast(seq_map), "__fp", "left").withColumn(
            "__seq",
            F.when(
                F.assert_true(
                    F.col("__seq").isNotNull(),
                    F.concat(
                        F.lit("delete seq map has no entry for data file "),
                        F.col("__fp"),
                    ),
                ).isNull(),
                F.col("__seq"),
            ),
        )
    if pos_delete_files:
        # position-delete application compares the DELETE FILES' stored
        # ``file_path`` values (raw spec URIs) against Spark's
        # percent-ENCODED _metadata rendering; the stored side cannot
        # be re-encoded in SQL, so paths that Spark would encode gate
        # loudly instead of silently resurrecting deleted rows
        encoded = [
            p
            for p in data_files
            if _uri_path(os.path.abspath(p)) != os.path.abspath(p)
        ]
        if encoded:
            raise LakeFormatGatedError(
                "position deletes over data-file paths that need URI "
                f"percent-encoding (e.g. {encoded[0]!r}) are not "
                "supported — the delete files' stored file_path strings "
                "cannot be matched against Spark's encoded rendering"
            )
        if pos_bounded:
            dels = None
            for path, dseq in sorted(set(pos_delete_files)):
                one = spark.read.parquet(path).select(
                    norm(F.col("file_path")).alias("__fp"),
                    F.col("pos").alias("__pos"),
                    F.lit(int(dseq)).alias("__dseq"),
                )
                dels = one if dels is None else dels.unionAll(one)
            cond = (
                (data["__fp"] == dels["__fp"])
                & (data["__pos"] == dels["__pos"])
                & (data["__seq"] <= dels["__dseq"])
            )
            data = data.join(dels, on=cond, how="left_anti")
        else:
            dels = spark.read.parquet(
                *sorted({p for p, _ in pos_delete_files})
            ).select(
                norm(F.col("file_path")).alias("__fp"),
                F.col("pos").alias("__pos"),
            )
            data = data.join(dels, ["__fp", "__pos"], "left_anti")
    if eq_deletes:
        names_by_id = info["field_names_by_id"]
        for path, dseq, eq_ids in eq_deletes:
            try:
                names = [names_by_id[i] for i in eq_ids]
            except KeyError as missing:
                raise LakeFormatGatedError(
                    f"equality_ids {eq_ids} reference unknown/nested field "
                    f"{missing} — only top-level columns are supported"
                ) from None
            dels = spark.read.parquet(path).select(
                *[F.col(n).alias(f"__d_{n}") for n in names]
            )
            cond = F.lit(True)
            for n in names:
                cond = cond & F.col(n).eqNullSafe(F.col(f"__d_{n}"))
            # spec ordering: the delete hits only rows from files
            # committed strictly BEFORE it.  No broadcast hint: the
            # eqNullSafe keys drive an equi-join with the seq bound as
            # residual; AQE broadcasts small delete files from measured
            # size and shuffles big ones.
            cond = cond & (F.col("__seq") < F.lit(dseq))
            data = data.join(dels, on=cond, how="left_anti")
    data = data.select(*cols)
    return data if row_filter is None else data.filter(row_filter)
