"""Manifest-commit table (write-audit-publish) — exactly-once durable
parquet without a table-format dependency (SURVEY.md §2 E; VERDICT r3
item 8).

Spark runs here without Delta/Iceberg jars (the table formats are
written natively by ``sources/deltawriter`` and ``sources/icebergwriter``),
but the property those formats buy — readers NEVER see a partially
written batch — is a protocol, not a jar.  This module implements the
protocol the way Iceberg's spec describes it (snapshot manifests +
an atomically swapped pointer), scoped to a single writer:

    <table>/
      data/<commit-uuid>/part-*.parquet   -- staged by Spark jobs
      _manifests/manifest-<v>.json        -- file list for version v
      _manifests/_latest                  -- pointer, atomic os.replace

- WRITE:   the batch lands in its own ``data/<uuid>/`` directory.  A
  crash mid-write leaves orphan files that NO manifest references —
  invisible to every reader, cleaned by ``vacuum()``.
- AUDIT:   the staged files are listed and re-counted BEFORE publish;
  a mismatch against the expected row count aborts the commit and
  leaves the table at the old version.
- PUBLISH: ``manifest-<v+1>.json`` is written to a temp name and
  ``os.replace``d (atomic on POSIX), then ``_latest`` is swapped the
  same way.  Readers resolve ``_latest`` → manifest → exact file list,
  so a reader racing a commit sees either v or v+1, never a mix.

Exactly-once streaming: ``foreach_batch_writer`` records the micro-batch
id in the manifest; a replayed batch (restart between the sink commit
and the checkpoint write — the at-least-once window every foreachBatch
sink has) is detected via ``committed_batch_ids`` and skipped, making
the sink idempotent and the pipeline exactly-once end-to-end.

At 100 TB the manifest lists grow by one entry per file; vacuum and
manifest compaction stay O(#files), and nothing here funnels data
through the driver — Spark writes the files, the driver only renames.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class CommitAuditError(RuntimeError):
    """Raised when the audit step rejects a staged batch; the table is
    left at its previous version and the staged files stay orphaned
    (invisible) until vacuum."""


class ConcurrentCommitError(RuntimeError):
    """Raised when a commit loses the version CAS race more times than
    the retry budget — only under sustained contention; a normal loser
    transparently retries onto the winner's version."""


class SchemaEvolutionError(RuntimeError):
    """Raised when an appended batch redefines an existing column with
    an incompatible type — evolution ADDS columns (null-filled for old
    files); it never silently changes one."""


def _merge_schemas(parent: T.StructType, batch: T.StructType) -> T.StructType:
    """mergeSchema semantics at the manifest level: parent columns keep
    their order, batch-only columns append; a name collision with a
    different type fails loudly (``read`` scans with the published
    union schema, which null-fills old files missing new columns)."""
    by_name = {f.name: f for f in parent.fields}
    out = list(parent.fields)
    for f in batch.fields:
        prev = by_name.get(f.name)
        if prev is None:
            out.append(f)
        elif prev.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r}: {prev.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is not an additive evolution"
            )
    return T.StructType(out)


class ManifestTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._data = os.path.join(path, "data")
        self._manifests = os.path.join(path, "_manifests")
        os.makedirs(self._data, exist_ok=True)
        os.makedirs(self._manifests, exist_ok=True)

    # ------------------------------------------------------------ read
    def current_version(self) -> int:
        """Latest PUBLISHED version.  The manifest chain is the source
        of truth; ``_latest`` is a hint that is rolled FORWARD past any
        consecutively numbered manifest above it — so a writer that
        crashed between manifest creation and pointer swap (or a
        transiently regressed pointer under concurrent swaps) never
        hides a fully published commit."""
        try:
            with open(os.path.join(self._manifests, "_latest")) as f:
                v = int(f.read().strip())
        except FileNotFoundError:
            v = 0
        while os.path.exists(os.path.join(self._manifests, f"manifest-{v + 1}.json")):
            v += 1
        return v

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._manifests, f"manifest-{version}.json")) as f:
            return json.load(f)

    def read(
        self,
        version: int | None = None,
        partition_values: list[str] | None = None,
        added_since: int | None = None,
    ) -> DataFrame:
        """The table AS OF ``version`` (default: latest) — exactly the
        files that manifest lists, with its pinned schema.  Orphaned /
        in-flight data files are unreachable by construction.

        On a partitioned table, ``partition_values`` prunes files from
        MANIFEST METADATA alone — no directory listing, no footer reads
        for skipped partitions — and the partition column is
        reconstructed from the manifest with its original type.

        ``added_since=v`` restricts to files present in the target
        version but NOT listed by manifest ``v`` — the change-data feed
        an incremental view maintainer consumes: re-aggregate ONLY the
        delta files and merge partial states, never rescan the base.
        (Append-only delta: an overwrite/compaction rewrites paths and
        shows up as all-new files — the maintainer's signal to fall
        back to a full refresh, matching the real table formats.)"""
        v = self.current_version() if version is None else version
        if v == 0:
            return self.spark.createDataFrame([], T.StructType([]))
        m = self._manifest(v)
        schema = T.StructType.fromJson(m["schema"])
        pcol = m.get("partition_by")
        files = m["files"]
        if added_since is not None and added_since > 0:
            prior = {f["path"] for f in self._manifest(added_since)["files"]}
            files = [f for f in files if f["path"] not in prior]
        if not files:
            return self.spark.createDataFrame([], schema)
        if pcol is None:
            if partition_values is not None:
                raise ValueError("table is not partitioned")
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f["path"]) for f in files]
            )
        from pyspark.sql import functions as F

        ptype = schema[pcol].dataType
        data_schema = T.StructType([f for f in schema.fields if f.name != pcol])
        groups: dict[str, list[str]] = {}
        for f in files:
            if partition_values is not None and f["partition"] not in partition_values:
                continue
            groups.setdefault(f["partition"], []).append(
                os.path.join(self.path, f["path"])
            )
        if not groups:
            return self.spark.createDataFrame([], schema)
        parts = [
            self.spark.read.schema(data_schema)
            .parquet(*paths)
            .withColumn(pcol, F.lit(val).cast(ptype))
            .select(*[f.name for f in schema.fields])
            for val, paths in sorted(groups.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def committed_batch_ids(self) -> set[int]:
        v = self.current_version()
        ids: set[int] = set()
        while v > 0:
            m = self._manifest(v)
            if m.get("batch_id") is not None:
                ids.add(m["batch_id"])
            v = m["parent"]
        return ids

    # ----------------------------------------------------------- write
    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        batch_id: int | None = None,
        expected_rows: int | None = None,
        partition_by: str | None = None,
        replace_partitions: bool = False,
    ) -> int:
        """Write-audit-publish one batch; returns the new version.

        ``expected_rows`` (when given) is the audit contract: the staged
        files are re-counted from disk and a mismatch aborts BEFORE
        publish.  ``mode='overwrite'`` publishes a manifest listing only
        this batch's files; ``'append'`` carries the parent's list
        forward.

        ``partition_by`` stages the batch hive-partitioned and records
        each file's partition VALUE in the manifest — so ``read`` can
        prune whole files from manifest metadata alone, and
        ``replace_partitions=True`` (dynamic partition overwrite)
        carries forward only the parent files whose partition the batch
        does NOT touch: the rewrite cost of an upsert becomes
        O(touched partitions), not O(table).

        Concurrency (VERDICT r4 item 5): publishing is an optimistic
        CAS on the version number — ``manifest-<v+1>.json`` is created
        with hard-link-exclusive semantics, so of two writers racing
        the same parent exactly ONE wins; the loser re-reads the new
        state, rebuilds its carried file list + merged schema on top of
        the winner, and retries (its staged files never move).  No
        committed batch can be silently lost to a pointer overwrite.

        Schema evolution (same VERDICT item): an append whose batch
        adds columns publishes the UNION schema (parent order first);
        old files null-fill the new columns at read time.  Redefining
        an existing column's type raises ``SchemaEvolutionError``."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode: {mode}")
        commit_id, staged, parts, actual = self.stage_and_audit(
            df, partition_by, expected_rows
        )
        for _ in range(20):
            parent = self.current_version()
            version = parent + 1
            manifest = self.build_manifest(
                version=version,
                parent=parent,
                commit_id=commit_id,
                staged=staged,
                parts=parts,
                actual=actual,
                batch_schema=df.schema,
                mode=mode,
                batch_id=batch_id,
                partition_by=partition_by,
                replace_partitions=replace_partitions,
            )
            if self.try_publish(version, manifest):
                return version
        raise ConcurrentCommitError(
            f"lost the version CAS 20 times publishing commit {commit_id}"
        )

    # ------------------------------------------ write internals
    def stage_and_audit(
        self,
        df: DataFrame,
        partition_by: str | None,
        expected_rows: int | None,
    ) -> tuple[str, list[str], dict[str, str], int]:
        commit_id = uuid.uuid4().hex
        staging = os.path.join(self._data, commit_id)
        # WRITE — crash here leaves an unreferenced directory, nothing more
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(staging)
        # AUDIT — list + recount from disk, never trusting the in-memory df
        if partition_by:
            staged = []
            parts: dict[str, str] = {}
            for d in sorted(os.listdir(staging)):
                full = os.path.join(staging, d)
                if not (os.path.isdir(full) and d.startswith(f"{partition_by}=")):
                    continue
                for f in sorted(os.listdir(full)):
                    if f.endswith(".parquet"):
                        rel = os.path.join("data", commit_id, d, f)
                        staged.append(rel)
                        parts[rel] = d.split("=", 1)[1]
        else:
            staged = sorted(
                os.path.join("data", commit_id, f)
                for f in os.listdir(staging)
                if f.endswith(".parquet")
            )
            parts = {}
        out_schema = (
            self.spark.read.parquet(os.path.join(self.path, staged[0])).schema
            if partition_by and staged
            else df.schema
        )
        actual = (
            self.spark.read.schema(out_schema)
            .parquet(*[os.path.join(self.path, p) for p in staged])
            .count()
            if staged
            else 0
        )
        if expected_rows is not None and actual != expected_rows:
            raise CommitAuditError(
                f"staged rows {actual} != expected {expected_rows}; "
                f"commit {commit_id} NOT published"
            )
        return commit_id, staged, parts, actual

    def build_manifest(
        self,
        *,
        version: int,
        parent: int,
        commit_id: str,
        staged: list[str],
        parts: dict[str, str],
        actual: int,
        batch_schema: T.StructType,
        mode: str,
        batch_id: int | None,
        partition_by: str | None,
        replace_partitions: bool,
    ) -> dict:
        files = [
            {"path": p, **({"partition": parts[p]} if p in parts else {})}
            for p in staged
        ]
        schema = batch_schema
        if parent > 0:
            pm = self._manifest(parent)
            carried = pm["files"]
            if replace_partitions and partition_by:
                touched = set(parts.values())
                files = [
                    f for f in carried if f.get("partition") not in touched
                ] + files
            elif mode == "append":
                files = carried + files
            if mode == "append" or (replace_partitions and partition_by):
                schema = _merge_schemas(
                    T.StructType.fromJson(pm["schema"]), batch_schema
                )
        return {
            "version": version,
            "parent": parent,
            "batch_id": batch_id,
            "commit_id": commit_id,
            "rows_added": actual,
            "partition_by": partition_by,
            "schema": schema.jsonValue(),
            "files": files,
        }

    def try_publish(self, version: int, manifest: dict) -> bool:
        """The CAS: atomically create ``manifest-<version>.json``
        (hard-link-exclusive — EEXIST means another writer published
        this version first) and, on success, roll the pointer hint
        forward.  Returns False on a lost race."""
        dest = os.path.join(self._manifests, f"manifest-{version}.json")
        tmp = dest + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest, indent=1))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, dest)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        # pointer is a hint (current_version rolls forward past it);
        # still avoid regressing it when a later writer already advanced
        try:
            with open(os.path.join(self._manifests, "_latest")) as f:
                hinted = int(f.read().strip())
        except FileNotFoundError:
            hinted = 0
        if hinted < version:
            self._atomic_write(os.path.join(self._manifests, "_latest"), str(version))
        return True

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        batch_id: int | None = None,
    ) -> int:
        """Keyed upsert (the MERGE a Delta/Iceberg user reaches for):
        rows in the current snapshot whose ``keys`` match an update row
        are replaced; everything else is carried forward; new keys
        append.  Published as one atomic overwrite version, so readers
        see pre-merge or post-merge, never a mix.

        Scale note: without file-level pruning this is a full-snapshot
        rewrite — exactly what format-native MERGE costs on an
        unpartitioned table; partition the table (commit per partition
        dir) to localize rewrites, as the real formats do."""
        current = self.read()
        if current.columns:
            kept = current.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(updates)
        else:
            merged = updates
        return self.commit(merged, mode="overwrite", batch_id=batch_id)

    def foreach_batch_writer(self) -> Callable[[DataFrame, int], None]:
        """Idempotent ``foreachBatch`` hook: a batch id that is already
        in some published manifest is dropped instead of re-appended, so
        checkpoint-replayed micro-batches cannot double-write."""

        def _write(batch_df: DataFrame, batch_id: int) -> None:
            if batch_id in self.committed_batch_ids():
                return
            self.commit(batch_df, mode="append", batch_id=batch_id)

        return _write

    def compact(self, target_files: int = 1, batch_id: int | None = None) -> int:
        """OPTIMIZE: rewrite the current snapshot into ``target_files``
        files per partition (or per table when unpartitioned) and
        publish atomically — the small-file compaction every streaming
        append table eventually needs.  Readers on the old version are
        untouched; vacuum() reclaims the superseded files once no
        manifest ≤ latest needs them (superseded files stay reachable
        through OLD manifests, so vacuum keeps them — drop old
        manifests first for real reclamation, as the real formats'
        retention windows do)."""
        pcol = self._manifest(self.current_version()).get("partition_by")
        current = self.read()
        if pcol:
            compacted = current.repartition(target_files, pcol)
            return self.commit(
                compacted, mode="overwrite", partition_by=pcol, batch_id=batch_id
            )
        return self.commit(
            current.coalesce(target_files), mode="overwrite", batch_id=batch_id
        )

    def vacuum(self) -> list[str]:
        """Delete data directories referenced by NO manifest ≤ latest —
        the orphans crashed writers and aborted audits leave behind.
        Returns the removed directory names."""
        live: set[str] = set()
        v = self.current_version()
        seen = v
        while seen > 0:
            for f in self._manifest(seen)["files"]:
                live.add(f["path"].split(os.sep)[1])
            seen = self._manifest(seen)["parent"]
        removed = []
        for d in os.listdir(self._data):
            if d not in live:
                full = os.path.join(self._data, d)
                for f in os.listdir(full):
                    os.remove(os.path.join(full, f))
                os.rmdir(full)
                removed.append(d)
        return removed

    @staticmethod
    def _atomic_write(dest: str, content: str) -> None:
        tmp = dest + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, dest)
