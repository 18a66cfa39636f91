"""How a lake writer lands files in a table directory.

The Delta writer (``deltawriter.py``) and the Iceberg writer
(``icebergwriter.py``) differ in what they record about a file — add
actions with stats JSON, or manifest entries with Appendix-D bounds —
but not in how the file gets into the table.  That is decided here:

- ``land_parquet``: Spark writes the frame into a ``_staging-*``
  directory under the table root, with INT64 ``TIMESTAMP_MICROS``
  timestamps (Spark's default INT96 is deprecated, has no trustworthy
  footer statistics, and is not what either table spec stores); that
  setting is session-wide, so concurrent writes in one process take
  turns over it.  A failed write removes the directory.  Each staged file then moves, in
  (partition dir, name) order, to a final name salted once per write,
  so two writers racing for the same version never overwrite each
  other's data bytes; the Hive ``col=value`` directories parse back
  into partition values.
- ``put_if_absent``: the commit primitive.  The text is written to a
  hidden temporary file and hard-linked to its final name; ``link``
  fails with EEXIST when another writer already owns the name — the
  put-if-absent both logs require, expressed on POSIX.
- ``publish_file``: a file that is replaced rather than created once
  (a checkpoint, ``_last_checkpoint``, an Avro manifest) is written to
  a temporary sibling unique to the call and renamed over its final
  name.
- ``sweep_staging``: a hard-killed writer's ``_staging-*`` directory is
  removed once it is older than a horizon, so a live concurrent
  writer's directory is never touched.
- ``publish_dir``: a directory built once in a temporary sibling and
  swapped in with ``os.replace``, so no reader sees it half-written.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_TS_TYPE_KEY = "spark.sql.parquet.outputTimestampType"
# the timestamp type is session-wide conf, so concurrent writes in one
# process take turns: one write's restore would otherwise land another
# write's files as INT96
_TS_LOCK = threading.Lock()


@dataclass(frozen=True)
class Landed:
    """A file at its final place in the table."""

    path: str  # relative to the table root, '/'-separated
    abspath: str
    partition: dict[str, str | None]  # Hive directory values, unescaped
    size: int
    mtime_ms: int


def salt() -> str:
    """A fresh per-writer tag for names that racing writers would
    otherwise compute identically."""
    return uuid.uuid4().hex[:8]


def hive_partition(rel_dir: str) -> dict[str, str | None]:
    """``col=value/...`` directories → {col: value}: Hive's null marker
    reads None and Spark's ``%XX`` path escapes are undone.  Segments
    without ``=`` are not partition directories."""
    out: dict[str, str | None] = {}
    for seg in rel_dir.split("/"):
        col, eq, raw = seg.partition("=")
        if eq:
            out[col] = None if raw == _HIVE_NULL else unquote(raw)
    return out


def land_parquet(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    prefix: str,
    version: int,
    subdir: str = "",
    partition_by: list[str] | tuple[str, ...] = (),
    max_records_per_file: int | None = None,
) -> list[Landed]:
    """Write ``df`` as parquet and move every file to
    ``{subdir}/{partition dirs}/{prefix}-{version:05d}-{idx:04d}-{salt}.parquet``
    under ``table_dir``.  The caller lays the frame out (repartition,
    sort, coalesce) beforehand; nothing is committed here."""
    root = Path(table_dir)
    stage = root / f"_staging-{prefix}-{os.getpid()}-{version}-{salt()}"
    w = df.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    try:
        with _TS_LOCK:
            prev_ts = spark.conf.get(_TS_TYPE_KEY, None)
            spark.conf.set(_TS_TYPE_KEY, "TIMESTAMP_MICROS")
            try:
                w.parquet(str(stage))
            finally:
                if prev_ts is None:
                    spark.conf.unset(_TS_TYPE_KEY)
                else:
                    spark.conf.set(_TS_TYPE_KEY, prev_ts)
        staged = sorted(
            ("" if p.parent == stage else p.parent.relative_to(stage).as_posix(), p.name)
            for p in stage.rglob("*.parquet")
        )
        tag = salt()
        landed: list[Landed] = []
        for idx, (rel_dir, name) in enumerate(staged):
            final = f"{prefix}-{version:05d}-{idx:04d}-{tag}.parquet"
            rel = "/".join(s for s in (subdir, rel_dir, final) if s)
            dest = root / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            os.replace(stage / rel_dir / name, dest)
            st = dest.stat()
            landed.append(
                Landed(
                    rel,
                    str(dest),
                    hive_partition(rel_dir),
                    st.st_size,
                    st.st_mtime_ns // 1_000_000,
                )
            )
        return landed
    finally:
        # the in-process failure path; hard kills are sweep_staging's
        shutil.rmtree(stage, ignore_errors=True)


def _tmp_sibling(dest: Path) -> Path:
    """A hidden name next to ``dest`` that no other writer, thread or
    process, computes."""
    return dest.with_name(f".{dest.name}.tmp-{os.getpid()}-{salt()}")


def put_if_absent(dest: Path, text: str) -> None:
    """Create ``dest`` holding ``text`` atomically, or raise
    ``FileExistsError`` when it already exists."""
    tmp = _tmp_sibling(dest)
    tmp.write_text(text)
    try:
        os.link(tmp, dest)
    finally:
        tmp.unlink(missing_ok=True)


def publish_file(dest: str | Path, write: Callable[[str], None]) -> None:
    """Put ``dest`` in place atomically, replacing any file there:
    ``write(tmp)`` fills a temporary sibling, which is then renamed
    over ``dest``, so a reader sees the old file or the whole new one.
    The temporary file is removed when ``write`` fails."""
    tmp = _tmp_sibling(Path(dest))
    try:
        write(str(tmp))
        os.replace(tmp, dest)
    finally:
        tmp.unlink(missing_ok=True)


def sweep_staging(table_dir: str, horizon_ms: int, dry_run: bool) -> int:
    """Remove (unless ``dry_run``) every staging directory under
    ``table_dir`` last modified before ``horizon_ms``; returns how many
    were stale."""
    stale = 0
    for d in sorted(Path(table_dir).glob("_staging*")):
        if d.is_dir() and d.stat().st_mtime_ns // 1_000_000 < horizon_ms:
            if not dry_run:
                shutil.rmtree(d, ignore_errors=True)
            stale += 1
    return stale


def publish_dir(
    root: Path, marker: str, want: str, build: Callable[[Path], None]
) -> Path:
    """Idempotent atomic build: unless ``root/marker`` already reads
    ``want``, ``build(tmp)`` fills a fresh sibling directory, the marker
    is written last, and the directory replaces ``root`` wholesale."""
    try:
        if (root / marker).read_text() == want:
            return root
    except OSError:
        pass
    root.parent.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f".{root.name}.tmp-", dir=root.parent))
    try:
        build(tmp)
        (tmp / marker).write_text(want)
        if root.exists():
            old = root.with_name(f"{root.name}.old-{os.getpid()}")
            os.replace(root, old)
            os.replace(tmp, root)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.replace(tmp, root)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return root
