"""Deterministic synthetic dbt-invocation LAKE generator.

SURVEY §4's core scale claim is that an artifact lake holds millions of
``manifest.json`` files (one per dbt invocation) and readers take a
glob, read ``wholetext`` one row per file in parallel, and parse
JVM-side — the direct 100× of ``import_manifest_json``
(explore.R:223-259), which reads exactly one file.  This module
materializes a 1,200-invocation lake so the multi-file path has a gated
key (``dbt_manifest_lake``), tests, and a bench row.

Generation is fully deterministic (index-driven, no RNG, no clock), so
the Spark reader and the stdlib oracle can both (re)generate it on
demand — a fresh checkout needs no committed blob.  Writes are atomic
(``staging.publish_dir``) so concurrent first-callers cannot observe a
half-written lake.

Per-run variation models real fleets:
- ``generated_at`` advances one hour per run (run 0 = 2025-01-01T00Z).
- model presence flickers (run i contains model j unless
  ``(i + 3*j) % 17 == 0``) — nodes come and go across invocations.
- checksums ROLL at per-model cadences (``i // (40 + 13*j)``) — code
  churn at different rates, so distinct-checksum counts differ by model.

At true lake scale the driver-side glob listing itself becomes the
bottleneck; production would keep a file index / manifest-of-manifests.
The reader contract (glob → wholetext → from_json) is unchanged by that
optimization, which is why the 1,200-file lake is a faithful miniature.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from . import staging

LAKE_DIR = Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "dbt" / "lake"
LAKE_VERSION = "1"
N_RUNS = 1200

_MODELS = [
    "stg_orders",
    "stg_customer",
    "stg_lineitem",
    "dim_customer",
    "dim_part",
    "fct_orders",
    "rpt_region_revenue",
    "rpt_daily_events",
]

_MATERIALIZED = ["table", "view", "incremental", "table"]

_EPOCH = "2025-01-01T{h:02d}:00:00Z"  # run i → day offset i//24, hour i%24


def run_generated_at(i: int) -> str:
    day, hour = divmod(i, 24)
    # keep it a real calendar walk without importing datetime math:
    # 2025-01 has 31 days; 1200 runs = 50 days → spill into February.
    month, dom = (1, 1 + day) if day < 31 else (2, day - 30)
    return f"2025-{month:02d}-{dom:02d}T{hour:02d}:00:00Z"


def model_present(i: int, j: int) -> bool:
    return (i + 3 * j) % 17 != 0


def model_version(i: int, j: int) -> int:
    return i // (40 + 13 * j)


def model_checksum(name: str, version: int) -> str:
    return hashlib.sha256(f"{name}-v{version}".encode()).hexdigest()


def _run_manifest(i: int) -> dict:
    nodes = {}
    for j, name in enumerate(_MODELS):
        if not model_present(i, j):
            continue
        uid = f"model.analytics.{name}"
        nodes[uid] = {
            "unique_id": uid,
            "resource_type": "model",
            "database": "analytics",
            "schema": "marts" if name.startswith(("dim_", "fct_", "rpt_")) else "staging",
            "name": name,
            "alias": None,
            "description": f"{name} model",
            "config": {"enabled": True, "materialized": _MATERIALIZED[j % 4]},
            "depends_on": {"nodes": [], "macros": []},
            "columns": {},
            "meta": {},
            "tags": [],
            "checksum": {"name": "sha256", "checksum": model_checksum(name, model_version(i, j))},
        }
    return {
        "metadata": {
            "dbt_version": "1.7.0",
            "project_name": "analytics",
            "invocation_id": hashlib.sha256(f"invocation-{i}".encode()).hexdigest()[:32],
            "generated_at": run_generated_at(i),
        },
        "nodes": nodes,
        "sources": {},
        "macros": {},
    }


def ensure_lake(root: Path | str = LAKE_DIR, n_runs: int = N_RUNS) -> Path:
    """Idempotently materialize the lake; cheap (one stat) when present."""

    def build(tmp: Path) -> None:
        for i in range(n_runs):
            d = tmp / f"run_{i:05d}"
            d.mkdir()
            (d / "manifest.json").write_text(
                json.dumps(_run_manifest(i), sort_keys=True, separators=(",", ":"))
            )

    return staging.publish_dir(
        Path(root), "_LAKE_VERSION", f"{LAKE_VERSION}:{n_runs}", build
    )


def lake_rollup_rows(root: Path | str = LAKE_DIR) -> list[tuple]:
    """Stdlib recount for the oracle: per-model lake rollup, independent
    of the Spark reader (re-parses every file with ``json``)."""
    root = ensure_lake(root)
    agg: dict[str, dict] = {}
    n_files = 0
    for p in sorted(root.glob("run_*/manifest.json")):
        m = json.loads(p.read_text())
        n_files += 1
        gen = m["metadata"]["generated_at"]
        for uid, node in m["nodes"].items():
            a = agg.setdefault(
                uid, {"n": 0, "sums": set(), "first": gen, "last": gen}
            )
            a["n"] += 1
            a["sums"].add(node["checksum"]["checksum"])
            a["first"] = min(a["first"], gen)
            a["last"] = max(a["last"], gen)
    return [
        (uid, a["n"], n_files, len(a["sums"]), a["first"], a["last"])
        for uid, a in sorted(agg.items())
    ]
