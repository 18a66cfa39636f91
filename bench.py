"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Each query is timed as a full action (plan + execute + collect), THREE
times: run 1 is the cold number (includes codegen compile + JIT warm-up
for that query's expression shapes), the LAST run is steady-state.  The
headline `value`/`queries` report the last run and `queries_cold`
reports run 1 — both are printed so the record is explicit about which
regime it measures (r1 lesson: a sf0.001 warm-up compiles codegen but
does not JIT-warm or touch sf0.1 I/O; r3 lesson: pyspark 4.1's JIT
needs ~3 invocations before the md5-sketch hot loop tiers up — measured
2.6/3.0/2.6/1.9/1.9 s across five runs, so a 2-run "steady" overstates
the converged cost by ~50%).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_json_readr_spark import registry  # noqa: E402
from dbt_json_readr_spark.session import cpus, get_spark  # noqa: E402

# The 8 queries benched since r2 — their subtotal is the stable
# round-over-round comparison line (VERDICT r5 item 5: the r5 additions
# contribute most of the full total and obscured the q3/q5 regression).
STABLE_8 = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "events_sessionization",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "text_quality_score",
]

HEADLINE = STABLE_8 + [
    # r5 (VERDICT r4 item 7): the 3 most expensive non-headline keys,
    # so their round-over-round regressions become driver artifacts —
    # same 3-run cold/steady regime as the rest
    "doc_sparse_cosine_topk",
    "dedup_containment_lsh",
    "dedup_minhash_est_calibration",
    # r6: the many-file artifact-lake parse (1,200 manifests; sf-invariant)
    "dbt_manifest_lake",
    # r7 (VERDICT r6 item 7): a bridge READ, so avro-walk + delete-apply
    # cost is tracked round-over-round (sf-invariant fixture)
    "iceberg_snapshot_read",
    # r8: the stats-skipping audit (9 predicated bridge reads over both
    # formats — tracks prune-path overhead; sf-invariant fixtures)
    "lake_skipping_audit",
    # r8 session 2: the native WRITE path in the headline — cold pays
    # the build (two distributed writes + commit authoring at sf_dir
    # scale), steady measures the written table's read+prune path
    "delta_write_roundtrip",
    # r8 session 3: the multi-column Z-order layout — cold pays the
    # interleaved rewrite, steady measures the 2-D pruned read
    "delta_zorder_rewrite",
    # r9: write-side bucket partitioning — cold pays the murmur3
    # bucketed write (chain-bound executor-side hash), steady measures
    # five equality probes through the transform-pruning read bridge
    "iceberg_bucket_write_prune",
]


def _cpu_sample() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat — the r9/r10 bench
    rounds showed ~1.3–1.6× UNIFORM inflation across untouched queries
    on a box whose hypervisor steals CPU (cumulative steal ≈ 25% of
    user time observed); recording steal DURING the run lets a slow
    number be attributed to the host, not the plans."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError, IndexError):
        return None


def _jvm_pid(spark) -> int | None:
    """The backing JVM's OS pid (py4j: ProcessHandle.current) — the
    anchor for steal-robust CPU accounting."""
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        return None


def _proc_cpu_s(pid: int) -> float | None:
    """utime+stime seconds consumed by process ``pid`` (all threads —
    local-mode executors are threads of the one JVM).  Hypervisor
    steal does not advance this clock, so per-query CPU deltas are the
    steal-robust metric VERDICT r11 item 3 demands next to wall time:
    three rounds of steal-correlated wall drift on the same four keys
    were unbisectable without it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cpu0 = _cpu_sample()
    spark = get_spark("bench")
    # ERROR-only JVM logging: the stderr tail the driver stamps into
    # BENCH_r{N}.json must carry only the per-run timing lines and REAL
    # failures — r6's record carried a benign WARN stack (Spark's
    # FileStreamSink metadata probe during the lake read) that a real
    # failure could hide behind.  Python exceptions still print (and
    # set rc≠0) regardless of log4j level.
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: JVM + whole-stage-codegen compile for the expression
    # shapes the headline uses (decimal aggs, md5 sketches, windows) on
    # the smoke-scale data, so compilation isn't billed to the timings
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = registry.queries()
    for key in HEADLINE:
        if key in warm:
            warm[key](spark, "/root/testdata/sf0.001").count()

    available = registry.queries()
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    jpid = _jvm_pid(spark)
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    best: dict[str, float] = {}
    cpu: dict[str, float] = {}
    cpu_best: dict[str, float] = {}
    for key in HEADLINE:
        if key not in available:
            continue
        for run in range(1, n_runs + 1):
            j0 = _proc_cpu_s(jpid) if jpid else None
            p0 = time.process_time()
            t0 = time.perf_counter()
            n = available[key](spark, sf_dir).count()
            dt = round(time.perf_counter() - t0, 3)
            # JVM (all executor threads) + this python process; the
            # steal-robust companion to the wall number
            j1 = _proc_cpu_s(jpid) if jpid else None
            dc = None
            if j0 is not None and j1 is not None:
                dc = round((j1 - j0) + (time.process_time() - p0), 3)
            if run == 1:
                cold[key] = dt
            steady[key] = dt  # last run wins
            best[key] = min(best.get(key, dt), dt)
            if dc is not None:
                cpu[key] = dc  # last run wins, same regime as steady
                cpu_best[key] = min(cpu_best.get(key, dc), dc)
            print(
                f"# {key} run{run}: {dt}s ({n} rows, cpu {dc}s)",
                file=sys.stderr,
            )

    out = {
        "metric": "headline_total",
        "value": round(sum(steady.values()), 3),
        "unit": "sec",
        "runs": n_runs,
        "regime": "cold" if n_runs == 1 else f"steady_state_run{n_runs}",
        "queries": steady,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        # stable 8-query subtotal, benched unchanged since r2 — THE
        # round-over-round comparison line (full totals shift whenever
        # the headline set grows)
        "stable8_total": round(sum(steady.get(k, 0.0) for k in STABLE_8), 3),
        "stable8_cold_total": round(sum(cold.get(k, 0.0) for k in STABLE_8), 3),
        # per-query MIN across the 3 runs — the noise-robust line on a
        # steal-prone host (r10): individual samples bounce ×2–3
        # between consecutive runs of the same binary when the
        # hypervisor steals CPU; the min is the best available
        # estimate of what the code costs when it actually gets the
        # cores.  The headline above keeps its last-run semantics for
        # cross-round continuity.
        "queries_min": best,
        "min_total": round(sum(best.values()), 3),
        "stable8_min_total": round(sum(best.get(k, 0.0) for k in STABLE_8), 3),
        "sf": sf,
        # environment stamp: r2 ran on a different container (pyspark
        # 4.0-era); cross-round comparisons are only meaningful within
        # the same runtime version
        "pyspark": __import__("pyspark").__version__,
        "cpus": cpus(),
    }
    if cpu:
        # steal-robust CPU seconds (JVM utime+stime delta across all
        # executor threads + python process time) for the same
        # last-run/min regimes — hypervisor steal inflates wall but
        # not this clock, so cross-round drift that appears in wall
        # totals while cpu totals hold flat is environment, not code
        # (VERDICT r11 item 3).  OMITTED entirely when the pid probe
        # failed: a recorded 0.0 next to real wall times reads as a
        # flat measurement and poisons cross-round comparisons.
        out["queries_cpu"] = cpu
        out["cpu_total"] = round(sum(cpu.values()), 3)
        out["stable8_cpu_total"] = round(
            sum(cpu.get(k, 0.0) for k in STABLE_8), 3
        )
        out["queries_cpu_min"] = cpu_best
        out["cpu_min_total"] = round(sum(cpu_best.values()), 3)
        out["stable8_cpu_min_total"] = round(
            sum(cpu_best.get(k, 0.0) for k in STABLE_8), 3
        )
    cpu1 = _cpu_sample()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        out["cpu_steal_pct"] = round(
            100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 2
        )
    try:
        out["load_avg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
