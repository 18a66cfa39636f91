"""sf10 soak of C76 ``training_pipeline_funnel`` (r12, VERDICT r11
item 6): the five audited stages have each been soaked individually;
this probe runs the COMPOSITION at the dup-heavy sf10 corpus (~600k
docs, every doc with 9 high-jaccard near-dup siblings) and records
per-stage row counts, each stage's cost from ``profile.run`` (wall,
JVM and executor CPU, jobs) and the cap evidence — so a bucket cap
silently saturating the funnel (dropping real dup pairs → double-kept
docs) would show up as buckets_over_cap with material member counts,
not be invisible inside a green end-to-end number.

Prints ONE JSON line for BENCH_sf10.json.  Usage:

  python tools_probe_funnel_sf10.py [sf_dir]   (default /tmp/spark_graft_sf10)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from dbt_json_readr_spark import profile  # noqa: E402
from dbt_json_readr_spark.functions import hashing as H  # noqa: E402
from dbt_json_readr_spark.operators import dedup as D  # noqa: E402
from dbt_json_readr_spark.operators import graph as G  # noqa: E402
from dbt_json_readr_spark.plans import llm  # noqa: E402
from dbt_json_readr_spark.plans.llm import (  # noqa: E402
    _MH_BANDS,
    _MH_K,
    _MH_N,
    _MH_TAU,
)
from dbt_json_readr_spark.session import get_spark  # noqa: E402
from dbt_json_readr_spark.sources.tables import load  # noqa: E402
from dbt_json_readr_spark.streaming.jobs import _QUALITY_GATE  # noqa: E402
from dbt_json_readr_spark.operators import textops as X  # noqa: E402


def _cost(p: profile.Profile) -> dict:
    return {
        "wall_s": round(p.wall_s, 1),
        "jvm_cpu_s": round(p.jvm_cpu_s, 1),
        "exec_cpu_s": round(sum(s.cpu_s for s in p.stages), 1),
        "jobs": len(p.jobs),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf10"
    spark = get_spark("funnel_sf10")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sf_dir": sf_dir, "cost": {}}

    def stage(name: str, fn):
        p = profile.run(spark, fn, f"funnel_{name}")
        out["cost"][name] = _cost(p)
        return p.result

    docs = load(spark, sf_dir, "documents")
    out["docs_total"] = stage("count", docs.count)

    # stage 1: admit
    q = X.quality_score(X.quality_features(F.col("text")))
    admitted = (
        docs.select(
            "doc_id",
            "text",
            F.floor(q * 1_000_000).cast("long").alias("qm"),
        )
        .where(q >= F.lit(_QUALITY_GATE))
        .persist()
    )
    out["docs_admitted"] = stage("admit", admitted.count)

    # cap evidence over the ADMITTED subset: band-bucket size
    # distribution BEFORE the cap filter — the funnel's pairs drop
    # whole buckets above DEFAULT_BUCKET_CAP, so material mass there
    # is the silent-saturation signal this soak exists to rule out.
    mins = H.minhash_lanes(D._shingle_rows(admitted, _MH_K), _MH_N)
    stats = stage(
        "bucket_audit",
        lambda: D.band_keys(mins, _MH_N, _MH_BANDS)
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(
                F.when(F.col("n") > D.DEFAULT_BUCKET_CAP, 1).otherwise(0)
            ).alias("buckets_over_cap"),
            F.sum(
                F.when(F.col("n") > D.DEFAULT_BUCKET_CAP, F.col("n")).otherwise(0)
            ).alias("docs_in_over_cap_buckets"),
        )
        .first(),
    )
    out["bucket_cap"] = D.DEFAULT_BUCKET_CAP
    out.update({k: int(v or 0) for k, v in stats.asDict().items()})

    # stage 2-3: dedup pairs + connected components over admitted only
    pairs = D.minhash_lsh_pairs(
        admitted, k=_MH_K, n_hashes=_MH_N, bands=_MH_BANDS, threshold=_MH_TAU
    ).select("doc_a", "doc_b").persist()
    out["dup_pairs"] = stage("pairs", pairs.count)
    clusters = G.connected_components(pairs).persist()
    out["docs_in_clusters"] = stage("clusters", clusters.count)
    out["n_clusters"] = clusters.select("cluster_id").distinct().count()

    # stage 4-5: the full gated plan end-to-end (keep + pack), with the
    # funnel totals read off the result itself
    def full_funnel():
        res = llm.training_pipeline_funnel(spark, sf_dir)
        head = res.select("docs_total", "docs_admitted", "docs_kept").first()
        agg = res.agg(
            F.count(F.lit(1)).alias("shards"),
            F.sum("n_docs").alias("docs_packed"),
            F.sum("n_packs").alias("packs"),
            F.sum("shard_tokens").alias("tokens"),
        ).first()
        return head, agg

    head, agg = stage("full_funnel", full_funnel)
    out["funnel"] = {k: int(v) for k, v in head.asDict().items()}
    out.update({k: int(v) for k, v in agg.asDict().items()})

    # consistency gates the soak itself asserts (a silent stage drop
    # would pass a pure timing probe)
    assert out["funnel"]["docs_total"] == out["docs_total"]
    assert out["funnel"]["docs_admitted"] == out["docs_admitted"]
    expect_kept = out["docs_admitted"] - out["docs_in_clusters"] + out["n_clusters"]
    assert out["funnel"]["docs_kept"] == expect_kept, (
        out["funnel"]["docs_kept"],
        expect_kept,
    )
    assert out["docs_packed"] == out["funnel"]["docs_kept"]
    out["kept_identity"] = "docs_kept == admitted - clustered + n_clusters (exact)"
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
