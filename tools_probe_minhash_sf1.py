"""Decompose dedup_minhash_lsh at a given SF dir (VERDICT r12 item 5):
time each stage of the pipeline separately with the noop sink so the
16 s sf1 steady wall can be attributed to sketch build vs banding vs
verify.  Ad-hoc probe — never part of the bench contract.

Usage: python tools_probe_minhash_sf1.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from dbt_json_readr_spark.functions import hashing as H  # noqa: E402
from dbt_json_readr_spark.operators import dedup as D  # noqa: E402
from dbt_json_readr_spark.session import get_spark, prep, spread  # noqa: E402
from dbt_json_readr_spark.sources.tables import load  # noqa: E402


def _jvm_cpu(spark):
    try:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")
    except Exception:
        return 0.0


def timed(spark, label, df, action="noop", runs=2):
    for r in range(runs):
        c0 = _jvm_cpu(spark)
        spark.sparkContext.setJobDescription(f"probe:{label}")
        t0 = time.perf_counter()
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
            n = -1
        else:
            n = df.count()
        dt = time.perf_counter() - t0
        dc = _jvm_cpu(spark) - c0
        print(f"{label:44s} run{r+1}: {dt:7.3f}s wall {dc:8.3f} cpu (n={n})", flush=True)
    spark.sparkContext.setJobDescription(None)
    return dt


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
    spark = prep(get_spark("probe_minhash"))
    spark.sparkContext.setLogLevel("ERROR")
    docs = load(spark, sf_dir, "documents")
    print("docs:", docs.count())

    k, n_hashes, bands = 5, 12, 3

    # stage 1: shingle rows (scan + regex shingling + explode + hash64)
    rows = D._shingle_rows(docs, k)
    timed(spark, "1 shingle_rows (regex distinct + md5)", rows)

    # stage 1b: raw positions variant, codegen, NON-distinct
    t = F.col("text")
    pos = (
        spread(docs)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length(t) - k + 1, F.lit(1)))
            ).alias("i"),
        )
        .select(
            "doc_id",
            H.hash64(
                F.when(F.length(t) < k, t).otherwise(
                    F.col("text").substr(F.col("i"), F.lit(k))
                ),
                "sh",
            ).alias("sh"),
        )
    )
    timed(spark, "1b positions codegen non-distinct + md5", pos)

    # stage 2: full per-doc sketch (lanes min + collect_set)
    per_doc = H.minhash_lanes(rows, n_hashes, F.collect_set("sh").alias("sh"))
    timed(spark, "2 per_doc sketch (lanes+set, uncached)", per_doc)

    # 2b: same sketch over the non-distinct codegen rows
    per_doc_nd = H.minhash_lanes(pos, n_hashes, F.collect_set("sh").alias("sh"))
    timed(spark, "2b per_doc sketch over non-distinct rows", per_doc_nd)

    # stage 3: candidates (bands from cached sketch) — count action as in prod
    from pyspark import StorageLevel

    pd_cached = per_doc.persist(StorageLevel.MEMORY_AND_DISK)
    pd_cached.count()
    cand = D._cand_from_mins(pd_cached.drop("sh"), n_hashes, bands, D.DEFAULT_BUCKET_CAP)
    timed(spark, "3 candidates from cached sketch", cand, action="count")

    # stage 4: broadcast verify from cached sketch + persisted cand
    candp = cand.persist()
    n_cand = candp.count()
    print("n_cand:", n_cand)
    sets = pd_cached.select("doc_id", "sh")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    ver = (
        F.broadcast(candp)
        .join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    timed(spark, "4 broadcast verify (cached sketch)", ver)
    pd_cached.unpersist()
    candp.unpersist()

    # stage 5: the full operator as shipped (cold then steady)
    for r in range(3):
        c0 = _jvm_cpu(spark)
        t0 = time.perf_counter()
        n = D.minhash_lsh_pairs(docs, k=k, n_hashes=n_hashes, bands=bands, threshold=0.8).count()
        dt = time.perf_counter() - t0
        print(f"{'5 full minhash_lsh_pairs':44s} run{r+1}: {dt:7.3f}s wall {_jvm_cpu(spark)-c0:8.3f} cpu (n={n})", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
