"""Decompose doc_sparse_cosine_topk + shingle-build variants (r13).

Times each stage with the noop sink; compares the library's
char_shingles explode (a regex extract) against a positional explode
variant.
Ad-hoc probe, not part of the bench contract.

Usage: python tools_probe_sparse_r13.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window as W  # noqa: E402

from dbt_json_readr_spark.functions import hashing as H  # noqa: E402
from dbt_json_readr_spark.session import get_spark, prep, spread  # noqa: E402
from dbt_json_readr_spark.sources.tables import load  # noqa: E402

K = 5
DF_MIN, DF_CAP, SCALE, TOPK = 2, 64, 256, 3


def _jvm_cpu(spark):
    try:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")
    except Exception:
        return 0.0


def timed(spark, label, df, runs=2):
    for r in range(runs):
        c0 = _jvm_cpu(spark)
        spark.sparkContext.setJobDescription(f"probe:{label}")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        print(f"{label:46s} run{r+1}: {dt:7.3f}s wall {_jvm_cpu(spark)-c0:8.3f} cpu", flush=True)
    spark.sparkContext.setJobDescription(None)


def posting_shingles(docs):
    return docs.select(
        "doc_id", F.explode(H.char_shingles(F.col("text"), K)).alias("term")
    )


def posting_codegen(docs):
    t = F.col("text")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.when(
                    t.isNotNull(),
                    F.sequence(F.lit(1), F.greatest(F.length(t) - K + 1, F.lit(1))),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.when(F.length(t) < K, t)
            .otherwise(t.substr(F.col("i"), F.lit(K)))
            .alias("term"),
        )
        .dropDuplicates(["doc_id", "term"])
    )


def sparse_topk(docs, posting):
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    df_t = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weighted = (
        posting.join(F.broadcast(df_t), "term")
        .filter((F.col("df") >= DF_MIN) & (F.col("df") <= DF_CAP))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.expr(f"CAST(n_docs * {SCALE} AS BIGINT) DIV CAST(df AS BIGINT)").alias("w"),
        )
        .persist()
    )
    a = weighted.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("w_a"))
    b = weighted.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("w_b"))
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("score"))
        .persist()
    )
    directed = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"), "score")
    )
    w_rank = W.partitionBy("doc_a").orderBy(F.desc("score"), "doc_b")
    out = (
        directed.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOPK)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("neighbor_id"),
            "score",
            "rank",
        )
        .orderBy("doc_id", "rank")
    )
    return out, weighted, pairs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = prep(get_spark("probe_sparse"))
    spark.sparkContext.setLogLevel("ERROR")
    docs = spread(load(spark, sf_dir, "documents"))

    timed(spark, "posting char_shingles (current)", posting_shingles(docs))
    timed(spark, "posting codegen+dedup", posting_codegen(docs))

    # df-table build from each
    timed(
        spark,
        "df_t from char_shingles posting",
        posting_shingles(docs).groupBy("term").agg(F.count(F.lit(1)).alias("df")),
    )
    timed(
        spark,
        "df_t from codegen posting",
        posting_codegen(docs).groupBy("term").agg(F.count(F.lit(1)).alias("df")),
    )

    # full operator both ways (cleanup persists between)
    for name, fn in [("full sparse char_shingles", posting_shingles), ("full sparse codegen", posting_codegen)]:
        for r in range(2):
            c0 = _jvm_cpu(spark)
            t0 = time.perf_counter()
            out, wtd, prs = sparse_topk(docs, fn(docs))
            n = out.count()
            dt = time.perf_counter() - t0
            print(f"{name:46s} run{r+1}: {dt:7.3f}s wall {_jvm_cpu(spark)-c0:8.3f} cpu (n={n})", flush=True)
            wtd.unpersist()
            prs.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
