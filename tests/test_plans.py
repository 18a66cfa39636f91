"""Physical-plan contract (SURVEY.md §5 item 5): pushdown reaches the
scan, dims broadcast, hot paths stay JVM-side.  These tests fail on a
refactor that keeps results but regresses the 100 TB plan."""

from __future__ import annotations

from contextlib import nullcontext

import pytest

from dbt_json_readr_spark import profile, registry
from dbt_json_readr_spark.plans.tpch import q5_region_revenue, q6_forecast_revenue
from tests import plan_utils

SF = "/root/testdata/sf0.001"

# mapInPandas is the sanctioned Arrow path for exactly one operator
ARROW_ALLOWED = {"multimodal_stub", "multimodal_decode"}
# streaming queries materialize through a memory sink — their returned
# DataFrame is the sink table, so plan introspection happens on the
# batch twins instead (test_streaming.py covers equivalence)
SKIP_PLAN = {"streaming_windowed_agg", "streaming_sessionization", "streaming_dedup"}


def test_q6_filters_pushed_to_scan(spark):
    df = q6_forecast_revenue(spark, SF)
    assert plan_utils.has_pushed_filters(df)


def test_q6_scan_prunes_columns(spark):
    df = q6_forecast_revenue(spark, SF)
    schema = plan_utils.scan_read_schema(df, "lineitem")
    assert schema  # found the scan
    # only the 4 columns the query touches — not the 11-column table
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in schema
    assert "l_orderkey" not in schema and "l_returnflag" not in schema


def test_q5_broadcasts_dimension_tables(spark):
    assert plan_utils.has_broadcast_join(q5_region_revenue(spark, SF))


def test_no_forced_broadcast_of_scale_dependent_sides(spark):
    """VERDICT r4 item 2: customer grows linearly with scale factor and
    orders is a fact — neither may carry a FORCED broadcast hint in any
    TPC-H plan (AQE may still elect a runtime broadcast at small SF;
    that's fine because it can bail at large SF).  The analyzed-plan
    hint subtrees are the ground truth: no hinted subtree may contain
    orders columns, and none may contain customer columns except Q3's
    single sanctioned filtered-customer dim hint."""
    from dbt_json_readr_spark.plans import tpch

    cases = {
        # fn -> number of hinted subtrees allowed to contain c_custkey
        tpch.q3_shipping_priority: 1,  # the c_mktsegment-filtered dim
        tpch.q5_region_revenue: 0,
        tpch.q7_nation_trade: 0,
        tpch.q8_market_share: 0,
        tpch.q10_returned_items: 0,
        tpch.q18_large_orders: 0,
    }
    for fn, cust_allowed in cases.items():
        subs = plan_utils.broadcast_hint_subtrees(fn(spark, SF))
        with_orders = [s for s in subs if "o_orderkey" in s or "o_custkey" in s]
        assert not with_orders, f"{fn.__name__}: forced broadcast hint over orders"
        with_cust = [s for s in subs if "c_custkey" in s]
        assert len(with_cust) <= cust_allowed, (
            f"{fn.__name__}: forced broadcast hint over customer-bearing side"
        )
    # q3's sanctioned hint really is the filtered customer dim, nothing more
    q3_subs = plan_utils.broadcast_hint_subtrees(tpch.q3_shipping_priority(spark, SF))
    cust_sub = [s for s in q3_subs if "c_custkey" in s]
    assert len(cust_sub) == 1 and "c_mktsegment" in cust_sub[0]


@pytest.mark.parametrize(
    "key", [k for k in registry.queries() if k not in SKIP_PLAN]
)
def test_no_row_python_in_any_plan(spark, key):
    df = registry.queries()[key](spark, SF)
    assert plan_utils.python_eval_nodes(df) == []
    if key not in ARROW_ALLOWED:
        assert plan_utils.arrow_eval_nodes(df) == []


def test_new_llm_ops_scan_and_bucket_contracts(spark):
    """Scale-shape pins for the r2 operators: bounded corpus passes and
    no array-carrying collect_list anywhere (buckets hold bare ids)."""
    import re

    from dbt_json_readr_spark.plans import llm

    budgets = {
        # (max parquet scans, rationale)
        "corpus_decontaminate": 2,   # eval-gram branch + ONE train pass
        "text_ngram_novelty": 2,     # freq-table build + join pass
        "text_repetition": 1,        # single exploded-gram pipeline
        "corpus_shard_plan": 1,      # hash + one shard shuffle
        "dedup_embedding_cosine": 3, # band pass + verify join sides
    }
    for key, max_scans in budgets.items():
        plan = plan_utils.formatted_plan(getattr(llm, key)(spark, SF))
        n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
        assert n <= max_scans, f"{key}: {n} scans > budget {max_scans}"
        assert not re.search(r"collect_list\(\s*struct", plan), (
            f"{key}: buckets must not collect payload-carrying structs"
        )


def test_minhash_dedup_two_pass_no_fat_buckets(spark):
    """The LSH operator is a two-pass plan by design: a sketch pass
    (exploded shingles → flat lane mins, pruned to lanes only) and a
    verify pass (shingle sets joined to the deduped candidate pairs).
    Pin that shape: at most 3 parquet scans of documents — one sketch
    pass pruned to minhash lanes, plus the verify pass's shingle-set
    subtree once per join side (Catalyst does not exchange-reuse the
    two; a measured alternative that single-scans via melt+regroup
    shuffles candidate-fat arrays and benches ~2× slower).  Crucially:
    no collect_list of shingle-carrying structs anywhere — buckets
    collect bare doc_ids, so a degenerate bucket buffers
    bucket_cap × 8 bytes, not megabytes of shingle arrays."""
    from dbt_json_readr_spark.plans.llm import dedup_minhash_lsh

    import re

    df = dedup_minhash_lsh(spark, "/root/testdata/sf0.001")
    plan = plan_utils.formatted_plan(df)
    # each scan node appears once in the tree ("+- Scan parquet (1)") and
    # once as a detail header ("(1) Scan parquet") — count the headers
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n_scans <= 3, f"expected ≤3 documents scans (sketch + 2× verify), saw {n_scans}"
    assert not re.search(r"collect_list\(\s*struct", plan), (
        "buckets must collect bare doc_ids, not shingle-carrying structs"
    )


def test_topk_windows_get_partial_group_limit(spark):
    """Per-group top-k windows must show a PARTIAL WindowGroupLimit
    BEFORE the exchange — Catalyst's map-side rank pruning means only
    ≤k rows per group per map partition cross the shuffle.  Without it
    a 100 TB corpus funnels entirely through one reducer per query."""
    from dbt_json_readr_spark.plans.events import top_customers_per_nation
    from dbt_json_readr_spark.plans.llm import ann_bruteforce_topk

    for fn in (ann_bruteforce_topk, top_customers_per_nation):
        plan = plan_utils.formatted_plan(fn(spark, "/root/testdata/sf0.001"))
        assert "WindowGroupLimit" in plan, f"{fn.__name__}: rank pruning missing"
        assert "Partial" in plan.split("WindowGroupLimit")[-1] or plan.count("WindowGroupLimit") >= 2, (
            f"{fn.__name__}: no partial (map-side) group limit"
        )


def test_kmeans_single_scan_and_bounded_cache(spark):
    """Iterative k-means must read the embeddings ONCE (comp persists
    across Lloyd rounds) and leave exactly the two result-backing
    handles pinned — without the cache discipline the 2-iteration
    lineage re-derives everything from the scan (measured 9 scans / 60
    exchanges)."""
    from dbt_json_readr_spark.plans import llm
    from tests.plan_utils import live_parquet_scan_count

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = llm.embedding_kmeans(spark, SF)
    # JVM-tree count, NOT a regex over the formatted text: the text
    # prints each InMemoryRelation's stored rebuild plan (scan
    # included), which over-counts when this result legitimately reuses
    # a cache entry pinned by an earlier Lloyd caller in the session
    # (order-dependent false positive, r7)
    n_scans = live_parquet_scan_count(df)
    assert n_scans <= 1, f"kmeans re-scans the corpus: {n_scans} scans"
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 2, f"cache leak: {after - before} pinned handles"


def test_minhash_sketch_cache_rotates_not_leaks(spark):
    """Repeated minhash invocations must pin at most TWO handles (the
    per-doc sketch + the auto-gate's candidate pairs, each latest-wins
    rotated in operators/dedup.py) — a bench loop over the operator
    would otherwise accumulate caches per call."""
    from dbt_json_readr_spark.plans import llm

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        llm.dedup_minhash_lsh(spark, SF).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 2, f"cache leak: {after - before} pinned handles"
    # semantic reuse must not defeat rotation: a DIFFERENT input plan
    # (other sf_dir) must rotate the stale cache out, keeping the bound
    llm.dedup_minhash_lsh(spark, "/root/testdata/sf0.001").count()
    llm.dedup_minhash_lsh(spark, SF).count()
    after2 = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after2 - before <= 2, f"rotation leak: {after2 - before} pinned handles"


def test_new_audit_ops_broadcast_their_small_sides(spark):
    """The r3 audit/index operators must keep their dim-sized frames on
    the broadcast path — a shuffle join here is the 100 TB regression
    these pins exist to catch."""
    from dbt_json_readr_spark.plans import llm, tpch

    for fn in (
        tpch.join_prefilter_audit,         # bucket sets + key set broadcast
        tpch.q16_supplier_part_types,  # part dim + excluded suppliers broadcast
        tpch.q2_min_cost_supplier,     # part/supp dims + per-part mins broadcast
        tpch.q11_important_stock,      # EU supplier keys + scalar total broadcast
        tpch.q20_promotion_suppliers,  # cold parts + filtered partsupp broadcast
        tpch.q9_nation_profit,         # red-part partsupp + supplier-nation broadcast
        tpch.q21_waiting_suppliers,    # EU supplier dim broadcast
        llm.doc_posting_lists,             # top-term set broadcast
        llm.tokenizer_vocab_coverage,      # vocabulary broadcast
        llm.ann_ivf_kmeans_topk,           # centroids + probed queries broadcast
    ):
        df = fn(spark, SF)
        assert plan_utils.has_broadcast_join(df), fn.__name__


def test_zone_map_and_skew_audits_are_single_scan(spark):
    """Layout audits must stay one pass over the fact table."""
    import re

    from dbt_json_readr_spark.plans import events, tpch

    for fn, expected in ((tpch.lineitem_zorder_layout, 1), (events.events_skew_audit, 1)):
        plan = plan_utils.formatted_plan(fn(spark, SF))
        n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
        assert n <= expected, f"{fn.__name__}: {n} scans"


def test_r4_new_op_plan_contracts(spark):
    """Scale-shape pins for the r4 session-2 operators.

    - sparse cosine: candidate pairs come ONLY from the term equi-join
      (df/n broadcast; no nested-loop or cartesian anywhere)
    - fuzzy editdist: the band blocking must plan as an equi-join, not
      a cartesian + filter
    - table profile: all 11 columns profile from ONE scan (Expand for
      the multi-distinct, not one pass per column)
    - concurrency sweep: NO join of any kind — the whole point of the
      endpoint sweep is replacing the interval self-join
    """
    from dbt_json_readr_spark.plans import events as ev
    from dbt_json_readr_spark.plans import llm, tpch
    from tests.plan_utils import formatted_plan, has_broadcast_join

    sparse = llm.doc_sparse_cosine_topk(spark, SF)
    p = formatted_plan(sparse)
    assert has_broadcast_join(sparse)
    # the only nested-loop is the 1-row broadcast-scalar n_docs join,
    # and it sits beneath the cached `weighted` frame — the pair join
    # itself is an equi-join on the term
    assert "CartesianProduct" not in p
    from tests.plan_utils import live_cached

    assert len(live_cached("sparse_cosine", spark)) == 2

    p = formatted_plan(llm.dedup_fuzzy_editdist(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p

    p = formatted_plan(tpch.table_profile_audit(spark, SF))
    assert p.count(") Scan parquet") == 1
    assert "Expand" in p

    p = formatted_plan(ev.events_concurrency_sweep(spark, SF))
    assert "Join" not in p


# ---------------------------------------------------------------- r6
# VERDICT r5 item 7: the big shuffles (containment-LSH, sparse-cosine,
# minhash calibration) rely on AQE skew-join splitting at scale — B36
# salts manually, these do not.  Two contracts: (1) the splitting
# machinery actually FIRES in this engine's session when a shuffle is
# skewed past threshold, (2) the three largest shuffle plans execute as
# ADAPTIVE shuffle joins — the shape OptimizeSkewedJoin can split.  At
# sf0.1 their partitions sit far under the 256 MB default threshold, so
# asserting skew=true on them would be asserting a tuning accident;
# firing is proven on a synthetic skew with thresholds lowered.


def _executed_plan(df) -> str:
    # collect() drives THIS DataFrame's QueryExecution (count() would
    # build a different one), so AQE's final re-planned tree is visible
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_join_machinery_fires(spark):
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.session import prep

    prep(spark)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # 95% of left rows share one key → one shuffle partition far over
        # 2× the median → OptimizeSkewedJoin must split it
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("v")
        )
        joined = left.join(right, "k").select(F.count(F.lit(1)).alias("n"))
        plan = _executed_plan(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "key",
    ["dedup_containment_lsh", "doc_sparse_cosine_topk", "dedup_minhash_est_calibration"],
)
def test_largest_shuffles_are_adaptive_and_skew_eligible(spark, key):
    """The three most expensive shuffle plans must run under
    AdaptiveSparkPlan with skewJoin enabled and execute at least one
    SHUFFLE join (sort-merge / shuffled-hash) — the physical shape the
    skew splitter operates on.  A refactor that silently turns these
    into broadcast-only or non-adaptive plans loses the scale story.

    What is size-INVARIANT here is hint freedom, not the chosen join:
    at sf0.01 both the static planner (parquet size estimates) and AQE
    legitimately pick broadcasts; at 100× the same code plans shuffle
    joins that OptimizeSkewedJoin can split.  So the contract is:
    (a) the plan executes under AdaptiveSparkPlan with skewJoin
    enabled, and (b) NO analyzed-plan broadcast hint subtree contains
    corpus-scale columns (doc text / embeddings / per-doc rows) — a
    forced hint is the one thing that would pin the small-SF shape at
    100 TB and OOM (the sanctioned 1-row scalar broadcasts carry no
    corpus columns)."""
    df = registry.queries()[key](spark, "/root/testdata/sf0.01")
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    for sub in plan_utils.broadcast_hint_subtrees(df):
        assert "documents.parquet" not in sub and "embeddings.parquet" not in sub, (
            f"{key}: forced broadcast hint over a corpus-scale side"
        )
    plan = _executed_plan(df)
    assert "AdaptiveSparkPlan" in plan


def test_scratch_dir_bounded_per_slot(tmp_path, monkeypatch):
    """ADVICE r5: scratch dirs must not grow unboundedly in a long-
    lived driver.  Contract: per slot, the current AND previous
    generation stay readable (the r4 prior-handle guarantee), anything
    older is reclaimed."""
    import os

    from dbt_json_readr_spark import session as S

    monkeypatch.setattr(S, "_SCRATCH_LIVE", {})
    d1 = S.scratch_dir("slotA")
    d2 = S.scratch_dir("slotA")
    assert os.path.isdir(d1) and os.path.isdir(d2)  # prior survives
    d3 = S.scratch_dir("slotA")
    assert not os.path.exists(d1)                   # 2 generations back: gone
    assert os.path.isdir(d2) and os.path.isdir(d3)
    other = S.scratch_dir("slotB")                  # slots are independent
    assert os.path.isdir(d2) and os.path.isdir(d3) and os.path.isdir(other)
    for d in (d2, d3, other):
        __import__("shutil").rmtree(d, ignore_errors=True)


def test_r13_ann_sweep_plan_stays_truncated(spark):
    """r12 found ~170 s of ann_sweep_eval's 190 s action was DRIVER-side
    analysis of an exponentially-composed logical plan (2.1M formatted
    lines, 184k InMemoryTableScan refs); per-round localCheckpoint cut
    it to ~3.3k lines.  A cheap length pin catches the exponential tree
    returning (VERDICT r12 item 8)."""
    from dbt_json_readr_spark.plans import llm

    plan = plan_utils.formatted_plan(llm.ann_sweep_eval(spark, SF))
    n_lines = plan.count("\n")
    assert n_lines < 50_000, f"sweep plan exploded again: {n_lines} lines"


def test_r13_lsh_recall_truth_keeps_parallelism(spark):
    """r12: AQE coalesced the few-MB aggregated-sets frame to ONE
    partition and the all-pairs truth join ran single-threaded (bytes
    understate compute).  The explicit REPARTITION_BY_NUM at the
    session's parallelism is exempt from AQE coalescing — pin that the
    exchange is still in the plan (VERDICT r12 item 8)."""
    from dbt_json_readr_spark.plans import llm

    plan = plan_utils.formatted_plan(llm.dedup_lsh_recall(spark, SF))
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par}" in plan, (
        "dedup_lsh_recall lost its explicit repartition — the exact "
        "truth join will run single-threaded under AQE coalescing"
    )


def test_r13_containment_verify_shape_pinned(spark):
    """The r12/r13 containment-LSH verify must keep the all-broadcast
    shape under the auto-gates (candidates under the pair cap, sets
    under the byte cap): no SortMergeJoin may appear — at sf1 an
    unhinted set join sorted 4.1M pair rows carrying ~2 KB shingle
    arrays through an exchange (307 CPU·s vs 107)."""
    from dbt_json_readr_spark.plans import llm

    plan = plan_utils.formatted_plan(llm.dedup_containment_lsh(spark, SF))
    assert "SortMergeJoin" not in plan, (
        "containment verify fell off the broadcast path at gate scale"
    )


def test_r13_release_iter_handle_frees_checkpoint_blocks(spark):
    """ADVICE r12 / VERDICT r12 item 9: DataFrame.unpersist() is a
    silent no-op for localCheckpoint()-ed frames, so both the direct
    release helper and slot rotation must actually free the LogicalRDD
    blocks — this pin makes the py4j reach-in (queryExecution/analyzed/
    rdd) upgrade-proof: a Spark rename breaks THIS test, not prod."""
    from dbt_json_readr_spark.session import release_iter_handle, rotate_cached

    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    df = spark.range(1000).localCheckpoint()
    assert jsc.getPersistentRDDs().size() == base + 1
    release_iter_handle(df)
    assert jsc.getPersistentRDDs().size() == base, (
        "release_iter_handle no longer frees checkpoint blocks"
    )
    # and through slot rotation (rotate_cached routes eviction through
    # release_iter_handle): rotating a checkpointed frame out of its
    # slot must free its blocks immediately, not at GC time
    a = spark.range(10).localCheckpoint()
    rotate_cached("r13_pin_slot", [a])
    b = spark.range(20).localCheckpoint()
    rotate_cached("r13_pin_slot", [b])
    assert jsc.getPersistentRDDs().size() == base + 1, (
        "rotation left the superseded checkpointed frame's blocks live"
    )
    release_iter_handle(b)
    from dbt_json_readr_spark.session import _CACHE_SLOTS

    _CACHE_SLOTS.get(spark, {}).pop("r13_pin_slot", None)
    assert jsc.getPersistentRDDs().size() == base


# the lineage keys that read the manifest's dependency DAG, and the
# run_results scans each makes besides
_LINEAGE_KEYS = {
    "dbt_lineage_closure": 0,
    "dbt_lineage_closure_rcte": 0,
    "dbt_lineage_depth": 0,
    "dbt_pagerank": 0,
    "dbt_critical_path": 1,
    "dbt_model_fanout": 0,
}


@pytest.mark.parametrize("key", sorted(_LINEAGE_KEYS))
def test_lineage_key_decodes_each_artifact_once(spark, key):
    """Over the whole query — every round of the iterative operators
    and the final collect — the manifest is scanned exactly once, and
    run_results once for the critical path.  Lazy inputs re-scanned the
    manifest in every round."""
    from collections import Counter
    from pathlib import PurePosixPath

    from dbt_json_readr_spark.plans import dbt

    ran = profile.run(spark, lambda: getattr(dbt, key)(spark, SF).collect(), f"lineage_scans_{key}")
    scans = plan_utils.file_scans(ran.executions)
    by_file: Counter = Counter()
    for location, n in scans.items():
        by_file[PurePosixPath(location).name] += n
    assert by_file == Counter(
        {"manifest.json": 1, "run_results.json": _LINEAGE_KEYS[key]}
    ) - Counter(), f"{key}: text scans {dict(scans)}"


# Spark jobs each lineage key runs at the fixture, warm.  Critical path,
# depth and PageRank relax their graph in memory: its checkpoint and
# collect, plus the run_results broadcast for the critical path.  The
# closure's rounds broadcast their node-sized side, so a round costs at
# most 4 jobs
_LINEAGE_JOBS = {
    "dbt_lineage_closure": 13,
    "dbt_lineage_closure_rcte": 22,
    "dbt_lineage_depth": 2,
    "dbt_pagerank": 2,
    "dbt_critical_path": 3,
    "dbt_model_fanout": 4,
}
# ... and the in-memory keys' Spark rounds, under
# autoBroadcastJoinThreshold=-1; PageRank exits on its first round that
# moves no rank, the critical path and depth after DAG-depth rounds, and
# depth also checkpoints the node ids its result joins
_ROUNDS_JOBS = {"dbt_critical_path": 14, "dbt_lineage_depth": 16, "dbt_pagerank": 32}
# plan-graph nodes that only wrap others
_WRAPPERS = ("WholeStageCodegen", "InputAdapter")


def _op_names(execution) -> list:
    return [n.name.strip() for n in execution.nodes if not n.name.strip().startswith(_WRAPPERS)]


@pytest.mark.parametrize("key", sorted(_LINEAGE_JOBS))
def test_lineage_key_job_counts_pinned(spark, key):
    """Each lineage key's whole query, collect included, runs the pinned
    number of Spark jobs.  At this scale the jobs are most of the cost,
    so a regression here is a regression in time."""
    from dbt_json_readr_spark.plans import dbt

    fn = getattr(dbt, key)
    fn(spark, SF).collect()
    jobs = profile.run(spark, lambda: fn(spark, SF).collect(), f"lineage_jobs_{key}").jobs
    assert len(jobs) == _LINEAGE_JOBS[key], f"{key}: {len(jobs)} jobs"


# Spark jobs each corpus key runs at the fixture, warm, collect included,
# with more than one shuffle partition and with one (AQE then runs fewer
# stages as jobs of their own).  Under the broadcast bound the LSH key's
# jobs are the sketch's sizing job and its collect; _LSH_SPARK_JOBS
# pins its Spark shapes, at threshold -1.
_CORPUS_JOBS = {"dedup_minhash_lsh": (2, 2), "ann_bruteforce_topk": (4, 3)}
_LSH_SPARK_JOBS = (6, 4)


@pytest.mark.parametrize("key", sorted(_CORPUS_JOBS))
def test_corpus_key_job_counts_pinned(spark, key):
    """The dedup and top-k keys' whole query runs the pinned number of
    Spark jobs.  At the benchmark's scale their cost follows the job
    count, as the lineage keys' does."""
    from dbt_json_readr_spark.plans import llm

    fn = getattr(llm, key)
    fn(spark, SF).collect()
    jobs = profile.run(spark, lambda: fn(spark, SF).collect(), f"corpus_jobs_{key}").jobs
    single = int(spark.conf.get("spark.sql.shuffle.partitions")) == 1
    assert len(jobs) == _CORPUS_JOBS[key][single], f"{key}: {len(jobs)} jobs"


def test_minhash_lsh_spark_shapes_job_count_pinned(spark):
    """With the threshold at -1 the LSH key runs its Spark shapes, in the
    pinned number of jobs, and runs no sizing job for a driver tail it
    cannot take."""
    from dbt_json_readr_spark.plans import llm

    with plan_utils.broadcast_threshold(spark, -1):
        llm.dedup_minhash_lsh(spark, SF).collect()
        jobs = profile.run(
            spark, lambda: llm.dedup_minhash_lsh(spark, SF).collect(), "lsh_spark_shapes"
        ).jobs
    single = int(spark.conf.get("spark.sql.shuffle.partitions")) == 1
    assert len(jobs) == _LSH_SPARK_JOBS[single], f"{len(jobs)} jobs"


def test_minhash_sketch_plan_hashes_in_codegen_and_converts_lanes_per_doc(spark):
    """The cached minhash sketch's plan, as it ran: below the partial
    aggregate the only ``conv`` is the shingle hash, so the lanes are
    aggregated as hex and converted per doc, not per shingle row; and
    the shingle ``Generate`` holds no lambda, so shingling runs in
    codegen rather than as an interpreted higher-order function."""
    from dbt_json_readr_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"document {i} of the sketch plan pin") for i in range(8)], "doc_id bigint, text string"
    )
    per_doc = D._per_doc_sketch(D._shingle_rows(docs, 5), 16, rotate=False)
    try:
        per_doc.count()
        scan = per_doc._jdf.queryExecution().executedPlan().executedPlan()
        lines = scan.relation().cachedPlan().executedPlan().treeString().splitlines()
    finally:
        per_doc.unpersist()
    partial = max(i for i, line in enumerate(lines) if "Aggregate(" in line)
    assert "partial_min(mh15" in lines[partial], lines[partial]
    below = lines[partial + 1 :]
    assert sum(line.count("conv(") for line in below) == 1, "\n".join(below)
    generates = [line for line in below if "Generate " in line]
    assert len(generates) == 1 and "lambdafunction" not in generates[0], generates
    assert all(f.dataType.simpleString() == "bigint" for f in per_doc.schema if f.name.startswith("mh"))


def test_minhash_lsh_driver_tail_is_a_local_relation(spark):
    """Under the broadcast bound the LSH key returns a local relation:
    its collect runs no Spark job, and the previous call's candidate
    cache is released while the shared sketch stays pinned."""
    from dbt_json_readr_spark.plans import llm
    from tests.plan_utils import live_cached

    with plan_utils.broadcast_threshold(spark, -1):
        llm.dedup_minhash_lsh(spark, SF).collect()
    assert live_cached("minhash_cand", spark)
    df = llm.dedup_minhash_lsh(spark, SF)
    assert df._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    assert not live_cached("minhash_cand", spark)
    assert live_cached("minhash_sketch", spark)
    ran = profile.run(spark, df.collect, "lsh_driver_tail")
    assert ran.result and not ran.jobs, f"collect ran jobs {ran.jobs}"


@pytest.mark.parametrize("key", ["dbt_critical_path", "dbt_lineage_depth", "dbt_pagerank"])
def test_lineage_rounds_broadcast_without_shuffling_first(spark, key):
    """Every round checkpoint of the iterative operators runs at most 4
    jobs, with no sort-merge join and no broadcast built from a shuffle
    read.  A shuffle read straight under a BroadcastExchange is AQE
    turning a planned sort-merge join into a broadcast only after both
    shuffles ran, which is what a checkpoint's multiplied row estimate
    causes without the hint.  The threshold sits just under the whole
    graph's footprint: the keys that relax a graph under the bound in
    memory run their Spark rounds, whose node and edge sides still fit."""
    from dbt_json_readr_spark.plans import dbt
    from dbt_json_readr_spark.session import ROW_BYTES
    from dbt_json_readr_spark.sources.artifacts import manifest_graph

    graph = manifest_graph(spark, dbt._manifest(dbt.FIXTURE_TARGET))
    size = graph.agg(*dbt._graph_footprint()).first()
    with plan_utils.broadcast_threshold(spark, size["rows"] * ROW_BYTES + size["string_bytes"] - 1):
        ran = profile.run(
            spark, lambda: getattr(dbt, key)(spark, SF).collect(), f"lineage_rounds_{key}"
        )
    rounds = [e for e in ran.executions if e.description.startswith("localCheckpoint")]
    assert len(rounds) > 1, f"{key}: no rounds ran"
    for e in rounds:
        ops = _op_names(e)
        assert len(e.job_ids) <= 4, f"{key}: a round ran {len(e.job_ids)} jobs: {ops}"
        assert "SortMergeJoin" not in ops, f"{key}: {ops}"
        shuffled = [
            below for op, below in zip(ops, ops[1:])
            if op == "BroadcastExchange" and below in ("AQEShuffleRead", "Exchange")
        ]
        assert not shuffled, f"{key}: broadcast built from a shuffle: {ops}"


@pytest.mark.parametrize("key", sorted(_ROUNDS_JOBS))
def test_lineage_in_memory_result_is_a_local_relation(spark, key):
    """Under the broadcast bound, the critical path, depth and PageRank
    keys return a local relation: collecting it runs no Spark job, so no
    task and no Python worker.  Rows handed to createDataFrame as a list
    would be parallelized and read back through a Python worker.  A warm
    call leaves no persisted RDD behind: the graph checkpoint is
    released once its rows are collected."""
    from dbt_json_readr_spark.plans import dbt

    fn = getattr(dbt, key)
    fn(spark, SF).collect()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().keySet
    before = set(persisted())
    df = fn(spark, SF)
    assert df._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    ran = profile.run(spark, df.collect, f"lineage_local_{key}")
    assert ran.result and not ran.jobs, f"{key}: collect ran jobs {ran.jobs}"
    assert [_op_names(e) for e in ran.executions] == [["LocalTableScan"]]
    assert not set(persisted()) - before, f"{key}: a call left persisted RDDs"


@pytest.mark.parametrize("key", ["dbt_critical_path", "dbt_lineage_depth"])
def test_lineage_rounds_pin_their_checkpoints_latest_wins(spark, key):
    """At threshold -1 the result of the Spark rounds reads checkpoints,
    which stay pinned in the key's ``rotate_cached`` slot until its next
    call releases them: three more calls leave no more persisted RDDs
    than one, though the caller still holds every result frame (garbage
    collection cannot free them)."""
    from dbt_json_readr_spark.plans import dbt

    fn = getattr(dbt, key)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    with plan_utils.broadcast_threshold(spark, -1):
        held = [fn(spark, SF)]
        rows = sorted(held[0].collect())
        one = persisted().size()
        for _ in range(3):
            held.append(fn(spark, SF))
            assert sorted(held[-1].collect()) == rows
        assert persisted().size() <= one, f"{key}: {persisted().size() - one} more persisted RDDs"


def test_critical_path_runs_one_checkpoint_per_round(spark):
    """critical_path's only jobs are its edge checkpoint and one
    checkpoint per relaxation round; the change count rides in the
    round's own job, so there is no probe job.  A depth-3 chain needs
    3 relaxing rounds and no confirming one: after round 3 only the
    leaf changed, and it feeds no other node."""
    from dbt_json_readr_spark.operators.lineage import critical_path

    nodes = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 0)], "unique_id string, wt_fp long"
    )
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c")], "child_unique_id string, parent_unique_id string"
    )
    ran = profile.run(spark, lambda: critical_path(nodes, edges), "critical_path_round_pin")
    jobs = set(ran.jobs)
    execs = [e for e in ran.executions if jobs.intersection(e.job_ids)]
    assert {r.unique_id: r.critical_cost_fp for r in ran.result.collect()} == {
        "a": 1, "b": 3, "c": 6, "d": 10, "e": 0,
    }
    assert [e.description.split(" at ")[0] for e in execs] == ["localCheckpoint"] * (1 + 3)
    assert jobs == set().union(*(e.job_ids for e in execs)), "a job ran outside the checkpoints"


def test_lineage_rounds_fall_back_to_the_planner_without_a_threshold(spark):
    """With spark.sql.autoBroadcastJoinThreshold=-1 no observed size fits,
    so no lineage round carries a broadcast hint (and the planner adds
    none): every join is left to the planner, and the results are the
    same as with the broadcasts.  The critical path, depth and PageRank
    keys then run their Spark rounds, in the pinned number of jobs, and
    give the rows they relax in memory under the default threshold."""
    from dbt_json_readr_spark.operators import lineage as L
    from dbt_json_readr_spark.plans import dbt

    nodes = spark.createDataFrame(
        [(n, w) for n, w in zip("abcdef", (1, 2, 3, 4, 0, 5))], "unique_id string, wt_fp long"
    )
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("d", "a"), ("f", "e"), ("f", "ghost")],
        "child_unique_id string, parent_unique_id string",
    )
    runs = {
        "critical_path": lambda: sorted(map(tuple, L.critical_path(nodes, edges).collect())),
        "pagerank": lambda: sorted(map(tuple, L.pagerank(nodes, edges).collect())),
        "transitive_closure": lambda: sorted(map(tuple, L.transitive_closure(edges).collect())),
    }
    hinted = {}
    for name, run in runs.items():
        ran = profile.run(spark, run, f"lineage_hinted_{name}")
        hinted[name] = ran.result
        assert any("BroadcastExchange" in _op_names(e) for e in ran.executions), name
    keys = {
        key: lambda key=key: sorted(map(tuple, getattr(dbt, key)(spark, SF).collect()))
        for key in _ROUNDS_JOBS
    }
    for key, run in keys.items():
        hinted[key] = run()
    with plan_utils.broadcast_threshold(spark, -1):
        for name, run in {**runs, **keys}.items():
            ran = profile.run(spark, run, f"lineage_fallback_{name}")
            assert ran.result == hinted[name], name
            for e in ran.executions:
                assert "BroadcastExchange" not in _op_names(e), f"{name}: {_op_names(e)}"
            if name in keys:
                assert len(ran.jobs) == _ROUNDS_JOBS[name], f"{name}: {len(ran.jobs)} jobs"
                checkpoints = [e for e in ran.executions if e.description.startswith("localCheckpoint")]
                assert len(checkpoints) > 2, name


def test_rotate_cached_empty_frames_release_the_slot(spark):
    """A sweep that raises before its first pin hands ``[]`` to its slot;
    that must release the previous sweep's frames, not keep them."""
    from dbt_json_readr_spark.session import rotate_cached
    from tests.plan_utils import live_cached

    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    rotate_cached("empty_sweep_slot", [spark.range(10).localCheckpoint()])
    assert jsc.getPersistentRDDs().size() == base + 1
    rotate_cached("empty_sweep_slot", [])
    assert jsc.getPersistentRDDs().size() == base, "previous sweep still pinned"
    assert live_cached("empty_sweep_slot", spark) == []


# dedup keys: (array_intersect in the plan, broadcast set-side pairs, SQL
# executions building the frame runs).  The gate is the only build-time
# job — one per verify; the other keys gate on cached probes or not at all.
# _PIN_THRESHOLDS runs a pin at its own broadcast threshold.
_VERIFY_PINS = {
    "dedup_minhash_lsh": (1, 0, 1),
    "dedup_minhash_lsh@1": (1, 1, 2),
    "dedup_containment_lsh": (1, 1, 1),
    "dedup_incremental": (1, 1, 1),
    "dedup_band_utility": (1, 1, 1),
    "dedup_k_sweep": (3, 3, 3),
    "dedup_embedding_cosine": (0, 1, 0),
    "dedup_ngram_jaccard": (1, 0, 0),
    "dedup_containment": (1, 0, 0),
}
_PIN_THRESHOLDS = {"dedup_minhash_lsh": -1, "dedup_minhash_lsh@1": 1}
_SET_SIDES = [("doc_a", "sh_a"), ("doc_b", "sh_b"), ("vec_a", "va", "na"), ("vec_b", "vb", "nb")]


def _broadcast_inputs(plan: str) -> list:
    """Column names (expression ids dropped) of each BroadcastExchange."""
    import re

    return [
        tuple(re.sub(r"#\d+L?$", "", c) for c in cols.split(", "))
        for cols in re.findall(r"^\(\d+\) BroadcastExchange\nInput \[\d+\]: \[(.*)\]$", plan, re.M)
    ]


@pytest.mark.parametrize("key", sorted(_VERIFY_PINS))
def test_dedup_verify_plan_and_build_jobs_pinned(spark, key):
    """Each set verify evaluates array_intersect ONCE per pair: without
    the eval_once Generate barrier the threshold filter is pushed into
    the join condition and the intersect shows (and runs) twice.  At
    sf0.001 the gate picks set broadcast, so both per-doc set sides (or
    both vector sides) are BroadcastExchanges.  Building the frame — the
    second build, once the probe caches are warm — runs only the gate's
    job per verify.

    The LSH key verifies on the driver under the broadcast bound, so its
    Spark verify is pinned at two thresholds: at -1 the session turns
    broadcasts off and the verify hints none, and at 1 byte the sketch's
    sizing job refuses the driver tail and the gate hints both set
    sides."""
    from dbt_json_readr_spark.plans import llm

    n_intersect, n_side_pairs, n_jobs = _VERIFY_PINS[key]
    fn = getattr(llm, key.split("@")[0])
    threshold = _PIN_THRESHOLDS.get(key)
    with nullcontext() if threshold is None else plan_utils.broadcast_threshold(spark, threshold):
        fn(spark, SF)
        ran = profile.run(spark, lambda: fn(spark, SF), f"verify_build_{key}")
        plan = plan_utils.formatted_plan(ran.result)
    assert plan.count("array_intersect") == n_intersect
    if threshold == -1:
        assert "BroadcastExchange" not in plan, f"{key}: a broadcast at threshold -1"
    sides = [s for s in _broadcast_inputs(plan) if s in _SET_SIDES]
    assert len(sides) == 2 * n_side_pairs, f"{key}: broadcast sides {sides}"
    assert len(ran.executions) == n_jobs, f"{key}: build ran {[e.description for e in ran.executions]}"
