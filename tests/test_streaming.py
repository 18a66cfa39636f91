"""Streaming == batch equivalence (SURVEY.md §5 item 4): every D-job
drained through the memory sink must agree with its batch formulation
on the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_json_readr_spark.plans.events import events_windowed_agg
from dbt_json_readr_spark.sources.tables import load
from dbt_json_readr_spark.streaming import jobs

SF = "/root/testdata/sf0.001"


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_streaming_windowed_agg_matches_batch(spark):
    got = _rows(jobs.streaming_windowed_agg(spark, SF), "window_start", "event_type")
    want = _rows(events_windowed_agg(spark, SF), "window_start", "event_type")
    assert got == want


def test_streaming_sessionization_matches_batch_session_window(spark):
    got = _rows(
        jobs.streaming_sessionization(spark, SF), "user_id", "session_start"
    )
    # batch re-derivation with the same native operator
    ev = load(spark, SF, "events")
    want = _rows(
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        ),
        "user_id",
        "session_start",
    )
    assert got == want


def test_streaming_dedup_drops_redelivered_copies(spark):
    out = jobs.streaming_dedup(spark, SF)
    src = load(spark, SF, "events")
    assert out.count() == src.count()
    assert _rows(out.select("event_id"), "event_id") == _rows(
        src.select("event_id"), "event_id"
    )


def test_streaming_stateful_counts_matches_batch(spark):
    got = _rows(jobs.streaming_stateful_counts(spark, SF), "user_id")
    ev = load(spark, SF, "events")
    want = _rows(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias("value_micros"),
        ),
        "user_id",
    )
    assert got == want


def test_stateful_counts_state_survives_micro_batches(spark, tmp_path):
    """Split the events into two parquet files and force one file per
    micro-batch: the second batch must ACCUMULATE onto state from the
    first, proving the keyed ValueState really carries state across
    batches (the single-batch oracle run can't distinguish that)."""
    import glob
    import shutil

    ev = load(spark, SF, "events")
    for i, pred in enumerate(["event_id % 2 = 0", "event_id % 2 = 1"]):
        part_dir = str(tmp_path / f"w{i}")
        ev.filter(pred).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(jobs.stateful_counts(stream), "stream_multibatch", "update")
    rows = out.collect()
    # update mode emits once per (user, batch-touched): users present in
    # both halves appear twice — proof two micro-batches actually ran
    assert len(rows) > out.select("user_id").distinct().count()
    # final (max, monotonic) counts must equal the batch ground truth
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.value_micros)
    want = {
        r.user_id: (r.n, r.v)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias("v"),
        )
        .collect()
    }
    assert final == want


def test_streaming_funnel_matches_batch(spark):
    from dbt_json_readr_spark.plans.events import events_funnel

    got = _rows(jobs.streaming_funnel(spark, SF), "funnel_stage")
    want = _rows(events_funnel(spark, SF), "funnel_stage")
    assert got == want


def test_funnel_state_survives_micro_batches(spark, tmp_path):
    """A 'click' arriving in batch 2 can only upgrade the user to stage
    'click' if the 'view' min-ts from batch 1 is still in state — batch
    2 alone would classify the user as 'none'."""
    import datetime as dt

    schema = load(spark, SF, "events").schema
    t1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t2 = dt.datetime(2024, 1, 1, 10, 5, 0)
    batches = [
        [(1, t1, 100, "view", 1.0, "{}"), (2, t1, 200, "view", 1.0, "{}")],
        [(3, t2, 100, "click", 1.0, "{}"), (4, t2, 200, "purchase", 1.0, "{}")],
    ]
    import glob
    import shutil

    for i, rows in enumerate(batches):
        part_dir = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(jobs.funnel_stages(stream), "stream_funnel_mb", "update")
    emitted = {(r.user_id, r.funnel_stage) for r in out.collect()}
    # user 100: view (batch 1) then upgraded to click (batch 2, via state)
    assert (100, "click") in emitted
    # user 200: purchase without click never passes 'view'
    assert (200, "view") in emitted
    # nobody ever classified 'none' — batch 2 alone would have
    assert not any(s == "none" for _, s in emitted)


def test_streaming_enrich_segments_matches_batch(spark):
    got = _rows(jobs.streaming_enrich_segments(spark, SF), "c_mktsegment", "event_type")
    ev = load(spark, SF, "events")
    cust = load(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    want = _rows(
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        ),
        "c_mktsegment",
        "event_type",
    )
    assert got == want


def test_streaming_topk_state_merges_across_micro_batches(spark, tmp_path):
    """The global top-5 per type must survive a 2-batch split: an event
    from batch 1 that belongs in the final top-5 can only be emitted
    after batch 2 if the retained k-set carried it in state."""
    import glob
    import shutil

    from pyspark.sql import Window as W

    ev = load(spark, SF, "events")
    for i, pred in enumerate(["event_id % 2 = 0", "event_id % 2 = 1"]):
        part_dir = str(tmp_path / f"w{i}")
        ev.filter(pred).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(jobs.topk_per_type(stream), "stream_topk_mb", "update")
    emitted = {tuple(r) for r in out.collect()}
    # two emits per type — proof two micro-batches ran
    assert len(emitted) > out.select("event_type").distinct().count() * jobs._TOPK_K / 2
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    want = {
        tuple(r)
        for r in ev.select(
            "event_type",
            F.row_number().over(w).alias("rank"),
            "event_id",
            "value",
        )
        .filter(F.col("rank") <= jobs._TOPK_K)
        .collect()
    }
    # the full-data top-5 includes batch-1 events; batch 2 alone could
    # not have emitted them
    assert want <= emitted


def test_streaming_topk_matches_batch_oracle(spark):
    got = _rows(jobs.streaming_topk(spark, SF), "event_type", "rank")
    ev = load(spark, SF, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    want = _rows(
        ev.select(
            "event_type",
            F.row_number().over(w).cast("integer").alias("rank"),
            "event_id",
            "value",
        ).filter(F.col("rank") <= jobs._TOPK_K),
        "event_type",
        "rank",
    )
    assert got == want


def test_cdc_latest_state_survives_micro_batches(spark, tmp_path):
    """Two forced micro-batches, events split by parity of event_id: the
    converged latest-state view must equal the batch max-by ground
    truth regardless of which batch carried each user's newest event —
    proof that the keyed (ts, event_id) ordering is applied across
    batch boundaries, not within one batch."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    ev = load(spark, SF, "events")
    for i, pred in enumerate(["event_id % 2 = 0", "event_id % 2 = 1"]):
        part_dir = str(tmp_path / f"w{i}")
        ev.filter(pred).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
    )
    out = jobs._run_to_memory(jobs.cdc_latest(stream), "stream_cdc_mb", "update")
    final = {}
    for r in out.collect():  # update mode: keep the max-n emission per user
        if r.user_id not in final or r.n_updates > final[r.user_id].n_updates:
            final[r.user_id] = r
    want = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by("event_id", F.struct("ts", "event_id")).alias("last_id"),
            F.max_by("value", F.struct("ts", "event_id")).alias("last_v"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for uid, w in want.items():
        got = final[uid]
        assert got.n_updates == w.n
        assert got.last_event_id == w.last_id
        assert got.last_value == w.last_v


def test_windowed_distinct_dedups_across_micro_batches(spark, tmp_path):
    """Chained stateful ops under multi-batch execution: duplicate the
    whole event file into TWO source files (every (hour, user) pair
    redelivered in a later batch) — the dedup state must suppress the
    second copy before the windowed count, so distinct counts match the
    single-copy batch ground truth exactly."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    ev = load(spark, SF, "events")
    for i in range(2):
        part_dir = str(tmp_path / f"w{i}")
        ev.coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "10 hours")  # wide enough to keep all dedup state
    )
    # Same shape as the production op (jobs.streaming_windowed_distinct):
    # dropDuplicatesWithinWatermark, so dedup state is evicted by event
    # time instead of growing forever — the redelivered copies here land
    # within the watermark delay, so dedup must still be exact.
    hourly_users = stream.select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id", "ts"
    ).dropDuplicatesWithinWatermark(["hour", "user_id"])
    assert "DeduplicateWithinWatermark" in hourly_users._jdf.queryExecution().logical().toString()
    agg = (
        hourly_users.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("h"), "n")
    )
    out = jobs._run_to_memory(agg, "stream_wd_mb", "complete")
    got = {r.h: r.n for r in out.collect()}
    want = {
        r.h: r.n
        for r in ev.select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_state_store_is_rocksdb(spark):
    """prep() must select the RocksDB provider — the disk-backed state
    store a large stateful job runs with; every streaming oracle green
    in this suite therefore ran under it."""
    from dbt_json_readr_spark.session import prep

    prep(spark)
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def test_left_outer_join_state_and_eviction_across_micro_batches(spark, tmp_path):
    """Two forced micro-batches: user 1's purchase arrives a batch AFTER
    its click (must match via buffered join state), user 2's click never
    matches (must null-pad once the watermark passes its 10-min window),
    and the late sentinel click/purchase pair that advances the
    watermark is itself still inside its window (must NOT emit)."""
    import datetime as dt
    import glob
    import shutil

    schema = load(spark, SF, "events").schema
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t5 = dt.datetime(2024, 1, 1, 10, 5, 0)
    late = dt.datetime(2024, 1, 1, 13, 0, 0)
    batches = [
        [(1, t0, 1, "click", 1.0, "{}"), (2, t0, 2, "click", 1.0, "{}")],
        [
            (3, t5, 1, "purchase", 9.5, "{}"),
            # sentinels push both sides' watermarks to 12:00 (> 10:10)
            (4, late, 98, "click", 1.0, "{}"),
            (5, late, 99, "purchase", 1.0, "{}"),
        ],
    ]
    for i, rows in enumerate(batches):
        part_dir = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events_*.parquet")
            .parquet(str(tmp_path))
        )

    out = jobs._run_to_memory(
        jobs.left_outer_click_purchase(stream(), stream()),
        "stream_loj_mb",
        "append",
    )
    rows = {(r.user_id, r.click_id, r.purchase_id, r.matched) for r in out.collect()}
    # click (batch 1) matched by purchase (batch 2) through join state
    assert (1, 1, 3, True) in rows
    # unmatched click null-padded after watermark passed 10:10
    assert (2, 2, None, False) in rows
    # the sentinel click's window is still open at the final watermark
    assert not any(u == 98 for u, *_ in rows)
    assert len(rows) == 2


def test_cdc_merge_sink_converges_across_forced_micro_batches(spark, tmp_path):
    """Two forced micro-batches (events split by event_id parity) into
    the Delta MERGE sink: the committed table must equal the global
    last-write-wins truth — proving the (current, batch) conflict
    resolution works ACROSS batches, not just within one (the
    single-file drain never exercises it)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from dbt_json_readr_spark.sources import deltawriter as DW
    from dbt_json_readr_spark.sources import lakeformats as LF

    ev = load(spark, SF, "events")
    for i, pred in enumerate(["event_id % 2 = 0", "event_id % 2 = 1"]):
        part_dir = str(tmp_path / f"w{i}")
        ev.filter(pred).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    tbl = str(tmp_path / "table")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
    )
    q = (
        stream.writeStream.foreachBatch(jobs.cdc_merge_writer(tbl))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v = DW._table_version(tbl)
    assert v >= 1  # two micro-batches really merged
    jobs.cdc_merge_writer(tbl)(ev, 0)  # a replayed batch id commits nothing
    assert DW._table_version(tbl) == v
    got = {
        r.user_id: (r.n_updates, r.last_event_id, r.last_value)
        for r in LF.read_delta_snapshot(spark, tbl).collect()
    }
    want = {
        r.user_id: (r.n, r.last_id, r.last_v)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by("event_id", F.struct("ts", "event_id")).alias("last_id"),
            F.max_by("value", F.struct("ts", "event_id")).alias("last_v"),
        )
        .collect()
    }
    assert got == want


def test_session_timeout_timer_fires_without_new_events_for_key(spark, tmp_path):
    """THE event-time-timer capability claim: user 1's session must be
    emitted by handleExpiredTimer when a LATER batch advances the
    watermark past last+gap — even though user 1 has no events in that
    batch (applyInPandasWithState only runs on keys present in a batch,
    so it structurally cannot do this).  The sentinel user's own
    session stays open (still inside the watermark horizon)."""
    import datetime as dt
    import glob
    import shutil

    schema = load(spark, SF, "events").schema
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 10, 2, 0)
    late = dt.datetime(2024, 1, 1, 13, 0, 0)
    batches = [
        [(1, t0, 1, "view", 1.0, "{}"), (2, t1, 1, "click", 1.0, "{}")],
        # watermark after this batch: 13:00 - 1h = 12:00 > 10:32
        [(3, late, 99, "view", 1.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        part_dir = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(
        jobs.session_timeout_sessions(stream), "sess_timer_mb", "update"
    )
    rows = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in out.collect()}
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    # user 1's 2-event session closed BY TIMER in a batch without user-1 rows
    assert (1, us(t0), us(t1), 2) in rows
    # sentinel session not emitted: its last+gap is past the final watermark
    assert not any(u == 99 for u, *_ in rows)


def test_session_timeout_merges_in_window_stragglers_across_batches(spark, tmp_path):
    """r5 code-review fold contract: a cross-batch straggler INSIDE the
    open session's gap window must merge and move session_start
    downward (as the globally-sorted oracle does); stragglers OLDER
    than start − gap sessionize among themselves and close
    immediately."""
    import datetime as dt
    import glob
    import shutil

    schema = load(spark, SF, "events").schema
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, 0)  # noqa: E731
    batches = [
        # open sessions: user 1 at 10:00+10:02, user 2 at 11:45
        [(1, t(10, 0), 1, "view", 1.0, "{}"), (2, t(10, 2), 1, "click", 1.0, "{}"),
         (3, t(11, 45), 2, "view", 1.0, "{}")],
        # stragglers: user 1 at 09:50 (inside 09:32..10:32 → merges,
        # start moves down); user 2 at 08:00+08:10 (older than
        # 11:15 − 30min → own closed session); sentinel drives the
        # watermark to 12:00
        [(4, t(9, 50), 1, "view", 1.0, "{}"),
         (5, t(8, 0), 2, "view", 1.0, "{}"), (6, t(8, 10), 2, "view", 1.0, "{}"),
         (7, t(13, 0), 99, "view", 1.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        part_dir = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(
        jobs.session_timeout_sessions(stream), "sess_straggler_mb", "update"
    )
    rows = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in out.collect()}
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    # user 1: merged straggler moved the start to 09:50; closed by timer
    # (10:32 <= watermark 12:00)
    assert (1, us(t(9, 50)), us(t(10, 2)), 3) in rows
    # user 2: the two pre-window stragglers form ONE closed session
    assert (2, us(t(8, 0)), us(t(8, 10)), 2) in rows
    # user 2's open 11:45 session must NOT emit (12:15 > watermark)
    assert not any(u == 2 and s == us(t(11, 45)) for u, s, *_ in rows)


def test_cdc_warmstart_snapshot_state_survives_older_live_events(spark, tmp_path):
    """Initial-state bootstrap semantics: a live event OLDER than the
    user's snapshot state must not displace it (the LWW max is over
    snapshot+live), and n_updates must count the snapshot rows the
    stream never saw — both only possible if handleInitialState really
    seeded the ValueState."""
    import datetime as dt
    import glob
    import shutil

    from pyspark.sql import functions as F

    schema = load(spark, SF, "events").schema
    t = lambda h: dt.datetime(2024, 1, 1, h, 0, 0)  # noqa: E731
    # snapshot (batch): user 1 has 3 rows, latest at 12:00 value 9.0
    snap_rows = [(2, t(10), 1, "view", 1.0, "{}"), (4, t(11), 1, "view", 2.0, "{}"),
                 (6, t(12), 1, "view", 9.0, "{}")]
    snap_df = spark.createDataFrame(snap_rows, schema)
    snap = (
        snap_df.groupBy("user_id")
        .agg(
            F.max(F.struct(F.unix_micros("ts").alias("ts_us"), "event_id", "value")).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("user_id", "m.ts_us", "m.event_id", "m.value", "n")
    )
    # live stream: user 1 gets an OLDER event (11:30, value 5.0);
    # user 2 is stream-only
    live_rows = [(7, t(11) + dt.timedelta(minutes=30), 1, "view", 5.0, "{}"),
                 (9, t(13), 2, "view", 7.0, "{}")]
    part_dir = str(tmp_path / "w0")
    spark.createDataFrame(live_rows, schema).coalesce(1).write.parquet(part_dir)
    [f] = glob.glob(f"{part_dir}/part-*.parquet")
    shutil.move(f, tmp_path / "events_0.parquet")
    shutil.rmtree(part_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(
        jobs.cdc_latest(stream, snap), "cdc_warm_unit", "update"
    )
    got = {r.user_id: (r.n_updates, r.last_event_id, r.last_value) for r in out.collect()}
    # user 1: snapshot state (12:00, id 6, 9.0) survives the older live
    # event; n_updates = 3 snapshot + 1 live
    assert got[1] == (4, 6, 9.0)
    # user 2: no snapshot -> plain fold over the live rows
    assert got[2] == (1, 9, 7.0)


def test_state_metrics_growth_bounded_across_forced_micro_batches(spark, tmp_path):
    """D22 (VERDICT r5 item 8): drive the dedup and windowed-agg state
    stores through FOUR forced micro-batches and pin the growth law the
    100× stream depends on: per-batch state rows are monotone
    non-decreasing, never exceed the data-derivable bound (distinct
    keys / distinct groups), and land exactly ON the bound — while
    cumulative updates reconcile with input volume."""
    import glob
    import shutil

    ev = load(spark, SF, "events")
    for i in range(4):
        part_dir = str(tmp_path / f"w{i}")
        ev.filter(f"event_id % 4 = {i}").coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events_*.parquet")
            .parquet(str(tmp_path))
            .withWatermark("ts", "1 hour")
        )

    n_events = ev.count()
    n_keys = ev.select("event_id").distinct().count()
    n_groups = (
        ev.select(F.date_trunc("hour", "ts"), "event_type").distinct().count()
    )

    ded = stream().dropDuplicates(["event_id"]).select("event_id")
    out, progress = jobs.run_with_progress(ded, "growth_ded", "append")
    assert out.count() == n_keys
    totals = [
        so["numRowsTotal"]
        for p in progress
        for so in p.get("stateOperators") or []
        if p.get("numInputRows")
    ]
    assert len(totals) == 4  # one per forced data batch
    assert totals == sorted(totals)          # monotone growth
    assert all(t <= n_keys for t in totals)  # bounded by distinct keys
    assert totals[-1] == n_keys              # converges exactly
    upd = sum(
        so["numRowsUpdated"] for p in progress for so in p.get("stateOperators") or []
    )
    assert upd == n_keys  # every key written once, redeliveries none here

    win = stream().groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out, progress = jobs.run_with_progress(win, "growth_win", "complete")
    assert out.count() == n_groups
    totals = [
        so["numRowsTotal"]
        for p in progress
        for so in p.get("stateOperators") or []
        if p.get("numInputRows")
    ]
    assert len(totals) == 4
    assert totals == sorted(totals) and totals[-1] == n_groups
    assert all(t <= n_groups for t in totals)
    # updates across batches ≥ final groups (hot groups rewritten), and
    # can never exceed one write per input row
    upd = sum(
        so["numRowsUpdated"] for p in progress for so in p.get("stateOperators") or []
    )
    assert n_groups <= upd <= n_events


def test_streaming_import_makes_protobuf_importable_for_workers():
    """The keyed-state operators have no fallback: the transformWithState
    state protocol needs ``google.protobuf`` in the driver AND in every
    Python worker.  A fresh interpreter with no PYTHONPATH that imports
    the module holding the operators must import the protobuf
    descriptor module; when that is the vendored runtime, its directory
    must be on PYTHONPATH too, which is what the spawned workers
    inherit."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    vendor = str(root / "dbt_json_readr_spark" / "_vendor")
    code = (
        "import json, os\n"
        "import dbt_json_readr_spark.streaming.jobs\n"
        "import google.protobuf.descriptor as d\n"
        "print(json.dumps([os.path.abspath(d.__file__), "
        "os.environ.get('PYTHONPATH', '')]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    module_file, pythonpath = json.loads(out.stdout.strip().splitlines()[-1])
    if module_file.startswith(vendor + os.sep):
        assert vendor in pythonpath.split(os.pathsep)


def test_vendored_protobuf_submessage_writes_through():
    """ADVICE r5: `msg.sub.field = x` on an unset message field must
    write through (real protobuf auto-vivifies), while an untouched
    vivified child must NOT flip HasField or appear on the wire —
    a pyspark upgrade using write-through nested access would
    otherwise silently send empty requests."""
    import sys
    from pathlib import Path

    vendor = Path(__file__).resolve().parents[1] / "dbt_json_readr_spark" / "_vendor"
    sys.path.insert(0, str(vendor))
    try:
        for m in [k for k in list(sys.modules) if k.startswith("google")]:
            del sys.modules[m]
        import google.protobuf.message as pm

        if not hasattr(pm.Message, "_present"):
            import pytest

            pytest.skip("real protobuf installed; vendored runtime not in play")
        from google.protobuf import descriptor as D
        from google.protobuf.internal import builder as B

        FD = D.FieldDescriptor
        inner = D.Descriptor(
            "Inner", "test.Inner",
            [FD("x", 1, FD.TYPE_INT64, FD.LABEL_OPTIONAL)], [], [],
        )
        fsub = FD("sub", 1, FD.TYPE_MESSAGE, FD.LABEL_OPTIONAL, ".test.Inner")
        fsub.message_type = inner
        outer = D.Descriptor(
            "Outer", "test.Outer",
            [fsub, FD("y", 2, FD.TYPE_INT64, FD.LABEL_OPTIONAL)], [], [],
        )
        B._make_class(inner, "t")
        B._make_class(outer, "t")
        Outer = outer._concrete_class
        m = Outer()
        # read-only vivification: no presence, nothing on the wire
        assert m.sub.x == 0
        assert not m.HasField("sub")
        assert m.SerializeToString() == b""
        # write-through: presence + wire bytes appear
        m.sub.x = 7
        assert m.HasField("sub")
        rt = Outer()
        rt.ParseFromString(m.SerializeToString())
        assert rt.sub.x == 7 and rt.HasField("sub")
        # Clear resets both maps
        m.Clear()
        assert not m.HasField("sub") and m.SerializeToString() == b""
    finally:
        sys.path.remove(str(vendor))
        for k in [k for k in list(sys.modules) if k.startswith("google")]:
            del sys.modules[k]


def test_session_timeout_two_stragglers_across_three_batches_split(spark, tmp_path):
    """ADVICE r5: pin the documented APPROXIMATION so it cannot drift
    silently.  A straggler older than start − gap closes immediately as
    its own session; a LATER straggler within gap of that already-
    closed session cannot merge into it (the state is gone) and starts
    a second session — where a globally-sorted batch truth would emit
    ONE two-event session.  This split is the intentional cross-batch
    contract; if a refactor starts merging (or dropping) these rows,
    this test fails and the docstring must change with it.

    Timing note: Spark's TWS late-record filter uses the PREVIOUS
    batch's watermark, so the second straggler must sit at or above
    that (batch 3 filters below 11:00 = batch-1 max − 1 h) while still
    preceding the open session's gap window (11:30) — stragglers below
    the late filter never reach the operator at all, which is Spark's
    own drop, not this operator's."""
    import datetime as dt
    import glob
    import shutil

    schema = load(spark, SF, "events").schema
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, 0)  # noqa: E731
    batches = [
        # open session: user 1 at 12:00 + 12:05
        [(1, t(12, 0), 1, "view", 1.0, "{}"), (2, t(12, 5), 1, "click", 1.0, "{}")],
        # straggler 1: 10:50 < start − gap (11:30) → own closed session
        [(3, t(10, 50), 1, "view", 1.0, "{}"), (4, t(12, 30), 99, "view", 1.0, "{}")],
        # straggler 2: 11:10 — within gap of the CLOSED 10:50 session
        # and above batch 3's late filter (11:00); sentinel at 14:00
        # drives the watermark past 12:35
        [(5, t(11, 10), 1, "view", 1.0, "{}"), (6, t(14, 0), 99, "view", 1.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        part_dir = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(part_dir)
        [f] = glob.glob(f"{part_dir}/part-*.parquet")
        shutil.move(f, tmp_path / f"events_{i}.parquet")
        shutil.rmtree(part_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
    )
    out = jobs._run_to_memory(
        jobs.session_timeout_sessions(stream), "sess_two_straggler", "update"
    )
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    u1 = {(r.session_start_us, r.session_end_us, r.n_events)
          for r in out.collect() if r.user_id == 1}
    # the split: two singleton sessions, NOT one merged (10:50,11:10,2)
    assert (us(t(10, 50)), us(t(10, 50)), 1) in u1
    assert (us(t(11, 10)), us(t(11, 10)), 1) in u1
    assert (us(t(10, 50)), us(t(11, 10)), 2) not in u1
    # the open session closed normally via its timer
    assert (us(t(12, 0)), us(t(12, 5)), 2) in u1
