"""Structured Streaming jobs (SURVEY.md §2 D1-D3) over the events table.

Each job is a real ``readStream`` pipeline (file source → event-time
transform → sink).  For the driver/oracle contract the sink is a memory
table run with ``trigger(availableNow=True)`` so the query drains the
source and terminates; in production the same unbounded DataFrame goes
to a kafka/delta sink with a processing-time trigger — only
``_run_to_memory`` changes.

Scale notes:
- Watermarks bound state: the windowed agg and dedup keep only
  in-watermark state per key, so a 1000-executor job's state store does
  not grow with stream length.
- ``session_window`` is Spark's native gap-session operator — state is
  merged per (user, overlapping-window), shuffled once on user_id.
- The memory/complete combinations below exist to make results
  collectable for the oracle gate; they are flagged where production
  would use append+watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import prep
from ..sources.tables import SCHEMAS


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded events source: file-source readStream with the explicit
    schema (streaming scans never infer) — same schema as the batch
    loader (sources/tables.py), ts read as micros timestamp.

    Layout-robust: the driver testdata stores the table as a single
    ``events.parquet`` FILE next to its siblings (→ glob-filter the
    parent dir), while a lake layout (and the sf1 soak data) stores a
    table DIRECTORY of part files (→ stream the directory itself; a
    glob for the table name would silently exclude every part file —
    a sf1 layout streams 0 rows that way)."""
    return _table_stream(spark, sf_dir, "events")


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """ONE layout-robust streaming file source for any testdata table
    (events_stream's layout handling, shared so a layout fix can never
    apply to one table's stream and miss another's)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(SCHEMAS[name])
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def _run_to_memory(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Drain the stream into an in-memory sink and return the result
    table.  availableNow processes the whole backlog then stops — the
    streaming analogue of a bounded test run."""
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(name)


# ---------------------------------------------------------------- D1


def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows with a 1-hour watermark.
    Complete mode here so the bounded test run emits every window; the
    production job is identical with append mode (windows finalize as
    the watermark passes) and a durable sink."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, "stream_windowed_agg", "complete")


# identical to the batch B11 oracle — streaming must converge to it
STREAMING_WINDOWED_AGG_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- D2

_GAP_S = 1800


def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap sessions: ``session_window(ts, 30 min)`` merges events
    whose windows overlap (gap strictly < 30 min) per user.  Note the
    boundary differs from the batch B10 operator (lag-based, gap > 30
    min continues): here an exact-30-min gap starts a NEW session —
    the oracle below encodes session_window's >= semantics."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
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
        )
    )
    return _run_to_memory(agg, "stream_sessions", "complete")


# gap-session rebuild with session_window's exact semantics:
# new session when the gap is >= 30 min; session_end = last ts + gap.
STREAMING_SESSIONIZATION_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= {_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {_GAP_S} SECOND AS session_end,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------- D3


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery dedup: each event is doubled upstream
    (simulating redelivery), then ``dropDuplicates`` on event_id within
    the watermark keeps exactly one copy.  Output is deterministic
    because redelivered copies are bit-identical, so the oracle is just
    the distinct source rows."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    doubled = ev.withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2)))).drop("_copy")
    deduped = doubled.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_to_memory(deduped, "stream_dedup", "append")


STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


# ---------------------------------------------------------------- D4


def streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user event count + fixed-point
    value sum across micro-batches, kept in keyed state by
    ``stateful_counts`` (see the keyed-state operators section)."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return _run_to_memory(stateful_counts(ev), "stream_stateful_counts", "update")


STREAMING_STATEFUL_COUNTS_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------- D13


def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained streaming aggregations (Spark ≥3.4/4 multi-stateful-op
    support): hourly windowed counts re-aggregated into daily windows
    in ONE streaming query, append mode — the two-tier rollup a
    metrics pipeline runs as a single job instead of a sink-and-reread.

    Event-time propagation: the second groupBy windows over
    ``window_time(w)`` (the hourly window's event-time column); the
    watermark from the source propagates through, so a daily window
    finalizes — and appends — once the watermark passes its end.  On a
    bounded drain the final no-data micro-batch advances the watermark
    to max(ts) − 1 h, flushing every day whose end ≤ that bound; the
    oracle encodes exactly that horizon (the trailing partial day stays
    in state, as it would on a live stream)."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(F.sum("n").alias("n_events"))
        .select(F.col("d.start").alias("day_start"), "event_type", "n_events")
    )
    return _run_to_memory(daily, "stream_daily_rollup", "append")


STREAMING_DAILY_ROLLUP_SQL = """
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type
  FROM events
)
SELECT day_start, event_type, CAST(count(*) AS BIGINT) AS n_events
FROM d, wm
GROUP BY day_start, event_type, wm.w
HAVING day_start + INTERVAL 1 DAY <= wm.w
ORDER BY 1, 2
"""


# ------------------------------------------------- keyed-state operators
# Every custom keyed-state operator runs on Spark 4's
# ``transformWithStateInPandas``: typed ValueState lives in the JVM
# state server (RocksDB provider, selected by ``prep``) instead of being
# pickled through the Python worker on every batch.  The Python side of
# the state protocol speaks protobuf; ``session`` puts the vendored
# runtime in ``_vendor/`` on the driver's and the workers' path when no
# protobuf is installed, and without it the query fails on import.
# Each operator is a public function of an events stream so tests can
# drive it with a multi-file source and prove state survives across
# micro-batches.


def stateful_counts(ev: DataFrame) -> DataFrame:
    """Per-user running totals in a typed ValueState: event count +
    floor-quantized value sum.  Everything is integer, so the result is
    independent of micro-batch boundaries and row order — a float
    accumulator would drift with batching."""
    prep(ev.sparkSession)
    import math

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Counts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, vsum LONG")

        def handleInputRows(self, key, rows, timer_values):
            n, vsum = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                vsum += int(
                    pdf["value"].map(lambda v: int(math.floor(v * 1_000_000))).sum()
                )
            self._agg.update((n, vsum))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_micros": [vsum]}
            )

        def close(self) -> None:
            pass

    # Arrow-boundary trim: the processor reads only `value`; without
    # the projection every event's event_type and props JSON string
    # would cross the Python boundary per micro-batch
    return ev.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Counts(),
        outputStructType="user_id long, n_events long, value_micros long",
        outputMode="Update",
        timeMode="None",
    )


def funnel_stages(ev: DataFrame) -> DataFrame:
    """Per-user funnel state: the min event-time of each stage, carried
    as int64 nanos (-1 = unseen) in a typed ValueState.  Mins are
    commutative, so the emitted stage is independent of micro-batch
    boundaries and row order: a 'click' in batch 2 upgrades a 'view'
    state from batch 1."""
    prep(ev.sparkSession)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Funnel(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stages", "t_view LONG, t_click LONG, t_purchase LONG"
            )

        def handleInputRows(self, key, rows, timer_values):
            tv, tc, tp = self._st.get() if self._st.exists() else (-1, -1, -1)

            def merge(cur: int, series) -> int:
                if series.empty:
                    return cur
                m = int(series.min())
                return m if cur < 0 else min(cur, m)

            for pdf in rows:
                ns = pd.Series(
                    pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
                )
                et = pdf["event_type"]
                tv = merge(tv, ns[et == "view"])
                tc = merge(tc, ns[et == "click"])
                tp = merge(tp, ns[et == "purchase"])
            self._st.update((tv, tc, tp))
            if tv >= 0 and tc > tv and tp > tc:
                stage = "purchase"
            elif tv >= 0 and tc > tv:
                stage = "click"
            elif tv >= 0:
                stage = "view"
            else:
                stage = "none"
            yield pd.DataFrame({"user_id": [key[0]], "funnel_stage": [stage]})

        def close(self) -> None:
            pass

    # Arrow-boundary trim: only ts + event_type are read
    return ev.select("user_id", "ts", "event_type").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Funnel(),
        outputStructType="user_id long, funnel_stage string",
        outputMode="Update",
        timeMode="None",
    )


def topk_per_type(ev: DataFrame) -> DataFrame:
    """Per-type top-k: the retained set lives in a ValueState with
    array columns, O(k) per key.  Selection, not accumulation: values
    pass through exactly, and the (value desc, event_id asc) order makes
    the retained set independent of micro-batch boundaries and row
    order."""
    prep(ev.sparkSession)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    k = _TOPK_K

    class _TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "topk", "vals ARRAY<DOUBLE>, ids ARRAY<LONG>"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._st.exists():
                st_vals, st_ids = self._st.get()
                vals, ids = list(st_vals), list(st_ids)
            else:
                vals, ids = [], []
            for pdf in rows:
                vals.extend(float(v) for v in pdf["value"])
                ids.extend(int(i) for i in pdf["event_id"])
            order = sorted(range(len(vals)), key=lambda i: (-vals[i], ids[i]))[:k]
            vals = [vals[i] for i in order]
            ids = [ids[i] for i in order]
            self._st.update((vals, ids))
            yield pd.DataFrame(
                {
                    "event_type": key[0],
                    "rank": pd.Series(range(1, len(ids) + 1), dtype="int32"),
                    "event_id": ids,
                    "value": vals,
                }
            )

        def close(self) -> None:
            pass

    # Arrow-boundary trim: only value + event_id are read
    return ev.select("event_type", "value", "event_id").groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_TopK(),
        outputStructType="event_type string, rank integer, event_id long, value double",
        outputMode="Update",
        timeMode="None",
    )


def cdc_latest(ev: DataFrame, snapshot: DataFrame | None = None) -> DataFrame:
    """Last-write-wins per user: the retained row is the max
    (ts_micros, event_id) in a typed ValueState, an exact integer
    comparison, so the materialized view is independent of micro-batch
    boundaries and arrival order (the CDC upsert invariant).

    ``snapshot``, when given, warm-starts the state: it must have
    columns (user_id, ts_us, event_id, value, n), one row per user, and
    is passed as ``initialState``, which loads each key's ValueState
    before the first batch."""
    prep(ev.sparkSession)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Latest(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "latest", "ts_us LONG, event_id LONG, value DOUBLE, n LONG"
            )

        def handleInitialState(self, key, initialState, timerValues):  # noqa: N803
            self._st.update(
                (
                    int(initialState["ts_us"].iloc[0]),
                    int(initialState["event_id"].iloc[0]),
                    float(initialState["value"].iloc[0]),
                    int(initialState["n"].iloc[0]),
                )
            )

        def handleInputRows(self, key, rows, timer_values):
            ts_us, eid, val, n = (
                self._st.get() if self._st.exists() else (-1, -1, 0.0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                for t, e, v in zip(
                    pdf["ts_us"].astype("int64"),
                    pdf["event_id"].astype("int64"),
                    pdf["value"].astype("float64"),
                ):
                    if (int(t), int(e)) > (ts_us, eid):
                        ts_us, eid, val = int(t), int(e), float(v)
            self._st.update((ts_us, eid, float(val), n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_updates": [n],
                    "last_event_id": [eid],
                    "last_value": [val],
                }
            )

        def close(self) -> None:
            pass

    keyed = ev.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Latest(),
        outputStructType="user_id long, n_updates long, last_event_id long, last_value double",
        outputMode="Update",
        timeMode="None",
        initialState=None if snapshot is None else snapshot.groupBy("user_id"),
    )


# ---------------------------------------------------------------- D5


def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view→click→purchase funnel (the multi-level streaming
    aggregation Spark's built-in ops can't chain): per-user ordered-stage
    detection runs as unbounded keyed state in ``funnel_stages``;
    the tiny stage histogram is a downstream batch rollup over the sink
    (production: the per-user stage upserts into a KV/Delta sink keyed by
    user_id, and the histogram is a view over it — chaining a second
    streaming agg after a stateful op is unsupported in update mode).

    Matches batch B17 (``events_funnel``) exactly: same conditional
    min-ts semantics, so the batch oracle is the correctness gate."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    per_user = _run_to_memory(funnel_stages(ev), "stream_funnel", "update")
    return (
        per_user.groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("funnel_stage")
    )


STREAMING_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT funnel_stage, count(*) AS n_users FROM (
  SELECT CASE
    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
         AND t_click > t_view AND t_purchase > t_click THEN 'purchase'
    WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view THEN 'click'
    WHEN t_view IS NOT NULL THEN 'view'
    ELSE 'none' END AS funnel_stage
  FROM per_user
) GROUP BY funnel_stage ORDER BY funnel_stage
"""

# ---------------------------------------------------------------- D6


def streaming_enrich_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the unbounded events stream joined to
    the static customer dimension — Spark re-broadcasts the static side
    per micro-batch, so the join is STATELESS (no streaming state at
    all, unlike stream-stream joins) and dimension updates between
    batches are picked up for free.  The canonical pattern for
    enriching a firehose with slowly-changing reference data."""
    prep(spark)
    from ..sources.tables import load

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        ev.join(F.broadcast(cust), ev.user_id == F.col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )
    return _run_to_memory(agg, "stream_enrich_segments", "complete")


STREAMING_ENRICH_SQL = """
SELECT c_mktsegment, event_type,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""

# ---------------------------------------------------------------- D7


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join with event-time bounds — the stateful
    join Structured Streaming is known for: each purchase matches the
    same user's clicks in the preceding 10 minutes.  Both sides carry
    watermarks, and the range condition lets Spark derive the state
    eviction horizon (a click older than watermark+10min can never
    match again, so join state is bounded — without the time bound this
    join would buffer both streams forever).  Output rows append as
    matches become final."""
    prep(spark)
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        [
            clicks.user_id == purchases.user_id,
            purchases.purchase_ts >= clicks.click_ts,
            purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES"),
        ],
    ).select(
        clicks.user_id.alias("user_id"),
        "click_id",
        "purchase_id",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / F.lit(1_000_000.0)
        ).alias("gap_seconds"),
        F.col("value").alias("purchase_value"),
    )
    return _run_to_memory(joined, "stream_stream_join", "append")


STREAMING_STREAM_JOIN_SQL = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE) / 1000000.0 AS gap_seconds,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 10 MINUTE
"""


# ---------------------------------------------------------------- D14


def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — D7's inner join plus the part
    only a stateful streaming engine can decide: a click with NO
    purchase in its 10-minute window emits a null-padded row, but only
    once the watermark proves no future purchase can still match
    (click_ts + 10 min < watermark).  Matches emit as they occur;
    null rows emit on state eviction.  Clicks whose windows are still
    open when the stream drains stay buffered and never emit — the
    oracle encodes that exact horizon: with both sides watermarked at
    1 h, the final global watermark is min(max click_ts, max
    purchase_ts) − 1 h (multipleWatermarkPolicy=min), and the
    availableNow no-data final batch flushes evictions up to it."""
    prep(spark)
    joined = left_outer_click_purchase(
        events_stream(spark, sf_dir), events_stream(spark, sf_dir)
    )
    return _run_to_memory(joined, "stream_left_outer_join", "append")


def left_outer_click_purchase(ev_clicks: DataFrame, ev_purchases: DataFrame) -> DataFrame:
    """Wire any pair of events streams through the left-outer join
    (separate so tests can drive it with a multi-file source and prove
    a purchase in batch 2 matches click state from batch 1, while an
    unmatched click null-pads only after the watermark passes its
    window)."""
    clicks = (
        ev_clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev_purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        [
            clicks.user_id == purchases.p_user_id,
            purchases.purchase_ts >= clicks.click_ts,
            purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES"),
        ],
        "left_outer",
    ).select(
        clicks.user_id.alias("user_id"),
        "click_id",
        "purchase_id",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / F.lit(1_000_000.0)
        ).alias("gap_seconds"),
        F.col("value").alias("purchase_value"),
        F.col("purchase_id").isNotNull().alias("matched"),
    )


STREAMING_LEFT_OUTER_JOIN_SQL = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
         - INTERVAL 1 HOUR AS w
)
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE) / 1000000.0 AS gap_seconds,
       p.value AS purchase_value,
       TRUE AS matched
FROM c JOIN p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 10 MINUTE
UNION ALL
SELECT c.user_id,
       c.event_id AS click_id,
       CAST(NULL AS BIGINT) AS purchase_id,
       CAST(NULL AS DOUBLE) AS gap_seconds,
       CAST(NULL AS DOUBLE) AS purchase_value,
       FALSE AS matched
FROM c, wm
WHERE c.ts + INTERVAL 10 MINUTE < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = c.user_id
      AND p.ts >= c.ts
      AND p.ts <= c.ts + INTERVAL 10 MINUTE
  )
"""


# ---------------------------------------------------------------- D8


def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping event-time windows: 10-minute windows sliding every
    5 minutes (each event lands in exactly two), per event_type — the
    shape behind rate alerting and trend detection, distinct from D1's
    tumbling partitions.  Watermark bounds state to the slide horizon;
    state per key is (window ÷ slide) entries, constant in stream
    length."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, "stream_sliding_window", "complete")


# ---------------------------------------------------------------- D9

_TOPK_K = 5


def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: per event_type, the running top-5 events
    by value held in keyed state by ``topk_per_type`` — the
    continuous-top-k shape (alert on new extremes, live rankings) that
    Spark's built-in streaming aggs
    can't express because rank/row_number aren't supported on streams.
    State per key is O(k): each batch folds into the retained k-set and
    the rest of the batch is forgotten — constant state regardless of
    stream length, no watermark needed."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return _run_to_memory(topk_per_type(ev), "stream_topk", "update")


STREAMING_TOPK_SQL = f"""
SELECT event_type, rank, event_id, value FROM (
  SELECT event_type, event_id, value,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY value DESC, event_id) AS INTEGER) AS rank
  FROM events
) WHERE rank <= {_TOPK_K}
ORDER BY event_type, rank
"""


# batch replay: every event belongs to the two 10-min windows starting
# at floor5(ts) and floor5(ts) - 5 min — enumerated with UNION ALL, the
# relational unfolding of the sliding window
STREAMING_SLIDING_WINDOW_SQL = """
WITH placed AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE, event_type, value FROM events
)
SELECT window_start, event_type,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
FROM placed
GROUP BY 1, 2
"""

# ---------------------------------------------------------------- D10


def streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly flagging against a static baseline: per-type
    mean/σ are computed ONCE batch-side (decimal-exact moments, one
    double conversion) and broadcast into the stream — the canonical
    production split where the expensive global statistic is a nightly
    batch job and the stream only pays a stateless broadcast join plus
    a running aggregate.  Events beyond 2σ of their type's mean count
    as anomalies."""
    prep(spark)
    from ..sources.tables import load

    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    nd = F.col("n").cast("double")
    stats = stats.select(
        "event_type",
        (F.col("s1") / nd).alias("mean"),
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / nd) / nd).alias("std"),
    )
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.abs(F.col("value") - F.col("mean")) > 2.0 * F.col("std")).cast(
                    "long"
                )
            ).alias("n_anomalies"),
        )
    )
    return _run_to_memory(agg, "stream_anomaly", "complete")


STREAMING_ANOMALY_SQL = """
WITH stats AS (
  SELECT event_type, count(*) AS n,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
),
base AS (
  SELECT event_type, s1 / CAST(n AS DOUBLE) AS mean,
         sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS std
  FROM stats
)
SELECT e.event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN abs(e.value - b.mean) > 2.0 * b.std THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM events e JOIN base b USING (event_type)
GROUP BY e.event_type
"""

# ---------------------------------------------------------------- D11


def streaming_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style materialized latest-state view: the canonical
    last-write-wins upsert consumer, built on ``cdc_latest``'s keyed
    state with integer (ts, event_id) ordering.  Update mode means
    only touched keys re-emit per micro-batch; the memory sink's final
    table is the converged view the oracle checks."""
    prep(spark)
    out = cdc_latest(events_stream(spark, sf_dir))
    return _run_to_memory(out, "stream_cdc_latest", "update")


STREAMING_CDC_LATEST_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_updates
  FROM events
)
SELECT user_id,
       CAST(n_updates AS BIGINT) AS n_updates,
       event_id AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1
"""

# ---------------------------------------------------------------- D12


def streaming_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct-user counts on a stream — the dedup-then-
    aggregate composition: COUNT(DISTINCT) is unsupported in streaming
    aggregates, so the stream first drops duplicate (hour, user) pairs
    inside the watermark, then a plain windowed count over the
    deduplicated stream gives the exact distinct cardinality.

    State boundedness: plain dropDuplicates on (hour, user_id) would
    never evict — neither key is the watermarked event-time column, so
    its state grows forever on an unbounded stream.
    dropDuplicatesWithinWatermark keys eviction off the row's event
    time instead: a pair's state expires one watermark delay after its
    newest ts.  Exactness holds because duplicates of a (hour, user)
    pair have ts inside that same hour by construction, so they land
    within the 1-hour delay of each other."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly_users = ev.select(
        F.date_trunc("hour", "ts").alias("hour"), "user_id", "ts"
    ).dropDuplicatesWithinWatermark(["hour", "user_id"])
    agg = (
        hourly_users.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
        .select(F.col("w.start").alias("window_start"), "n_distinct_users")
    )
    return _run_to_memory(agg, "stream_windowed_distinct", "complete")


STREAMING_WINDOWED_DISTINCT_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       count(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY date_trunc('hour', ts)
"""


# --------------------------------------------------------------- D15
# End-to-end exactly-once pipeline: stream → Delta table → rollup of
# the COMMITTED snapshot.  The durable-sink keys above stop at the
# memory sink; this one gates the real sink path (foreachBatch + txn
# replay guard + atomic commit) as a first-class correctness key
# instead of only a unit test.


def delta_sink(table_path: str, app: str) -> "Callable[[DataFrame, int], None]":
    """The exactly-once ``foreachBatch`` sink into a Delta table: each
    non-empty micro-batch is one ``write_delta`` append carrying the
    ``txn=(app, epoch)`` marker, and the sink SKIPS any epoch
    at-or-below the table's committed txn version for ``app`` — the
    protocol's idempotent-append recipe, so a batch replayed after a
    restart (the at-least-once window every foreachBatch sink has)
    cannot double-write."""
    from ..sources import deltawriter as DW

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        # explicit None check: a committed txn version 0 is FALSY, and
        # `(0 or -1) >= 0` would re-append the whole first batch on an
        # epoch-0 replay
        last = DW.last_txn_version(table_path, app)
        if last is not None and last >= epoch_id:
            return  # replayed epoch: already committed
        if bdf.isEmpty():
            return
        DW.write_delta(
            bdf.sparkSession, bdf, table_path, mode="append",
            txn=(app, epoch_id), colocate=False,
        )

    return _sink


def streaming_manifest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through ``delta_sink`` (each micro-batch
    = one atomic Delta commit, replays refused by the txn marker), then
    aggregate what the committed snapshot exposes.

    The rollup must equal the batch oracle regardless of how the file
    source split the backlog into micro-batches — commit atomicity,
    replay dedup, and snapshot-scoped reads are all load-bearing for
    that equality.  maxFilesPerTrigger is NOT pinned, so the oracle
    equality holds for any micro-batch planning.

    Scale posture: readers get snapshot isolation while executors
    append; the rollup reads only the files the log lists (no
    directory listing race with in-flight writers).
    """
    import os

    from ..session import scratch_dir
    from ..sources import lakeformats as LF

    prep(spark)
    root = scratch_dir("stream_manifest")
    tbl = os.path.join(root, "table")
    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(delta_sink(tbl, "djrs-stream-rollup"))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = LF.read_delta_snapshot(spark, tbl)
    return (
        committed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


STREAMING_MANIFEST_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------- D16
# Dynamic-gap sessions: Spark 4 session_window with a per-ROW gap
# expression — checkout flows idle longer than browse flows, so one
# global gap mis-splits one of them.

_DYN_GAP_SLOW_S = 3600  # purchase journeys may idle an hour
_DYN_GAP_FAST_S = 900   # everything else: 15 minutes


def streaming_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions per (user, event_type) where the merge gap is an
    EXPRESSION of the row (60 min for purchases, 15 min otherwise) —
    the dynamic-gap form of ``session_window``.

    The gap is constant within each grouping key here, so the batch
    oracle can replay it exactly with a per-type CASE gap in the lag
    rebuild (same >= boundary semantics as D2).  State is still
    watermark-bounded: a session closes once the watermark passes its
    end, whichever gap produced it.
    """
    prep(spark)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit(f"{_DYN_GAP_SLOW_S} seconds")
    ).otherwise(F.lit(f"{_DYN_GAP_FAST_S} seconds"))
    ev = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("sw"), "user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "event_type",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "stream_dyn_gap_sessions", "complete")


STREAMING_DYNAMIC_GAP_SQL = f"""
WITH g AS (
  SELECT user_id, event_type, ts,
         CASE WHEN event_type = 'purchase' THEN {_DYN_GAP_SLOW_S}
              ELSE {_DYN_GAP_FAST_S} END AS gap_s
  FROM events
),
marked AS (
  SELECT user_id, event_type, ts, gap_s,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts)) >= gap_s
              THEN 1 ELSE 0 END AS is_new
  FROM g
),
sess AS (
  SELECT user_id, event_type, ts, gap_s,
         sum(is_new) OVER (PARTITION BY user_id, event_type ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, event_type,
       min(ts) AS session_start,
       max(ts) + to_seconds(gap_s) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, event_type, session_id, gap_s
"""


# --------------------------------------------------------------- D17
# Streaming CDC → durable MERGE sink: D11 materializes latest-state in
# MEMORY; this key lands it in a Delta table via keyed upsert — the
# streaming half of what a Delta MERGE pipeline does, with replay
# dedup and batch-order-independent conflict resolution.


def cdc_merge_writer(table_path: str) -> "Callable[[DataFrame, int], None]":
    """foreachBatch hook: reduce the micro-batch to one latest-state
    row per user, resolve against the current snapshot by
    MAX(last_ts, last_event_id) — associative + commutative, so ANY
    batch split converges to the same table — accumulate n_updates
    additively, and commit the merged table as ONE atomic overwrite
    (readers see pre-merge or post-merge, never a mix) carrying the
    ``txn=(app, batch_id)`` marker; replayed batch ids are dropped by
    ``last_txn_version``.  Module-level (not a closure inside the job)
    so the forced multi-batch test can drive it with its own split
    stream."""
    from ..sources import deltawriter as DW
    from ..sources import lakeformats as LF

    app = "djrs-cdc-merge"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        last = DW.last_txn_version(table_path, app)
        if last is not None and last >= batch_id:
            return  # replayed batch: already merged
        b = (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_updates"),
                F.max(F.struct("ts", "event_id", "value")).alias("w"),
            )
            .select(
                "user_id",
                "n_updates",
                F.col("w.ts").alias("last_ts"),
                F.col("w.event_id").alias("last_event_id"),
                F.col("w.value").alias("last_value"),
            )
        )
        spark = batch_df.sparkSession
        if last is not None:  # a committed batch created the table
            cur = LF.read_delta_snapshot(spark, table_path)
            prev = cur.select(
                "user_id",
                F.col("n_updates").alias("p_n"),
                F.col("last_ts").alias("p_ts"),
                F.col("last_event_id").alias("p_eid"),
                F.col("last_value").alias("p_val"),
            )
            j = b.join(prev, "user_id", "left")
            batch_wins = F.col("p_ts").isNull() | (
                F.struct("last_ts", "last_event_id")
                >= F.struct(
                    F.col("p_ts").alias("last_ts"), F.col("p_eid").alias("last_event_id")
                )
            )
            b = j.select(
                "user_id",
                (F.coalesce("p_n", F.lit(0)) + F.col("n_updates")).alias("n_updates"),
                F.when(batch_wins, F.col("last_ts")).otherwise(F.col("p_ts")).alias("last_ts"),
                F.when(batch_wins, F.col("last_event_id"))
                .otherwise(F.col("p_eid"))
                .alias("last_event_id"),
                F.when(batch_wins, F.col("last_value"))
                .otherwise(F.col("p_val"))
                .alias("last_value"),
            )
            b = cur.join(b.select("user_id"), "user_id", "left_anti").unionByName(b)
        DW.write_delta(
            spark, b, table_path, mode="overwrite", txn=(app, batch_id)
        )

    return _merge


def streaming_cdc_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream through per-micro-batch keyed MERGE
    upserts into a Delta table, then read the converged table.

    Batch-order independence is the load-bearing design point: a
    user's events may straddle micro-batches in any order, so each
    merge resolves (current row, batch row) by MAX(last_ts,
    last_event_id) — an associative, commutative combine — and
    n_updates accumulates additively.  Replayed batch ids are dropped
    before merging (exactly-once on restart).  The batch oracle states
    the global last-write-wins truth; any micro-batch planning must
    converge to it.
    """
    import os

    from ..session import scratch_dir
    from ..sources import lakeformats as LF

    prep(spark)
    root = scratch_dir("cdc_merge")
    tbl = os.path.join(root, "table")
    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(cdc_merge_writer(tbl))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LF.read_delta_snapshot(spark, tbl).select(
        "user_id", "n_updates", "last_ts", "last_event_id", "last_value"
    ).orderBy("user_id")


STREAMING_CDC_MERGE_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_updates
  FROM events
)
SELECT user_id,
       CAST(n_updates AS BIGINT) AS n_updates,
       ts AS last_ts,
       event_id AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1
ORDER BY user_id
"""


# --------------------------------------------------------------- D18
# Mergeable sketches ON THE STREAM: B71 proves HLL union in batch;
# here the sketch aggregate runs inside the streaming engine itself —
# per-partition sketches merge across micro-batches, which is how a
# continuous distinct-users dashboard avoids unbounded exact state.


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user ESTIMATE maintained by hll_sketch_agg on
    the stream (complete mode), audited in the honesty pattern: the
    estimate is not oracle-portable, so the gated columns are the exact
    batch counts plus within-3·rsd flags computed against the streamed
    sketch (lgConfigK=12 ⇒ rsd ≈ 1.6%).

    State posture: per (type) sketch bytes — KB per key regardless of
    stream length — vs the exact formulation's per-user state (D12),
    which grows with cardinality.  That exchange is the whole point of
    sketches in streaming."""
    prep(spark)
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_users")
    )
    streamed = _run_to_memory(agg, "stream_hll_distinct", "complete")
    from ..sources.tables import load

    tol = 3 * 1.04 / (2**12) ** 0.5
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        streamed.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_users").cast("double") - F.col("exact_users"))
                <= F.col("exact_users") * tol
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


STREAMING_HLL_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_tol
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------- D19
# The Python Data Source connector in STREAMING mode, gated: B64
# proves batch determinism; this drains the partition-planned
# DataSourceStreamReader and must land on the identical rollup —
# connector determinism across the streaming execution path (offset
# lifecycle, stream planner, commit), not just one scan.  Under
# availableNow the plain MicroBatchStream API plans ONE batch of the
# whole backlog split into bounded partitions; incremental multi-batch
# progress is exercised by the plumbing tests with repeated triggers.

_PYSRC_N, _PYSRC_USERS = 5000, 200


def streaming_pysource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow drain of the synthetic-events streaming source
    (one full-backlog batch split into bounded executor-side-generated
    partitions) → per-type rollup.  Oracle = the same DuckDB replay of
    the generator arithmetic B64 uses — stream and batch paths must be
    byte-identical."""
    prep(spark)
    from ..sources import pysource

    pysource.register(spark)
    ev = (
        spark.readStream.format("synthetic_events")
        .option("n", _PYSRC_N)
        .option("n_users", _PYSRC_USERS)
        .option("rows_per_batch", 1250)
        .option("partitions", 8)
        .load()
    )
    # NOTE no count_distinct: distinct aggregates are unsupported on
    # streams (that limitation is D12/D18's whole subject)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("event_id").alias("max_event_id"),
    )
    return _run_to_memory(agg, "stream_pysource_rollup", "complete")


def _streaming_pysource_sql() -> str:
    from ..sources.pysource import sql_generator_cte

    return f"""
WITH gen AS ({sql_generator_cte(_PYSRC_N, _PYSRC_USERS)})
SELECT event_type,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value,
       min(ts_us) AS min_ts_us,
       max(event_id) AS max_event_id
FROM gen
GROUP BY event_type
ORDER BY event_type
"""


STREAMING_PYSOURCE_SQL = _streaming_pysource_sql()


# ---------------------------------------------------------------- D20
# Event-time TIMERS — the transformWithState capability a per-group
# state function fundamentally lacks: state that acts WITHOUT new input
# for its key.

_SESS_GAP_US = 1_800_000_000  # 30 min
_SESS_GAP_MS = 1_800_000


def session_timeout_sessions(ev: DataFrame) -> DataFrame:
    """Gap sessions closed by EVENT-TIME TIMERS: each user's open
    session registers a timer at last_event + 30 min; when the
    watermark passes it, ``handleExpiredTimer`` emits the closed
    session and clears state — no poll, no per-batch rescan, and a
    user who simply stops producing events still gets their session
    closed (what a per-group state function cannot express: it only
    runs on keys present in a batch).

    Determinism contract: in-batch gap splits emit sessions closed by
    a successor event; the per-user LAST session emits only when the
    ms-precision watermark (floor(max_ts_us/1000) − delay) reaches
    last + gap — exactly the horizon the oracle encodes.  Stale timers
    (superseded by a later event in the same batch chain) are deleted
    on arrival and double-checked against state at fire time.

    Cross-batch disorder: a straggler inside the open session's gap
    window merges exactly (extending session_start downward, as the
    globally-sorted oracle does); stragglers OLDER than start − gap
    sessionize among themselves and close immediately — they cannot
    re-open an already-timer-emitted session, the one approximation
    vs a global sort.  Exact for single-batch drains (the gate) and
    time-ordered batch sequences; `session_window` (D2/D16) is the
    native op when arbitrary cross-batch disorder must merge exactly.
    """
    prep(ev.sparkSession)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us, gap_ms = _SESS_GAP_US, _SESS_GAP_MS

    class _Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._st = handle.getValueState(
                "sess", "start_us LONG, last_us LONG, n LONG"
            )

        @staticmethod
        def _row(key, start, last, n):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start],
                    "session_end_us": [last],
                    "n_events": [n],
                }
            )

        def handleInputRows(self, key, rows, timer_values):
            evs: list[int] = []
            for pdf in rows:
                us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
                evs.extend(int(u) for u in us)
            evs.sort()
            if self._st.exists():
                start, last, n = self._st.get()
                self._h.deleteTimer(last // 1000 + gap_ms)
            else:
                start = last = None
                n = 0
            # cross-batch stragglers OLDER than the open session's gap
            # window (possible only across unordered micro-batches,
            # within the watermark) sessionize among themselves and
            # close immediately — they cannot re-open a session the
            # timer already emitted, and their last run is > gap away
            # from `start` by construction
            if start is not None:
                pre = [u for u in evs if u < start - gap_us]
                evs = [u for u in evs if u >= start - gap_us]
                ps = pl = pn = None
                for u in pre:
                    if ps is None:
                        ps, pl, pn = u, u, 1
                    elif u > pl + gap_us:
                        yield self._row(key, ps, pl, pn)
                        ps, pl, pn = u, u, 1
                    else:
                        pl, pn = u, pn + 1
                if ps is not None:
                    yield self._row(key, ps, pl, pn)
            for u in evs:
                if start is None:
                    start, last, n = u, u, 1
                elif u > last + gap_us:
                    yield self._row(key, start, last, n)  # closed by successor
                    start, last, n = u, u, 1
                else:
                    # within [start − gap, last + gap]: merge, extending
                    # the session DOWNWARD too — a straggler inside the
                    # gap window must move session_start, as the
                    # globally-sorted oracle does
                    start, last, n = min(start, u), max(last, u), n + 1
            self._st.update((start, last, n))
            self._h.registerTimer(last // 1000 + gap_ms)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: N803
            if self._st.exists():
                start, last, n = self._st.get()
                if expiredTimerInfo.getExpiryTimeInMs() == last // 1000 + gap_ms:
                    self._st.clear()
                    yield self._row(key, start, last, n)

        def close(self) -> None:
            pass

    # Arrow-boundary trim: the processor reads only `ts` — without it
    # the props JSON (the fattest column) would cross Arrow for nothing.
    # Projection AFTER withWatermark keeps the watermark (the event-
    # time column survives the select)
    return ev.select("user_id", "ts").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Sessions(),
        outputStructType=(
            "user_id long, session_start_us long, session_end_us long, n_events long"
        ),
        outputMode="Update",
        timeMode="EventTime",
    )


def streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20: timer-closed gap sessions (see session_timeout_sessions)."""
    prep(spark)
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return _run_to_memory(
        session_timeout_sessions(ev), "stream_session_timeout", "update"
    )


STREAMING_SESSION_TIMEOUT_SQL = f"""
WITH wm AS (
  SELECT (epoch_us(max(ts)) // 1000 - 3600000) AS wm_ms FROM events
),
seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
),
marked AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us > {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM seq
),
sess AS (
  SELECT user_id, ts_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid,
         min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
),
lastsid AS (SELECT user_id, max(sid) AS max_sid FROM agg GROUP BY user_id)
SELECT a.user_id, a.session_start_us, a.session_end_us, a.n_events
FROM agg a JOIN lastsid l USING (user_id), wm
WHERE a.sid < l.max_sid
   OR (a.session_end_us // 1000 + {_SESS_GAP_MS}) <= wm.wm_ms
ORDER BY a.user_id, a.session_start_us
"""


# ---------------------------------------------------------------- D21
# Initial state — the third transformWithState capability (after
# JVM-side ValueState and event-time timers): keyed streaming state
# BOOTSTRAPPED from a batch snapshot, the migration path every "start
# streaming against an existing table" deployment needs (a per-group
# state function starts empty, always).


def streaming_cdc_warmstart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC last-write-wins view WARM-STARTED from a batch snapshot:
    the even-event_id half of events is the pre-existing table (its
    per-user LWW state computed as a plain batch aggregate), the
    odd-event_id half streams in on top via transformWithState with
    ``initialState`` seeding each user's ValueState through
    ``handleInitialState``.

    The converged view must equal the FULL-data last-write-wins truth
    for every user with at least one live event (users only in the
    snapshot hold state but emit nothing — no input rows, no timers):
    a live event older than the snapshot state must NOT displace it,
    and n_updates must count snapshot + live rows — both wrong if the
    bootstrap failed, which is exactly what the oracle pins.

    Scale posture: the snapshot aggregate is one batch groupBy at key
    cardinality; the stream then carries only increments — no replay
    of the historical table through the streaming engine.
    """
    prep(spark)
    ev_all = _load_events_batch(spark, sf_dir)
    snap = (
        ev_all.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"), "event_id", "value"
                )
            ).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("user_id", "m.ts_us", "m.event_id", "m.value", "n")
    )
    live = events_stream(spark, sf_dir).filter(F.col("event_id") % 2 == 1)
    out = cdc_latest(live.withWatermark("ts", "1 hour"), snap)
    return _run_to_memory(out, "stream_cdc_warmstart", "update")


def _load_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load as _load

    return _load(spark, sf_dir, "events")


STREAMING_CDC_WARMSTART_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_updates
  FROM events
),
live_users AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 1)
SELECT r.user_id,
       CAST(r.n_updates AS BIGINT) AS n_updates,
       r.event_id AS last_event_id,
       r.value AS last_value
FROM ranked r JOIN live_users USING (user_id)
WHERE r.rn = 1
ORDER BY r.user_id
"""


# ---------------------------------------------------------------- D22
# State observability: the watermark/state-size evidence a 100×
# stream needs.  Spark publishes per-operator state
# metrics (rows held / updated / removed, bytes, RocksDB custom
# metrics) in every StreamingQueryProgress; this key runs the three
# core stateful operator SHAPES (window agg / session windows /
# watermark dedup) and surfaces those metrics as a gated table.


def run_with_progress(
    df: DataFrame, name: str, mode: str, options: dict | None = None
) -> tuple[DataFrame, list[dict]]:
    """_run_to_memory plus the query's progress history — the
    observability hook a production job would ship to its metrics sink
    via a StreamingQueryListener.  ``recentProgress`` is a ring buffer
    (spark.sql.streaming.numRecentProgressUpdates, default 100 — an
    sf10 drain at maxFilesPerTrigger=1 would silently drop its early
    batches and break the cumulative-update reconciliation), so the
    buffer is raised here to cover any bounded drain this repo runs;
    an unbounded production job must use the listener instead."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    w = df.writeStream.format("memory").queryName(name).outputMode(mode)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    progress = list(q.recentProgress)
    q.stop()
    return spark.table(name), progress


def state_metric_summary(job: str, progress: list[dict]) -> dict:
    """Collapse a progress history into one row per (job, operator):
    final-batch state rows, cumulative updates/removals, and the two
    booleans that pin the storage story (bytes accounted > 0; RocksDB
    custom metrics present, i.e. the provider prep() pins actually
    loaded).  Only deterministic quantities are emitted as numbers —
    byte sizes vary with storage format versions, so they gate as
    booleans."""
    ops: dict[str, dict] = {}
    for p in progress:
        for so in p.get("stateOperators") or []:
            name = so.get("operatorName") or "unknown"
            o = ops.setdefault(
                name,
                {"rows": 0, "upd": 0, "rem": 0, "bytes_pos": False, "rocks": False},
            )
            o["rows"] = int(so.get("numRowsTotal") or 0)  # last batch wins
            o["upd"] += int(so.get("numRowsUpdated") or 0)
            o["rem"] += int(so.get("numRowsRemoved") or 0)
            o["bytes_pos"] = o["bytes_pos"] or int(so.get("memoryUsedBytes") or 0) > 0
            custom = so.get("customMetrics") or {}
            o["rocks"] = o["rocks"] or any(k.startswith("rocksdb") for k in custom)
    return {
        f"{job}/{name}": (
            job,
            name,
            o["rows"],
            o["upd"],
            o["rem"],
            o["bytes_pos"],
            o["rocks"],
        )
        for name, o in ops.items()
    }


def streaming_state_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-operator state-store metrics for the three stateful shapes.

    The numeric columns are exactly predictable from the data — state
    rows for a windowed agg are its distinct (window, type) groups, for
    session windows its merged session count, for watermark dedup its
    distinct keys — so a DuckDB oracle recomputes them from the events
    table and the gate verifies the ENGINE'S OWN accounting of its
    state, not just query results.  rows_removed stays 0 in a bounded
    availableNow drain (the watermark only passes data already
    processed); the multi-batch eviction path is pinned by
    tests/test_streaming.py instead.

    Scale shape: metrics come from StreamingQueryProgress — driver-side
    metadata of O(operators) size, regardless of stream volume."""
    prep(spark)

    def _ev():
        return events_stream(spark, sf_dir).withWatermark("ts", "1 hour")

    win = _ev().groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    sess = _ev().groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    ded = _ev().dropDuplicates(["event_id"]).select("event_id")

    rows: dict[str, tuple] = {}
    for job, df, mode in (
        ("dedup", ded, "append"),
        ("gap_sessions", sess, "complete"),
        ("windowed_agg", win, "complete"),
    ):
        _, progress = run_with_progress(df, f"sm_{job}", mode)
        rows.update(state_metric_summary(job, progress))

    out = spark.createDataFrame(
        sorted(rows.values()),
        "job string, operator string, state_rows long, rows_updated long, "
        "rows_removed long, state_bytes_positive boolean, uses_rocksdb boolean",
    )
    return out.orderBy("job", "operator")


STREAMING_STATE_METRICS_SQL = f"""
WITH sessions AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= {_GAP_S}
                THEN 1 ELSE 0 END AS is_new
    FROM events
  )
),
n_sessions AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, sid FROM sessions)),
n_groups AS (
  SELECT count(*) AS n FROM (SELECT DISTINCT date_trunc('hour', ts), event_type FROM events)
),
n_keys AS (SELECT count(DISTINCT event_id) AS n FROM events)
SELECT * FROM (
  SELECT CAST('dedup' AS VARCHAR) AS job, CAST('dedupe' AS VARCHAR) AS operator,
         CAST(n AS BIGINT) AS state_rows, CAST(n AS BIGINT) AS rows_updated,
         CAST(0 AS BIGINT) AS rows_removed,
         TRUE AS state_bytes_positive, TRUE AS uses_rocksdb
  FROM n_keys
  UNION ALL
  SELECT 'gap_sessions', 'sessionWindowStateStoreSaveExec',
         CAST(n AS BIGINT), CAST(n AS BIGINT), CAST(0 AS BIGINT), TRUE, TRUE
  FROM n_sessions
  UNION ALL
  SELECT 'windowed_agg', 'stateStoreSave',
         CAST(n AS BIGINT), CAST(n AS BIGINT), CAST(0 AS BIGINT), TRUE, TRUE
  FROM n_groups
)
ORDER BY job, operator
"""


# ---------------------------------------------------------------- D23
# Streaming ingestion of the ARTIFACT LAKE (A27's source, incremental):
# a fleet keeps writing manifest.json files; the rollup should absorb
# new invocations as they land instead of re-scanning the lake.


def streaming_manifest_lake_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the 1,200-manifest lake (wholetext, one
    row per file, ``maxFilesPerTrigger=500`` → a forced 3-batch drain so
    the incremental path is actually exercised), parsed with the NARROW
    lake schema and rolled up per model in complete mode.  The converged
    table must equal the batch truth (stdlib oracle) under ANY batch
    planning — count/min/max are merge-associative, which is exactly
    why they stream; the batch key's distinct-checksum column is NOT
    here (chained distinct aggregation is unsupported in streaming —
    the honest cut, use A27 for code-churn questions).

    Scale shape: state is one row per model (key cardinality), files
    stream through once; at a real lake the file-source maxFilesPer
    Trigger bounds per-batch listing work."""
    prep(spark)
    from ..sources.artifacts import LAKE_MANIFEST_SCHEMA
    from ..sources.lake_fixture import ensure_lake

    root = str(ensure_lake())
    stream = (
        spark.readStream.option("wholetext", "true")
        .option("pathGlobFilter", "manifest.json")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "500")
        .text(root)
    )
    nodes = (
        stream.select(F.from_json("value", LAKE_MANIFEST_SCHEMA).alias("doc"))
        .select(
            F.to_timestamp(F.col("doc.metadata")["generated_at"]).alias("generated_at"),
            F.explode("doc.nodes").alias("map_uid", "node"),
        )
    )
    agg = nodes.groupBy(F.col("node.unique_id").alias("unique_id")).agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.min("generated_at").alias("first_seen_at"),
        F.max("generated_at").alias("last_seen_at"),
    )
    return _run_to_memory(agg, "stream_lake_rollup", "complete")


def _streaming_lake_rollup_sql() -> str:
    """Stdlib recount (lake_fixture.lake_rollup_rows), minus the
    distinct-checksum column streaming cannot chain."""
    from ..oracles import _values_sql
    from ..sources.lake_fixture import lake_rollup_rows

    cols = [
        ("unique_id", "VARCHAR"),
        ("n_runs", "BIGINT"),
        ("first_seen_at", "TIMESTAMP"),
        ("last_seen_at", "TIMESTAMP"),
    ]
    rows = [(r[0], r[1], r[4], r[5]) for r in lake_rollup_rows()]
    return _values_sql(cols, rows) + ' ORDER BY "unique_id"'


# ---------------------------------------------------------------- D24
# Streaming ingestion of a DELTA COMMIT LOG (the F-family bridge meets
# the D-family): a writer keeps appending _delta_log/<v>.json commits;
# a downstream consumer should absorb each commit's action summary as
# it lands — the change-data-capture entry point for a lake table —
# instead of re-replaying the log.


def streaming_delta_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the Delta fixture's ``_delta_log`` (one
    row per action LINE, ``maxFilesPerTrigger=1`` → a forced 3-batch
    drain so each commit arrives alone), the commit VERSION recovered
    from ``_metadata.file_path`` (the log's one filename-encoded fact),
    actions parsed with an explicit narrow schema, rolled up per
    version in complete mode: adds, removes, whether the commit carries
    metaData/protocol, and the distinct partitions its adds touch.
    Merge-associative aggregates only, so the converged table equals
    the batch truth under any batch planning.

    Scale shape: state is one row per commit version (metadata
    cardinality); a real table's log is O(commits), and
    maxFilesPerTrigger bounds per-batch listing — the same incremental
    posture as D23's manifest-lake ingestion, now over the EXTERNAL
    format every lakehouse writer emits."""
    prep(spark)
    from ..plans.lake import DELTA_DIR, ensure_lake_fixtures

    ensure_lake_fixtures()
    action_schema = (
        "add struct<path:string, partitionValues:map<string,string>>, "
        "remove struct<path:string>, "
        "metaData struct<id:string>, "
        "protocol struct<minReaderVersion:int>"
    )
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.json")
        .text(str(DELTA_DIR / "_delta_log"))
    )
    acts = (
        stream.filter(F.length(F.trim(F.col("value"))) > 0)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"(\d+)\.json$", 1
            ).cast("long").alias("version"),
            F.from_json("value", action_schema).alias("a"),
        )
    )
    agg = acts.groupBy("version").agg(
        F.count(F.col("a.add.path")).alias("n_adds"),
        F.count(F.col("a.remove.path")).alias("n_removes"),
        F.count(F.col("a.metaData.id")).alias("n_metadata"),
        F.count(F.col("a.protocol.minReaderVersion")).alias("n_protocol"),
        # streaming forbids DISTINCT aggregates; a collect_set IS
        # merge-associative and its size is the distinct count — state
        # bounded by the partition-value domain, fine at partition
        # cardinality (it would NOT be fine over an unbounded domain)
        F.size(
            F.collect_set(F.col("a.add.partitionValues")["year"])
        ).cast("long").alias("n_partitions_touched"),
    )
    return _run_to_memory(agg, "stream_delta_commits", "complete").orderBy(
        "version"
    )


def _streaming_delta_commits_sql() -> str:
    """Independent stdlib replay of the same log: count the action
    kinds per commit file directly from the JSON lines."""
    import json as _json

    from ..oracles import _values_sql
    from ..plans.lake import DELTA_DIR, ensure_lake_fixtures

    ensure_lake_fixtures()
    log = DELTA_DIR / "_delta_log"
    rows = []
    for p in sorted(log.glob("*.json")):
        v = int(p.stem)
        n_adds = n_removes = n_meta = n_proto = 0
        parts = set()
        for line in p.read_text().splitlines():
            if not line.strip():
                continue
            a = _json.loads(line)
            if "add" in a:
                n_adds += 1
                y = (a["add"].get("partitionValues") or {}).get("year")
                if y is not None:
                    parts.add(y)
            elif "remove" in a:
                n_removes += 1
            elif "metaData" in a:
                n_meta += 1
            elif "protocol" in a:
                n_proto += 1
        rows.append((v, n_adds, n_removes, n_meta, n_proto, len(parts)))
    cols = [
        ("version", "BIGINT"),
        ("n_adds", "BIGINT"),
        ("n_removes", "BIGINT"),
        ("n_metadata", "BIGINT"),
        ("n_protocol", "BIGINT"),
        ("n_partitions_touched", "BIGINT"),
    ]
    return _values_sql(cols, rows) + ' ORDER BY "version"'


# ---------------------------------------------------------------- D25



def _n_nonempty_parquet(src_dir: str) -> int:
    """Non-empty parquet files under ``src_dir`` — the number of
    micro-batches an availableNow drain with maxFilesPerTrigger=1 can
    commit (empty files produce an isEmpty batch the sinks skip).  The
    exactly-once evidence compares committed-epoch count against THIS,
    not a literal, so the key holds at any scale factor / file
    layout."""
    import pathlib

    import pyarrow.parquet as pq

    return sum(
        1
        for f in sorted(pathlib.Path(src_dir).glob("*.parquet"))
        if pq.ParquetFile(str(f)).metadata.num_rows > 0
    )

def streaming_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingestion into a NATIVE-written Delta
    table (the write-path twin of D24's commit-log reader): a 3-file
    events backlog drains through ``delta_sink`` (maxFilesPerTrigger=1
    → three deterministic micro-batches, each one ``write_delta``
    append with a ``txn`` marker keyed on the epoch id).  After the
    drain the FIRST and LAST epochs are deliberately REPLAYED with the
    full source (the at-least-once retry every foreachBatch sink must
    survive): the txn guard must no-op, so the commit count stays at
    three and no row duplicates.

    Scale shape: each micro-batch is one distributed parquet append +
    one O(#files) driver commit; state is the sink table itself.  The
    gated evidence is commit_surplus (committed epochs minus the
    non-empty source-file count — 0 despite the replays) beside the per-type rollup, which must equal the
    batch truth straight off the source."""
    import os

    prep(spark)
    from ..plans.lakewrite import _ensure
    from ..sources import deltawriter as DW
    from ..sources import lakeformats as LF
    from ..sources.tables import load

    app = "djrs-stream-sink"

    def build(root: str) -> None:
        src = os.path.join(root, "src")
        tbl = os.path.join(root, "table")
        # deterministic 3-file backlog (hash(event_id) assignment)
        load(spark, sf_dir, "events").repartition(3, "event_id").write.parquet(src)

        _sink = delta_sink(tbl, app)
        q = (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(_sink)
            .queryName("stream_delta_sink")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        last = DW.last_txn_version(tbl, app)
        if last is None:
            raise RuntimeError("streaming sink committed nothing")
        # the retry every at-least-once sink must survive: replay the
        # FIRST epoch (version 0 — the falsy value the guard must not
        # drop) and the final epoch, each with the FULL source — only
        # the txn version may decide, and it must refuse both
        _sink(spark.read.parquet(src), 0)
        _sink(spark.read.parquet(src), last)

    root = _ensure("stream_sink_events", sf_dir, build)
    tbl = str(root / "table")
    snap = LF.delta_snapshot(tbl)
    surplus = int(snap["version"]) + 1 - _n_nonempty_parquet(str(root / "src"))
    df = LF.read_delta_snapshot(spark, tbl)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            "*",
            F.lit(surplus).cast("int").alias("commit_surplus"),
        )
    )


def _streaming_delta_sink_sql() -> str:
    return """
SELECT
  event_type,
  count(*) AS n_rows,
  count(DISTINCT user_id) AS n_users,
  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
  CAST(0 AS INTEGER) AS commit_surplus
FROM events
GROUP BY event_type
"""


def streaming_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingestion into a NATIVE-written Iceberg
    table (D25's format-v2 twin): the same 3-file events backlog
    drains through ``foreachBatch``, each micro-batch appended by
    ``icebergwriter.write_iceberg`` with the epoch recorded in the
    SNAPSHOT SUMMARY (the spec's engine-metadata channel — the same
    recipe Flink uses with checkpoint ids; Iceberg has no Delta-style
    txn action, so the summary IS the idempotence ledger).  The sink
    skips any epoch at-or-below ``iceberg_last_epoch``; after the
    drain, epochs 0 and last are deliberately REPLAYED with the full
    source and must no-op — the snapshot count stays at the non-empty
    source-file count (commit_surplus 0), rows never
    duplicate.

    Scale shape mirrors D25: one distributed parquet append + one
    O(#files) driver metadata commit per micro-batch."""
    import os

    prep(spark)
    from ..plans.lakewrite import _ensure
    from ..sources import icebergwriter as IW
    from ..sources import lakeformats as LF
    from ..sources.tables import load

    key = "djrs-stream-epoch"

    def build(root: str) -> None:
        src = os.path.join(root, "src")
        tbl = os.path.join(root, "table")
        load(spark, sf_dir, "events").repartition(3, "event_id").write.parquet(src)

        def _sink(bdf: DataFrame, epoch_id: int) -> None:
            last = IW.iceberg_last_epoch(tbl, key)
            if last is not None and last >= epoch_id:
                return  # replayed epoch: the summary ledger refuses it
            if bdf.isEmpty():
                return
            IW.write_iceberg(
                spark,
                bdf,
                tbl,
                colocate=False,
                summary_extra={key: str(epoch_id)},
            )

        q = (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(_sink)
            .queryName("stream_iceberg_sink")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        last = IW.iceberg_last_epoch(tbl, key)
        if last is None:
            raise RuntimeError("streaming sink committed nothing")
        # the at-least-once retries every foreachBatch sink must
        # survive: replay the falsy FIRST epoch and the final epoch
        # with the FULL source — only the summary ledger may decide
        _sink(spark.read.parquet(src), 0)
        _sink(spark.read.parquet(src), last)

    root = _ensure("stream_sink_events_ice", sf_dir, build)
    tbl = str(root / "table")
    from pathlib import Path as _P

    latest = max(
        _P(tbl, "metadata").glob("v*.metadata.json"),
        key=lambda p: int(p.name.split(".")[0][1:]),
    )
    meta = LF.iceberg_metadata(str(latest))
    surplus = len(meta.get("snapshots", [])) - _n_nonempty_parquet(
        str(_P(root) / "src")
    )
    df = LF.read_iceberg_snapshot(spark, str(latest))
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            "*",
            F.lit(surplus).cast("int").alias("commit_surplus"),
        )
    )


def _streaming_iceberg_sink_sql() -> str:
    return """
SELECT
  event_type,
  count(*) AS n_rows,
  count(DISTINCT user_id) AS n_users,
  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
  CAST(0 AS INTEGER) AS commit_surplus
FROM events
GROUP BY event_type
"""


def streaming_cdf_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CDF consumption (D27 — the downstream loop D24's
    commit stream and F18's change feed exist to FEED): the commit log
    drains as a file stream (one commit per micro-batch), and each
    arriving version turns into its ROW-LEVEL change slice via
    ``read_delta_changes(v, v)`` inside foreachBatch — exactly how an
    incremental job tails a CDF table: track processed versions, fetch
    only the delta, stay idempotent under replays (the seen-set guard
    is exercised because availableNow retries re-deliver on failure).
    The ledger accumulates per-(commit, change_type) counts and
    decimal-exact sums at metadata cardinality (the change SCANS are
    distributed; only the rollup rows reach the driver); the oracle
    replays the whole feed in SQL, so a consumer that drops or
    double-processes a commit mismatches."""
    import os
    import tempfile

    prep(spark)
    from decimal import Decimal

    from ..plans.lakewrite import _ensure
    from ..sources import deltawriter as DW
    from ..sources import lakeformats as LF
    from ..sources.tables import load

    orders = load(spark, sf_dir, "orders")

    def build(root: str) -> None:
        tbl = os.path.join(root, "table")
        base = orders.filter(F.col("o_orderkey") % 5 <= 2)
        updates = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        )
        inserts = orders.filter(F.col("o_orderkey") % 5 == 3)
        DW.write_delta(
            spark,
            base,
            tbl,
            partition_by=["o_orderpriority"],
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        DW.merge_delta(
            spark, tbl, updates.unionByName(inserts), on=["o_orderkey"]
        )
        DW.delete_delta(spark, tbl, [("o_totalprice", "<", 5000.0)])

    root = _ensure("stream_cdf_ledger", sf_dir, build)
    tbl = str(root / "table")
    ledger: list[tuple] = []
    seen: set[int] = set()

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        vs = sorted(
            int(r["version"])
            for r in bdf.select("version").distinct().collect()
        )
        for v in vs:
            if v in seen:
                continue  # replayed commit: the consumer must no-op
            seen.add(v)
            ch = LF.read_delta_changes(spark, tbl, v, v)
            for r in (
                ch.groupBy("_change_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.col("o_totalprice").cast("decimal(18,4)")
                    ).alias("s"),
                )
                .collect()
            ):
                s = r["s"] if r["s"] is not None else Decimal(0)
                ledger.append(
                    (v, r["_change_type"], int(r["n"]), float(str(s)))
                )

    # the checkpoint is per-DRAIN scratch: this operator IS the drain,
    # so every invocation replays the full backlog deterministically
    ckpt = tempfile.mkdtemp(prefix="djrs_cdf_ledger_ckpt_")
    q = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.json")
        .text(os.path.join(tbl, "_delta_log"))
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"(\d+)\.json$", 1
            ).cast("long").alias("version")
        )
        .writeStream.foreachBatch(_sink)
        .queryName("stream_cdf_ledger")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.createDataFrame(
        sorted(ledger),
        "commit long, change_type string, n_rows long, sum_price double",
    )


def _streaming_cdf_ledger_sql() -> str:
    return """
WITH base AS (SELECT * FROM orders WHERE o_orderkey % 5 <= 2),
upd_pre AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
upd_post AS (
  SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice FROM upd_pre
),
ins AS (SELECT * FROM orders WHERE o_orderkey % 5 = 3),
merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM base
  UNION ALL SELECT o_orderkey, o_totalprice FROM ins
),
changes AS (
  SELECT 0 AS commit, 'insert' AS change_type, o_totalprice FROM base
  UNION ALL SELECT 1, 'update_preimage', o_totalprice FROM upd_pre
  UNION ALL SELECT 1, 'update_postimage', o_totalprice FROM upd_post
  UNION ALL SELECT 1, 'insert', o_totalprice FROM ins
  UNION ALL SELECT 2, 'delete', o_totalprice
    FROM merged WHERE o_totalprice < 5000.0
)
SELECT
  CAST(commit AS BIGINT) AS commit,
  change_type,
  count(*) AS n_rows,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS sum_price
FROM changes
GROUP BY commit, change_type
"""


# ---------------------------------------------------------------- D28


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded documents source — the shared layout-robust file
    source (see _table_stream / events_stream's docstring)."""
    return _table_stream(spark, sf_dir, "documents")


_QUALITY_GATE = 0.5


def streaming_corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus-ingest quality gate: documents arrive as
    an unbounded stream, each scores through the SAME deterministic
    quality heuristics the batch C9 key hash-proves (integer-derived
    features, fixed-order float combination — so the >= 0.5 gate
    classifies identically in both engines), and the job maintains a
    per-source admission rollup: docs seen, docs admitted, chars
    admitted, and the admitted-chars share.

    This is the front door of a training-data pipeline at 100 TB —
    filter AT INGEST, before anything lands in the lake, so the
    downstream dedup/tokenize stages only ever see admitted bytes.
    Complete-mode aggregation over a keyed rollup (bounded by #sources,
    not #docs); the per-doc scoring is stateless columnar work that
    scales with input partitions."""
    prep(spark)
    from ..operators import textops as X

    docs = _documents_stream(spark, sf_dir)
    feats = X.quality_features(F.col("text"))
    scored = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        X.quality_score(feats).alias("quality"),
    )
    agg = (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_seen"),
            F.sum(
                F.when(F.col("quality") >= _QUALITY_GATE, 1).otherwise(0)
            ).alias("docs_admitted"),
            F.sum(
                F.when(F.col("quality") >= _QUALITY_GATE, F.col("n_chars")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("chars_admitted"),
            F.sum("n_chars").alias("chars_seen"),
        )
        .withColumn(
            "admitted_share",
            F.col("chars_admitted").cast("double") / F.col("chars_seen"),
        )
    )
    return _run_to_memory(agg, "stream_quality_gate", "complete")


def _streaming_corpus_quality_gate_sql() -> str:
    # compose the C9 oracle as a subquery — ONE definition of the
    # quality formula (plans/llm._quality_sql), same as the other
    # consumers; a drifted copy here would silently break the "stream
    # gate classifies identically to batch C9" contract
    from ..plans.llm import _quality_sql

    return f"""
WITH scored AS (
  SELECT d.source, CAST(d.n_chars AS BIGINT) AS n_chars, q.quality
  FROM ({_quality_sql()}) q JOIN documents d USING (doc_id)
)
SELECT source,
       count(*) AS docs_seen,
       CAST(sum(CASE WHEN quality >= {_QUALITY_GATE} THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_admitted,
       CAST(sum(CASE WHEN quality >= {_QUALITY_GATE} THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_admitted,
       CAST(sum(n_chars) AS BIGINT) AS chars_seen,
       CAST(CAST(sum(CASE WHEN quality >= {_QUALITY_GATE} THEN n_chars ELSE 0 END) AS BIGINT) AS DOUBLE)
         / CAST(sum(n_chars) AS BIGINT) AS admitted_share
FROM scored
GROUP BY source
"""
