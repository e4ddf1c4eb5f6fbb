"""Structured Streaming demonstrations for the driver gate.

q_stream_window runs a REAL streaming query (file source ->
tumbling-window aggregation -> memory sink, availableNow trigger)
to completion and returns the materialized result; the oracle is the
equivalent batch SQL. This is T9 (tumbling windows) on the actual
streaming engine, not a batch stand-in.

Every gate runs on ``sized_session(spark, sf_dir)``: the partition
count fixes the state-store instances per stateful operator for the
life of a checkpoint, and 32 costs 4x-32x in per-batch commit overhead
at gate scale (the stream-stream join: ~9 s at 32, ~2.4 s at 8).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register
from .session import _read_parquet, normalize_ts, sized_session


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` as a file stream. The file source needs a
    directory, so a glob filter picks the file from the shared sf dir.
    The stream schema is the batch footer's, so ts-type drift (ns-long
    vs NTZ vs TIMESTAMP across driver testdata versions) can't mis-read
    values."""
    schema = _read_parquet(spark, f"{sf_dir}/events.parquet").schema
    return normalize_ts(spark.readStream.schema(schema)
                        .option("pathGlobFilter", "events.parquet")
                        .parquet(sf_dir))


def _drain(spark: SparkSession,
           *sinks: tuple[DataFrame, str]) -> list[DataFrame]:
    """Run each (streaming frame, output mode) to completion into its
    own memory sink, availableNow, and return the sinks as tables. All
    start before any is awaited, so independent queries run
    concurrently instead of each paying a full micro-batch floor."""
    names = [f"stream_{uuid.uuid4().hex[:8]}" for _ in sinks]
    queries = [df.writeStream.outputMode(mode).format("memory")
               .queryName(name).trigger(availableNow=True).start()
               for (df, mode), name in zip(sinks, names)]
    for q in queries:
        q.awaitTermination()
    return [spark.table(name) for name in names]


@register(
    "q_stream_window",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000)
             AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
    FROM ev GROUP BY 1, 2
    """,
    survey_ref="T9/A1 via Structured Streaming (2_aggregations.sql:91-130; S1 shape)",
    doc="real streaming query: file source -> 5-min tumbling windows -> memory sink",
)
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = sized_session(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(38,10)")), 4)
              .cast("double").alias("sum_value"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )
    return _drain(spark, (agg, "complete"))[0]


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    survey_ref="T2/W2 on the streaming engine (dropDuplicates state store; "
               "ConsumerRunnable.java:485-501 dedup cache analog)",
    doc="real streaming dedup: file source -> watermark + dropDuplicates "
        "state -> memory sink (availableNow)",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once key dedup through the HDFS-backed
    state store. Only key columns are emitted, so the result is
    deterministic regardless of which physical row wins the race
    inside a partition."""
    spark = sized_session(spark, sf_dir)
    ev = _events(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain(spark, (dedup, "append"))[0]


@register(
    "q_stream_window_append",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM ev),
    agg AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000)
               AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events
    FROM agg
    WHERE window_start + INTERVAL 5 MINUTE <= (SELECT w FROM wm)
    """,
    survey_ref="T7/T9: watermark finalization semantics on the streaming "
               "engine (append mode emits only windows below the watermark)",
    doc="append-mode tumbling windows + 10-min watermark: the oracle "
        "reproduces Spark's exact finalization cut (window_end <= "
        "max_event_time - delay); unfinalized tail windows stay in state",
)
def q_stream_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = sized_session(spark, sf_dir)
    ev = _events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"),
                "event_type", "n_events")
    )
    return _drain(spark, (agg, "append"))[0]


@register(
    "q_stream_stateful_counts",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT 'p' || CAST(user_id % 10 AS VARCHAR) AS peer_hash_id,
           CAST(COUNT(CASE WHEN NOT (value < 5) THEN 1 END) AS BIGINT) AS updates,
           CAST(COUNT(CASE WHEN value < 5 THEN 1 END) AS BIGINT) AS withdraws,
           max(ts) AS last_ts
    FROM ev GROUP BY 1
    """,
    survey_ref="§2.10 custom stateful op (applyInPandasWithState; the "
               "reference's JVM per-entity state maps, "
               "ConsumerRunnable.java:596-629)",
    doc="REAL applyInPandasWithState keyed counters on the streaming "
        "engine; final cumulative state vs batch SQL oracle",
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import peer_activity_counter

    spark = sized_session(spark, sf_dir)
    ev = _events(spark, sf_dir)
    msgs = ev.select(
        F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string"))
         .alias("peer_hash"),
        (F.col("value") < 5).alias("is_withdrawn"),
        F.col("ts").alias("timestamp"),
    )
    (out,) = _drain(spark, (peer_activity_counter(msgs), "update"))
    # update mode appends one row per key per micro-batch; the
    # counters are monotone, so the final cumulative state is the max
    return (
        out.groupBy("peer_hash_id")
        .agg(F.max("updates").alias("updates"),
             F.max("withdraws").alias("withdraws"),
             F.max("last_ts").alias("last_ts"))
    )


@register(
    "q_stream_static_join",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM ev e
    JOIN customer c ON c.c_custkey = e.user_id % 1500 + 1
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    survey_ref="S1-shape enrichment: stream-static dimension join + "
               "aggregation (the streaming form of J1's dim joins)",
    doc="streaming events joined to static customer+nation dims, "
        "aggregated per nation in complete mode",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = sized_session(spark, sf_dir)
    ev = _events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dims = (cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
            .select("c_custkey", "n_name"))
    joined = ev.join(
        dims, ev["user_id"] % 1500 + 1 == dims["c_custkey"], "inner")
    agg = (joined.groupBy(F.col("n_name").alias("nation"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    # exact count-distinct is unsupported inside a streaming agg:
    # two-level form — streaming dedup of (ck, user) pairs, then count.
    # The two streaming queries are independent (separate memory sinks,
    # separate checkpoints), so ``_drain`` runs them concurrently and
    # the second hides inside the first's micro-batch latency.
    users = (ev.select((F.col("user_id") % 1500 + 1).alias("ck"), "user_id")
             .dropDuplicates(["ck", "user_id"]))
    n_users = (users.join(dims, users["ck"] == dims["c_custkey"])
               .groupBy(F.col("n_name").alias("nation"))
               .agg(F.count(F.lit(1)).alias("n_users")))
    events, users_out = _drain(spark, (agg, "complete"),
                               (n_users, "complete"))
    return events.select("nation", "n_events").join(users_out, "nation")


@register(
    "q_stream_stream_join",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM ev WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
          FROM ev WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
    FROM c JOIN p ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
    """,
    survey_ref="T9 extension: stream-stream interval join with event-time "
               "bounds + symmetric state (the streaming form of J4's "
               "history correlation; Spark-native, no reference analog "
               "because the reference cannot join two live topics)",
    doc="REAL stream-stream inner join (clicks x purchases per user "
        "within 10 min) on the streaming engine, append mode, both "
        "sides watermarked; vs the batch interval-join oracle",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two live streams joined on (key, time-range). Scale design:
    the event-time bound + watermarks let the symmetric-hash-join
    state store evict rows older than (watermark - 10 min) on both
    sides, so state is O(window x rate), not O(stream). An inner
    join emits each match exactly once regardless of watermark lag,
    which is why the availableNow run equals the batch oracle."""
    spark = sized_session(spark, sf_dir)
    clicks = (_events(spark, sf_dir).filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "1 hour"))
    purchases = (_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "1 hour"))
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return _drain(spark, (joined, "append"))[0]


@register(
    "q_stream_session_window",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM ev),
    flags AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
    """,
    survey_ref="T9: session windows on the streaming engine (the "
               "streaming twin of q_sessionize's batch gaps-and-islands; "
               "state merges adjacent sessions as events arrive)",
    doc="REAL streaming session_window (30-min gap) in append mode; the "
        "oracle reproduces the exact finalization cut (session_end = "
        "last_ts + gap <= max_ts - watermark delay); unfinalized tail "
        "sessions stay in state",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session state: unlike tumbling windows, session
    ranges GROW and MERGE as events arrive, so the state store keys
    are (user, open-session) and the engine merges overlapping
    candidates per batch — semantics no batch window can emulate
    incrementally without rescanning the key's history."""
    spark = sized_session(spark, sf_dir)
    ev = _events(spark, sf_dir)
    agg = (ev.withWatermark("ts", "10 minutes")
           .groupBy(F.session_window("ts", "30 minutes"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"))
           .select(F.col("session_window.start").alias("session_start"),
                   F.col("session_window.end").alias("session_end"),
                   "user_id", "n_events"))
    return _drain(spark, (agg, "append"))[0]


@register(
    "q_stream_stream_left_join",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM ev WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
          FROM ev WHERE event_type = 'purchase'),
    -- the engine's global watermark is the MIN over both input
    -- streams' per-stream watermarks (each max event time - delay)
    wm AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(purchase_ts) FROM p))
                  - INTERVAL 10 MINUTE AS w),
    m AS (
      SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
    )
    SELECT * FROM m
    UNION ALL
    SELECT c.click_id, NULL, c.user_id, c.click_ts, NULL
    FROM c
    WHERE c.click_id NOT IN (SELECT click_id FROM m)
      AND c.click_ts + INTERVAL 10 MINUTE <= (SELECT w FROM wm)
    """,
    survey_ref="T7/T9 extension: LEFT OUTER stream-stream join — "
               "null-extension is a watermark-gated side effect of state "
               "eviction, the hardest streaming-join semantics to get right",
    doc="left-outer clicks x purchases within 10 min on the streaming "
        "engine; the oracle reproduces the exact null-emission cut "
        "(unmatched left rows emit null-extended only once their join "
        "window is fully below the watermark; later rows stay in state)",
)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike the inner join (match-driven emission), the left join
    must PROVE a left row can never match before emitting it
    null-extended — that proof is the watermark passing the row's
    join-window end, so the engine emits it on state eviction. The
    oracle's finalization cut (click_ts + 10 min <= max_ts - delay)
    is exactly that eviction condition."""
    spark = sized_session(spark, sf_dir)
    clicks = (_events(spark, sf_dir).filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "10 minutes"))
    purchases = (_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "10 minutes"))
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return _drain(spark, (joined, "append"))[0]


@register(
    "q_stream_stream_full_join",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM ev WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user_id, ts AS purchase_ts
          FROM ev WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(purchase_ts) FROM p))
                  - INTERVAL 10 MINUTE AS w),
    m AS (
      SELECT c.click_id, p.purchase_id, c.user_id AS any_user_id,
             c.click_ts, p.purchase_ts
      FROM c JOIN p ON c.user_id = p.p_user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
    )
    SELECT * FROM m
    UNION ALL
    SELECT c.click_id, NULL, c.user_id, c.click_ts, NULL
    FROM c
    WHERE c.click_id NOT IN (SELECT click_id FROM m)
      AND c.click_ts + INTERVAL 10 MINUTE <= (SELECT w FROM wm)
    UNION ALL
    SELECT NULL, p.purchase_id, p.p_user_id, NULL, p.purchase_ts
    FROM p
    WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
      AND p.purchase_ts <= (SELECT w FROM wm)
    """,
    survey_ref="T7/T9 extension: FULL OUTER stream-stream join — "
               "both sides null-extend on their own state-eviction cuts",
    doc="full-outer clicks x purchases within 10 min; the oracle "
        "reproduces BOTH null-emission cuts: unmatched clicks once "
        "click_ts + 10 min clears the watermark, unmatched purchases "
        "once purchase_ts itself does (their candidate window is "
        "[purchase_ts - 10 min, purchase_ts], so eviction is earlier)",
)
def q_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = sized_session(spark, sf_dir)
    clicks = (_events(spark, sf_dir).filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "10 minutes"))
    purchases = (_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "10 minutes"))
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select("click_id", "purchase_id",
             F.coalesce("user_id", "p_user_id").alias("any_user_id"),
             "click_ts", "purchase_ts")
    return _drain(spark, (joined, "append"))[0]
