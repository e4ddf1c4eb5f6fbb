"""End-to-end BMP engine parity queries for the driver gate.

BMP messages are synthesized deterministically from the events table,
split into two batches, and pushed through the REAL ingest path
(``apply_unicast_prefix`` twice: insert batch then merge batch). The
DuckDB oracle independently re-derives the reference's ON CONFLICT
CASE matrix (UnicastPrefixQuery.java:35-40) and the AFTER UPDATE
trigger log (9_triggers.sql:89-126) in pure SQL — a differential test
of the merge + CDC semantics, not just of a query shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import apply_unicast_prefix
from .registry import register
from .schemas import TABLE_SCHEMAS
from .session import empty_df, fan_out, load_tables, sized_session, tiny_df

# deterministic message synthesis from events (ts made unique by
# adding event_id µs — dedup-latest tiebreaks must not matter)
_MSG_SQL = """
m AS (
  SELECT 'p' || CAST(user_id % 10 AS VARCHAR) AS peer,
         'h' || CAST(user_id AS VARCHAR) || '-' || CAST(event_id % 5 AS VARCHAR) AS h,
         CASE WHEN value < 5 THEN NULL
              ELSE 'a' || CAST(event_id % 20 AS VARCHAR) END AS attr,
         value < 5 AS wd,
         ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
         event_id,
         CAST(65000 + user_id % 50 AS BIGINT) AS origin,
         '10.' || CAST(user_id % 200 AS VARCHAR) || '.0.0' AS prefix
  FROM ev
)
"""


def _messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parse-heavy pipeline (v6 bounds Arrow UDF + string surgery per
    # message): restore source parallelism over the single-row-group
    # fixture, like the Kafka source's N partitions would
    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    # string-SQL projection, one selectExpr call — identical
    # expressions to the previous Column chains, parsed JVM-side
    # (py4j construction cost, see ingest.split_merge_outputs)
    return ev.selectExpr(
        "CASE WHEN value < 5 THEN 'del' ELSE 'add' END AS action",
        "concat('h', CAST(user_id AS STRING), '-', "
        "CAST(event_id % 5 AS STRING)) AS hash",
        "concat('p', CAST(user_id % 10 AS STRING)) AS peer_hash",
        "CASE WHEN value < 5 THEN '' ELSE "
        "concat('a', CAST(event_id % 20 AS STRING)) END AS base_attr_hash",
        "true AS is_ipv4",
        "CAST(65000 + user_id % 50 AS LONG) AS origin_asn",
        "concat('10.', CAST(user_id % 200 AS STRING), '.0.0') AS prefix",
        "CAST(16 AS SHORT) AS prefix_len",
        "(value < 5) AS is_withdrawn",
        "CAST(0 AS LONG) AS path_id",
        "'' AS labels",
        "false AS is_pre_policy",
        "true AS is_adj_rib_in",
        "timestamp_micros(unix_micros(ts) + event_id) AS timestamp",
        "event_id",
    )


_PIPELINE_CACHE: dict = {}

# tools/dump_plans.py flips this to True so every gate pipeline returns
# its PRE-materialization DAG — no cache, no localCheckpoint — and the
# plan audit sees the merge stage's real exchanges/scans instead of the
# post-checkpoint read that reported "0 shuffles / 0 scans" (round-11
# verdict). Gates whose build COMMITS through the txn store still show
# the committed read-back; their merge plan is the rib-merge row.
PLAN_AUDIT = False


def _materialize_join(df: DataFrame) -> DataFrame:
    """The shared two-output materialization barrier for gate builds;
    identity under the plan audit so the dumped DAG stays whole."""
    return df if PLAN_AUDIT else df.localCheckpoint()


def _cached_pipeline(tag: str, spark: SparkSession, sf_dir: str, build):
    """Gate queries share expensive pipelines; materialize once per
    (tag, session, sf). ``build(spark)`` makes every frame from
    ``sized_session(spark, sf_dir)``, so no gate sets the shared
    session's conf; its frames belong to that clone. The .schema probe
    detects a dead session."""
    spark = sized_session(spark, sf_dir)
    if PLAN_AUDIT:
        return tuple(build(spark))
    key = (tag, id(spark), sf_dir)
    if key in _PIPELINE_CACHE:
        try:
            dfs = _PIPELINE_CACHE[key]
            dfs[0].schema
            return dfs
        except Exception:
            _PIPELINE_CACHE.pop(key, None)
    dfs = tuple(df.localCheckpoint() for df in build(spark))
    _PIPELINE_CACHE[key] = dfs
    return dfs


def _run_pipeline(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    def build(spark):
        msgs = _messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        empty = empty_df(spark, TABLE_SCHEMAS["ip_rib"])
        state1, _ = apply_unicast_prefix(empty, b1)
        # both outputs of the second merge are consumed; materialize
        # the join once so the state and log checkpoints don't each
        # re-run the whole two-merge DAG
        state2, log = apply_unicast_prefix(
            state1, b2, materialize_join=_materialize_join)
        return state2, log
    return _cached_pipeline("rib", spark, sf_dir, build)


_EV = "ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

_STATE_CTES = f"""{_EV},
{_MSG_SQL},
l1 AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) AS rn
    FROM m WHERE event_id % 2 = 0) WHERE rn = 1
),
l2 AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) AS rn
    FROM m WHERE event_id % 2 = 1) WHERE rn = 1
)"""

_STATE_SELECT = """
SELECT coalesce(l2.peer, l1.peer) AS peer_hash_id,
       coalesce(l2.h, l1.h) AS hash_id,
       CASE WHEN l2.h IS NULL THEN l1.attr
            WHEN l1.h IS NULL THEN l2.attr
            WHEN l2.wd THEN l1.attr ELSE l2.attr END AS base_attr_hash_id,
       CASE WHEN l2.h IS NULL THEN l1.origin
            WHEN l1.h IS NULL THEN l2.origin
            WHEN l2.wd THEN l1.origin ELSE l2.origin END AS origin_as,
       coalesce(l2.wd, l1.wd) AS is_withdrawn,
       coalesce(l2.mts, l1.mts) AS timestamp,
       CASE WHEN l1.h IS NOT NULL THEN l1.mts ELSE l2.mts END AS first_added_timestamp,
       coalesce(l2.prefix, l1.prefix) AS prefix
FROM l1 FULL OUTER JOIN l2 ON l1.peer = l2.peer AND l1.h = l2.h
"""

_MERGE_ORACLE = f"WITH {_STATE_CTES}\n{_STATE_SELECT}"


@register(
    "q_bmp_rib_merge",
    oracle=_MERGE_ORACLE,
    survey_ref="S2/P1/P7/W2/A9/T7 end-to-end (UnicastPrefixQuery.java:24-51)",
    doc="two-batch ip_rib merge through the real ingest path vs SQL-derived oracle",
)
def q_bmp_rib_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    state, _ = _run_pipeline(spark, sf_dir)
    return state.select("peer_hash_id", "hash_id", "base_attr_hash_id",
                        "origin_as", "is_withdrawn", "timestamp",
                        "first_added_timestamp", "prefix")


@register(
    "q_bmp_txn_store",
    oracle=_MERGE_ORACLE,
    survey_ref="S3/T5/T8 end-to-end (WriterRunnable.java:77-176 txn sink; state.py)",
    doc="two-batch merge driven through the transactional store "
        "(staged commits, txn batch actions, committed read-back) vs SQL oracle",
)
def q_bmp_txn_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as q_bmp_rib_merge, but the batches flow through
    the REAL sink: each micro-batch is one atomic store commit (log
    append + state replace + batch txn action), and the result is the
    committed snapshot read back from disk — gating the commit
    protocol itself, not just the DataFrame algebra. A duplicate
    delivery of batch 1 exercises the exactly-once txn guard."""
    (state,) = _run_txn_pipeline(spark, sf_dir)
    return state.select("peer_hash_id", "hash_id", "base_attr_hash_id",
                        "origin_as", "is_withdrawn", "timestamp",
                        "first_added_timestamp", "prefix")


# session (weak) -> {sf_dir: (store, version-after-batch-1)}; stashed
# by the txnstore build so q_store_time_diff can time-travel WITHOUT
# the judged ingest headline paying to materialize the v1 read.
# WeakKeyDictionary: the handle dies WITH the session — no unbounded
# growth across sessions, and a recycled id() can never pair a fresh
# session with a dead session's store
import weakref

_TXN_STORE_HANDLES: "weakref.WeakKeyDictionary" = \
    weakref.WeakKeyDictionary()


def _run_txn_pipeline(spark: SparkSession, sf_dir: str):
    """Shared two-batch ingest through the durable store; returns the
    final committed ip_rib. The store handle + the version committed
    after batch 1 are stashed for q_store_time_diff, which reads and
    checkpoints the old snapshot in its OWN cache entry — the timed
    cold build of the ingest headline only materializes the final
    state, exactly as before round 8."""
    def build(spark):
        import tempfile

        from .state import TxnStateStore
        from .streaming.pipeline import BmpStreamingIngest

        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="txnstore_"))
        ing = BmpStreamingIngest(spark, store)
        msgs = _messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        ing.unicast_prefix_batch(b1, 0)
        _TXN_STORE_HANDLES.setdefault(spark, {})[sf_dir] = \
            (store, store.snapshot().version)
        ing.unicast_prefix_batch(b2, 1)
        ing.unicast_prefix_batch(b1, 0)  # replayed batch: must be a no-op
        return (store.read("ip_rib"),)
    return _cached_pipeline("txnstore", spark, sf_dir, build)


def _run_txn_v1_read(spark: SparkSession, sf_dir: str):
    """Time-travel read of ip_rib as of the post-batch-1 commit,
    cached separately so only q_store_time_diff pays for it."""
    def build(spark):
        _run_txn_pipeline(spark, sf_dir)  # ensure store exists
        store, v1 = _TXN_STORE_HANDLES[spark][sf_dir]
        return (store.read_at("ip_rib", v1),)
    return _cached_pipeline("txndiff", spark, sf_dir, build)


@register(
    "q_bmp_txn_bucketed",
    oracle=_MERGE_ORACLE,
    survey_ref="S3 partial merge (Delta matched-file rewrite equivalent; state.py merge_buckets)",
    doc="two-batch merge through the hash-bucketed partial-merge sink "
        "(only touched buckets rewritten per batch) vs SQL oracle",
)
def q_bmp_txn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bmp_txn_store with ``rib_buckets``: state is hash-bucketed
    on the merge key and each batch commits ONLY the buckets its keys
    touch — the O(batch) merge path that survives a 100 TB state
    table. Verified against the identical oracle as the monolithic
    sink."""
    def build(spark):
        import tempfile

        from .state import TxnStateStore
        from .streaming.pipeline import BmpStreamingIngest

        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="txnbkt_"))
        ing = BmpStreamingIngest(spark, store, rib_buckets=32)
        msgs = _messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        ing.unicast_prefix_batch(b1, 0)
        ing.unicast_prefix_batch(b2, 1)
        return (store.read("ip_rib"),)
    (state,) = _cached_pipeline("txnbkt", spark, sf_dir, build)
    return state.select("peer_hash_id", "hash_id", "base_attr_hash_id",
                        "origin_as", "is_withdrawn", "timestamp",
                        "first_added_timestamp", "prefix")


@register(
    "q_store_time_diff",
    oracle=f"""
    WITH {_STATE_CTES},
    v1 AS (
      SELECT peer AS peer_hash_id, h AS hash_id,
             attr AS base_attr_hash_id, wd AS is_withdrawn,
             mts AS timestamp
      FROM l1
    ),
    v2 AS ({_STATE_SELECT})
    SELECT * FROM (
      SELECT coalesce(v2.peer_hash_id, v1.peer_hash_id) AS peer_hash_id,
             coalesce(v2.hash_id, v1.hash_id) AS hash_id,
             CASE WHEN v1.hash_id IS NULL THEN 'added'
                  WHEN v2.hash_id IS NULL THEN 'removed'
                  WHEN (v2.base_attr_hash_id IS DISTINCT FROM
                        v1.base_attr_hash_id)
                    OR (v2.is_withdrawn IS DISTINCT FROM v1.is_withdrawn)
                    OR (v2.timestamp IS DISTINCT FROM v1.timestamp)
                  THEN 'changed' ELSE 'unchanged' END AS change,
             v1.base_attr_hash_id AS old_base_attr_hash_id,
             v1.is_withdrawn AS old_is_withdrawn,
             v1.timestamp AS old_timestamp,
             v2.base_attr_hash_id AS new_base_attr_hash_id,
             v2.is_withdrawn AS new_is_withdrawn,
             v2.timestamp AS new_timestamp
      FROM v2 FULL OUTER JOIN v1
        ON v2.peer_hash_id = v1.peer_hash_id AND v2.hash_id = v1.hash_id
    ) WHERE change <> 'unchanged'
    """,
    survey_ref="lakehouse time travel as CDC: per-key diff between two "
               "retained store versions (Delta table_changes / Iceberg "
               "changelog equivalent over TxnStateStore.read_at) — the "
               "reference can only answer this where a trigger "
               "pre-declared a log table (9_triggers.sql); a commit-log "
               "store derives it between ANY two versions after the fact",
    doc="durable two-batch ingest; old side = read_at(ip_rib, version "
        "after batch 1), new side = final committed snapshot; "
        "snapshot_diff classifies added/changed/removed with old/new "
        "values, unchanged keys dropped (output is O(churn))",
)
def q_store_time_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The old side comes off the REAL commit log (read_at replays
    retained commits), so this gates version pinning + time-travel
    assembly, not just the diff algebra. The diff itself is one
    full-outer equi-join on the merge key — with bucketed layout both
    sides co-partition; output is bounded by churn between the
    versions."""
    from .operators.diff import snapshot_diff

    (state,) = _run_txn_pipeline(spark, sf_dir)
    (state_v1,) = _run_txn_v1_read(spark, sf_dir)
    return snapshot_diff(
        state_v1, state, keys=["peer_hash_id", "hash_id"],
        compare_cols=["base_attr_hash_id", "is_withdrawn", "timestamp"])


_LOG_ORACLE = f"""
WITH {_EV},
{_MSG_SQL},
l1 AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) AS rn
    FROM m WHERE event_id % 2 = 0) WHERE rn = 1
),
l2 AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) AS rn
    FROM m WHERE event_id % 2 = 1) WHERE rn = 1
)
SELECT l2.wd AS is_withdrawn,
       l2.prefix AS prefix,
       CASE WHEN l2.wd THEN l1.attr ELSE l2.attr END AS base_attr_hash_id,
       l2.peer AS peer_hash_id,
       CASE WHEN l2.wd THEN l1.origin ELSE l2.origin END AS origin_as,
       l2.mts AS timestamp
FROM l1 JOIN l2 ON l1.peer = l2.peer AND l1.h = l2.h
WHERE (l2.wd <> l1.wd) OR (NOT l2.wd AND l2.attr <> l1.attr)
"""


@register(
    "q_bmp_cdc_log",
    oracle=_LOG_ORACLE,
    survey_ref="G3 end-to-end (9_triggers.sql:89-126 t_ip_rib_update)",
    doc="trigger-CDC change log through the real ingest path vs SQL-derived oracle",
)
def q_bmp_cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, log = _run_pipeline(spark, sf_dir)
    return log.select("is_withdrawn", "prefix", "base_attr_hash_id",
                      "peer_hash_id", "origin_as", "timestamp")


# ---------------------------------------------------------------------------
# bmp_stat through the gate: append-only stat_reports sink
# (BmpStatQuery.java:28-53 plain insert, hypertable 1_base.sql:242-255)
# ---------------------------------------------------------------------------

_STAT_ORACLE = f"""
WITH {_EV}
SELECT 'p' || CAST(user_id % 10 AS VARCHAR) AS peer_hash_id,
       ts + to_microseconds(CAST(event_id AS BIGINT)) AS timestamp,
       CAST(floor(value * 10) AS BIGINT) AS prefixes_rejected,
       CAST(event_id % 7 AS BIGINT) AS known_dup_prefixes,
       CAST(event_id % 3 AS BIGINT) AS known_dup_withdraws,
       CAST(0 AS BIGINT) AS invalid_cluster_list,
       CAST(event_id % 2 AS BIGINT) AS invalid_as_path,
       CAST(0 AS BIGINT) AS invalid_originator,
       CAST(0 AS BIGINT) AS invalid_as_confed,
       CAST(1000 + user_id AS BIGINT) AS routes_adj_rib_in,
       CAST(user_id AS BIGINT) AS routes_loc_rib
FROM ev
"""


def _stat_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return ev.select(
        F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string"))
         .alias("peer_hash"),
        F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
         .alias("timestamp"),
        F.floor(F.col("value") * 10).cast("long").alias("rejected"),
        (F.col("event_id") % 7).cast("long").alias("known_dup_updates"),
        (F.col("event_id") % 3).cast("long").alias("known_dup_withdraws"),
        F.lit(0).cast("long").alias("invalid_cluster_list"),
        (F.col("event_id") % 2).cast("long").alias("invalid_as_path"),
        F.lit(0).cast("long").alias("invalid_originator"),
        F.lit(0).cast("long").alias("invalid_as_confed"),
        (1000 + F.col("user_id")).cast("long").alias("routes_adj_rib_in"),
        F.col("user_id").cast("long").alias("routes_loc_rib"),
        F.col("event_id"),
    )


@register(
    "q_bmp_stat_reports",
    oracle=_STAT_ORACLE,
    survey_ref="S-table stat_reports end-to-end (BmpStatQuery.java:28-53 "
               "append; 1_base.sql:242-255 hypertable)",
    doc="two-batch bmp_stat append through the txn store (+ replayed "
        "batch exactly-once guard) vs SQL oracle",
)
def q_bmp_stat_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only sink gate: both batches land once each even though
    batch 1 is delivered twice — double-counted rows would fail the
    row-count/value compare against the oracle's plain projection."""
    def build(spark):
        import tempfile

        from .state import TxnStateStore
        from .streaming.pipeline import BmpStreamingIngest

        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="statstore_"))
        ing = BmpStreamingIngest(spark, store)
        msgs = _stat_messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        ing.bmp_stat_batch(b1, 0)
        ing.bmp_stat_batch(b2, 1)
        ing.bmp_stat_batch(b1, 0)  # replay: must be a no-op
        return (store.read("stat_reports"),)
    (reports,) = _cached_pipeline("stat", spark, sf_dir, build)
    return reports


# ---------------------------------------------------------------------------
# A1 through the engine: rollup.chg_stats_bypeer over the pipeline's
# own CDC log, oracled by the reference SQL shape re-derived in DuckDB
# ---------------------------------------------------------------------------

_CHG_ORACLE = f"""
WITH log_rows AS ({_LOG_ORACLE})
SELECT make_timestamp(CAST(floor(epoch(timestamp)/60)*60 AS BIGINT)*1000000) AS interval_time,
       peer_hash_id,
       CAST(count(CASE WHEN is_withdrawn THEN 1 END) AS BIGINT) AS withdraws,
       CAST(count(CASE WHEN NOT is_withdrawn THEN 1 END) AS BIGINT) AS updates
FROM log_rows
WHERE timestamp >= TIMESTAMP '2020-01-01 00:00:00'
  AND timestamp < TIMESTAMP '2030-01-01 00:00:00'
GROUP BY 1, 2
"""

# all three chg-stats dimensions over the same CDC log: by-peer 1-min
# (A1), by-ASN 1-min (A2), by-prefix 2-min (A3), labeled + unioned so
# one engine-path gate covers the whole update_chg_stats family
_CHG3_ORACLE = f"""
WITH log_rows AS ({_LOG_ORACLE})
SELECT 'peer' AS dim,
       make_timestamp(CAST(floor(epoch(timestamp)/60)*60 AS BIGINT)*1000000) AS interval_time,
       peer_hash_id,
       CAST(NULL AS VARCHAR) AS key2,
       CAST(count(CASE WHEN is_withdrawn THEN 1 END) AS BIGINT) AS withdraws,
       CAST(count(CASE WHEN NOT is_withdrawn THEN 1 END) AS BIGINT) AS updates
FROM log_rows
WHERE timestamp >= TIMESTAMP '2020-01-01 00:00:00'
  AND timestamp < TIMESTAMP '2030-01-01 00:00:00'
GROUP BY 2, 3
UNION ALL
SELECT 'asn' AS dim,
       make_timestamp(CAST(floor(epoch(timestamp)/60)*60 AS BIGINT)*1000000) AS interval_time,
       peer_hash_id,
       CAST(origin_as AS VARCHAR) AS key2,
       CAST(count(CASE WHEN is_withdrawn THEN 1 END) AS BIGINT) AS withdraws,
       CAST(count(CASE WHEN NOT is_withdrawn THEN 1 END) AS BIGINT) AS updates
FROM log_rows
WHERE timestamp >= TIMESTAMP '2020-01-01 00:00:00'
  AND timestamp < TIMESTAMP '2030-01-01 00:00:00'
GROUP BY 2, 3, 4
UNION ALL
SELECT 'prefix' AS dim,
       make_timestamp(CAST(floor(epoch(timestamp)/120)*120 AS BIGINT)*1000000) AS interval_time,
       peer_hash_id,
       prefix || '/16' AS key2,
       CAST(count(CASE WHEN is_withdrawn THEN 1 END) AS BIGINT) AS withdraws,
       CAST(count(CASE WHEN NOT is_withdrawn THEN 1 END) AS BIGINT) AS updates
FROM log_rows
WHERE timestamp >= TIMESTAMP '2020-01-01 00:00:00'
  AND timestamp < TIMESTAMP '2030-01-01 00:00:00'
GROUP BY 2, 3, 4
"""


@register(
    "q_bmp_chg_stats",
    oracle=_CHG3_ORACLE,
    survey_ref="A1-A3/F5 end-to-end (2_aggregations.sql:91-130 "
               "update_chg_stats by peer, by ASN 1-min, by prefix "
               "2-min; epoch-floor buckets)",
    doc="all three engine chg-stats rollups over the pipeline's own "
        "CDC log, labeled + unioned, vs reference SQL oracle "
        "(consolidated round 9: subsumes the former q_chg_stats_1min/"
        "q_chg_stats_2min single-operator gates)",
)
def q_bmp_chg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gate for the whole update_chg_stats cron family. Each
    dimension is an independent map-side-combinable groupBy over the
    SAME time-pruned log slice; at 100 TB the three scans share the
    pruned partitions and each shuffles |keys|, not |rows|."""
    import datetime as dt

    from .operators.rollup import (chg_stats_byasn, chg_stats_byprefix,
                                   chg_stats_bypeer)

    _, log = _run_pipeline(spark, sf_dir)
    # fixed deterministic window covering all synthetic timestamps
    now, window = dt.datetime(2030, 1, 1), dt.timedelta(days=3653)
    bypeer = chg_stats_bypeer(log, now, window).select(
        F.lit("peer").alias("dim"), "interval_time", "peer_hash_id",
        F.lit(None).cast("string").alias("key2"), "withdraws", "updates")
    byasn = chg_stats_byasn(log, now, window).select(
        F.lit("asn").alias("dim"), "interval_time", "peer_hash_id",
        F.col("origin_as").cast("string").alias("key2"),
        "withdraws", "updates")
    byprefix = chg_stats_byprefix(log, now, window).select(
        F.lit("prefix").alias("dim"), "interval_time", "peer_hash_id",
        F.concat(F.col("prefix"), F.lit("/"),
                 F.col("prefix_len").cast("string")).alias("key2"),
        "withdraws", "updates")
    return bypeer.unionByName(byasn).unionByName(byprefix)


# ---------------------------------------------------------------------------
# A5 through the engine: update_global_ip_rib over the pipeline state
# ---------------------------------------------------------------------------

# Synthetic enrichment dims for the A5 gate, deterministic from the
# prefix family 10.m.0.0/16 (m = user_id % 200, see _MSG_SQL):
# - info_route covers m in [0, 120): origin 64000+m, source by parity
#   (so m >= 120 pins the NULL path of the UPDATE-join even at the
#   driver's sf0.01, where user_id%200 only spans [0, 150));
# - rpki_validator carries TWO overlapping ROA families so the
#   max-over-covering-ROAs determinism rule is exercised, not just a
#   1:1 join: /13s (j<16, origin 71000+j, covers m in [8j, 8j+7]) and
#   /12s (j<8, origin 72000+j, covers m in [16j, 16j+15]). m < 128 is
#   covered by both (max picks 72000+m//16); m >= 128 by neither.
_IRR_N, _ROA13_N, _ROA12_N = 120, 16, 8

_GLOBAL_ORACLE = f"""
WITH {_STATE_CTES},
state AS ({_STATE_SELECT}),
grib AS (
  SELECT prefix,
         CAST(16 AS SMALLINT) AS prefix_len,
         origin_as AS recv_origin_as,
         bool_and(is_withdrawn) AS is_withdrawn,
         max(timestamp) AS timestamp,
         min(first_added_timestamp) AS first_added_timestamp,
         CAST(count(DISTINCT peer_hash_id) AS BIGINT) AS num_peers,
         CAST(count(DISTINCT CASE WHEN NOT is_withdrawn THEN peer_hash_id END) AS BIGINT)
           AS advertising_peers,
         CAST(count(DISTINCT CASE WHEN is_withdrawn THEN peer_hash_id END) AS BIGINT)
           AS withdrawn_peers,
         CAST(string_split(prefix, '.')[2] AS BIGINT) AS m
  FROM state
  WHERE origin_as <> 23456
  GROUP BY prefix, origin_as
),
irr AS (
  SELECT '10.' || CAST(k AS VARCHAR) || '.0.0' AS iprefix,
         CAST(64000 + k AS BIGINT) AS irr_origin_as,
         CASE WHEN k % 2 = 0 THEN 'RADB' ELSE 'RIPE' END AS irr_source
  FROM UNNEST(generate_series(0, {_IRR_N - 1})) AS t(k)
),
roa AS (
  SELECT 8 * j AS lo_oct, 8 * j + 7 AS hi_oct,
         CAST(71000 + j AS BIGINT) AS roa_as
  FROM UNNEST(generate_series(0, {_ROA13_N - 1})) AS a(j)
  UNION ALL
  SELECT 16 * j, 16 * j + 15, CAST(72000 + j AS BIGINT)
  FROM UNNEST(generate_series(0, {_ROA12_N - 1})) AS b(j)
),
rpki AS (
  SELECT g.prefix, g.recv_origin_as, max(r.roa_as) AS rpki_origin_as
  FROM grib g JOIN roa r ON g.m BETWEEN r.lo_oct AND r.hi_oct
  GROUP BY 1, 2
)
SELECT g.prefix, g.prefix_len, g.recv_origin_as, g.is_withdrawn, g.timestamp,
       g.first_added_timestamp, g.num_peers, g.advertising_peers,
       g.withdrawn_peers,
       i.irr_origin_as, i.irr_source, p.rpki_origin_as
FROM grib g
LEFT JOIN irr i ON i.iprefix = g.prefix
LEFT JOIN rpki p ON p.prefix = g.prefix AND p.recv_origin_as = g.recv_origin_as
"""


@register(
    "q_bmp_global_rib",
    oracle=_GLOBAL_ORACLE,
    survey_ref="A5/A10/P2/J7/J8 end-to-end (2_aggregations.sql:181-275 "
               "update_global_ip_rib including the IRR UPDATE :242-247 "
               "and RPKI containment UPDATE :260-265)",
    doc="global RIB consolidation PLUS IRR equi-join + RPKI containment "
        "enrichment over the real pipeline state vs SQL oracle "
        "(extended r12: the irr_origin_as/irr_source/rpki_origin_as "
        "columns are hash-gated through the full update path)",
)
def q_bmp_global_rib(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from .operators.global_rib import update_global_ip_rib

    state, _ = _run_pipeline(spark, sf_dir)
    info_route = spark.range(_IRR_N).select(
        F.concat(F.lit("10."), F.col("id").cast("string"), F.lit(".0.0"))
         .alias("prefix"),
        (F.col("id") + 64000).cast("long").alias("origin_as"),
        F.when(F.col("id") % 2 == 0, F.lit("RADB")).otherwise(F.lit("RIPE"))
         .alias("source"),
        F.concat(F.lit("net-"), F.col("id").cast("string")).alias("descr"))

    def roa_family(n: int, span: int, base_as: int, plen: int) -> DataFrame:
        # v4 ROA rows in the loader's shape (sources/lookups.py:130):
        # bounds as (hi=0, lo=addr32) two-long pairs; 10.X.0.0 base
        base = F.lit(167772160) + F.col("id") * span * 65536
        return spark.range(n).select(
            F.concat(F.lit("10."), (F.col("id") * span).cast("string"),
                     F.lit(".0.0")).alias("prefix"),
            F.lit(0).cast("long").alias("start_hi"),
            base.cast("long").alias("start_lo"),
            F.lit(0).cast("long").alias("end_hi"),
            (base + span * 65536 - 1).cast("long").alias("end_lo"),
            F.lit(plen).cast("int").alias("prefix_len"),
            F.lit(16).cast("int").alias("prefix_len_max"),
            (F.col("id") + base_as).cast("long").alias("origin_as"))

    rpki = roa_family(_ROA13_N, 8, 71000, 13) \
        .unionByName(roa_family(_ROA12_N, 16, 72000, 12))
    out = update_global_ip_rib(
        empty_df(spark, TABLE_SCHEMAS["global_ip_rib"]), state,
        info_route=info_route, rpki=rpki,
        now=dt.datetime(2030, 1, 1),
        max_interval=dt.timedelta(days=36500))
    return out.select("prefix", "prefix_len", "recv_origin_as", "is_withdrawn",
                      "timestamp", "first_added_timestamp", "num_peers",
                      "advertising_peers", "withdrawn_peers",
                      "irr_origin_as", "irr_source", "rpki_origin_as")


# ---------------------------------------------------------------------------
# J1/P4 through the engine: v_ip_routes over real ingested state
# (peers/routers/attrs synthesized alongside the prefix messages)
# ---------------------------------------------------------------------------

def _dimension_state(spark: SparkSession):
    """Deterministic bgp_peers / routers / base_attrs built through
    the REAL apply functions (backfill, merge, parse paths)."""
    import datetime as dt

    from .ingest import apply_base_attribute, apply_peer, apply_router
    from .schemas import MESSAGE_SCHEMAS

    t0 = dt.datetime(2024, 1, 1)

    def as_msgs(mtype, rows):
        s = MESSAGE_SCHEMAS[mtype]
        return tiny_df(
            spark, [tuple(r.get(f.name) for f in s.fields) for r in rows], s)

    routers, peers = apply_router(
        empty_df(spark, TABLE_SCHEMAS["routers"]),
        empty_df(spark, TABLE_SCHEMAS["bgp_peers"]),
        as_msgs("router", [dict(
            action="init", hash="rt0", name="",  # empty -> host() fallback
            ip_address="198.51.100.1", description="", term_code=0,
            term_reason="", term_data="", init_data="",
            bgp_id="198.51.100.1", collector_hash="c0", timestamp=t0)]))
    peers, _, _ = apply_peer(
        peers, empty_df(spark, TABLE_SCHEMAS["ip_rib"]), routers,
        as_msgs("peer", [dict(
            action="up", hash=f"p{n}", router_hash="rt0", peer_rd="",
            is_ipv4=True, peer_ip=f"192.0.2.{n}", name=f"peer-{n}",
            peer_bgp_id=f"192.0.2.{n}", peer_asn=65000 + n, is_l3vpn=False,
            is_pre_policy=False, local_ip="10.0.0.1", local_bgp_id="10.0.0.1",
            local_port=179, local_holddown=90, local_asn=64999,
            peer_port=4000 + n, peer_holddown=90, advertised_cap="",
            received_cap="", bmp_down_reason=0, bgp_error_code=0,
            bgp_error_subcode=0, bgp_error_text="", is_loc_rib=False,
            is_loc_rib_filtered=False, table_name="", timestamp=t0)
            for n in range(10)]))
    attrs = apply_base_attribute(
        empty_df(spark, TABLE_SCHEMAS["base_attrs"]),
        as_msgs("base_attribute", [dict(
            hash=f"a{k}", peer_hash=f"p{n}", origin="igp",
            as_path=f"{65000 + n} {100 + k}", as_path_len=2,
            origin_asn=100 + k, next_hop="10.0.0.9", med=k, local_pref=100,
            is_atomic_agg=False, aggregator="", community_list="",
            ext_community_list="", large_community_list="", cluster_list="",
            originator_id="", nexthop_is_ipv4=True, timestamp=t0)
            for n in range(10) for k in range(20)]))
    return peers, routers, attrs


_VIEW_ORACLE = f"""
WITH {_STATE_CTES},
state AS ({_STATE_SELECT}),
peers AS (
  SELECT 'p' || CAST(n AS VARCHAR) AS hash_id, 'peer-' || CAST(n AS VARCHAR) AS name,
         '192.0.2.' || CAST(n AS VARCHAR) AS peer_addr,
         CAST(65000 + n AS BIGINT) AS peer_as
  FROM UNNEST(generate_series(0, 9)) AS g(n)
),
attrs AS (
  SELECT 'a' || CAST(k AS VARCHAR) AS hash_id, 'p' || CAST(n AS VARCHAR) AS peer_hash_id,
         CAST(65000 + n AS VARCHAR) || ' ' || CAST(100 + k AS VARCHAR) AS as_path_str,
         CAST(k AS BIGINT) AS med
  FROM UNNEST(generate_series(0, 9)) AS g(n), UNNEST(generate_series(0, 19)) AS h(k)
)
SELECT '198.51.100.1' AS router_name,  -- empty router name -> host(ip)
       p.name AS peer_name,
       r.prefix, r.origin_as,
       a.as_path_str, a.med,
       r.is_withdrawn,
       r.hash_id AS rib_hash_id
FROM state r
JOIN peers p ON r.peer_hash_id = p.hash_id
JOIN attrs a ON a.hash_id = r.base_attr_hash_id AND a.peer_hash_id = r.peer_hash_id
"""


@register(
    "q_bmp_view_routes",
    oracle=_VIEW_ORACLE,
    survey_ref="J1/P4/F2 end-to-end (8_views.sql:31-52 v_ip_routes)",
    doc="v_ip_routes over real ingested state (dims via real apply fns) vs SQL oracle",
)
def q_bmp_view_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.views import v_ip_routes

    state, _ = _run_pipeline(spark, sf_dir)
    peers, routers, attrs = _cached_pipeline(
        "dims", spark, sf_dir, _dimension_state)
    view = v_ip_routes(state, peers, attrs, routers)
    return view.select(
        "router_name", "peer_name", "prefix", "origin_as",
        F.array_join("as_path", " ").alias("as_path_str"),
        "med", "is_withdrawn", "rib_hash_id",
    )


# ---------------------------------------------------------------------------
# L3VPN family through the gate: rd/ext-community always-update merge
# (L3VpnPrefixQuery.java:36-42) + v_l3vpn_routes (10_l3vpn.sql:81-101)
# ---------------------------------------------------------------------------

def _l3vpn_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unicast-shaped messages plus rd (per-VRF, stable per user) and
    ext communities (vary per message, so the always-latest policy is
    observable)."""
    return _messages(spark, sf_dir).select(
        "*",
        F.concat(F.lit("65000:"), (F.col("event_id") % 5).cast("string"))
         .alias("rd"),
        F.concat(F.lit("rt:65001:"), (F.col("event_id") % 20).cast("string"))
         .alias("ext_community_list"),
    )


def _run_l3vpn_pipeline(spark: SparkSession, sf_dir: str):
    from .ingest_ls import apply_l3vpn

    def build(spark):
        msgs = _l3vpn_messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        state = empty_df(spark, TABLE_SCHEMAS["l3vpn_rib"])
        state, _ = apply_l3vpn(state, b1)
        # both outputs are consumed (view gate + chg-stats gate):
        # materialize the merge join once, same as the rib pipeline
        state, log = apply_l3vpn(
            state, b2, materialize_join=_materialize_join)
        return state, log
    return _cached_pipeline("l3vpn", spark, sf_dir, build)


_L3VPN_VIEW_ORACLE = f"""
WITH {_EV},
{_MSG_SQL},
mx AS (
  SELECT m.*,
         '65000:' || CAST(event_id % 5 AS VARCHAR) AS rd,
         'rt:65001:' || CAST(event_id % 20 AS VARCHAR) AS ext
  FROM m
),
l1 AS (SELECT * FROM (
  SELECT mx.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) rn
  FROM mx WHERE event_id % 2 = 0) WHERE rn = 1),
l2 AS (SELECT * FROM (
  SELECT mx.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) rn
  FROM mx WHERE event_id % 2 = 1) WHERE rn = 1),
state AS (
  SELECT coalesce(l2.peer, l1.peer) AS peer_hash_id,
         coalesce(l2.h, l1.h) AS hash_id,
         CASE WHEN l2.h IS NULL THEN l1.attr
              WHEN l1.h IS NULL THEN l2.attr
              WHEN l2.wd THEN l1.attr ELSE l2.attr END AS base_attr_hash_id,
         CASE WHEN l2.h IS NULL THEN l1.origin
              WHEN l1.h IS NULL THEN l2.origin
              WHEN l2.wd THEN l1.origin ELSE l2.origin END AS origin_as,
         coalesce(l2.wd, l1.wd) AS is_withdrawn,
         coalesce(l2.rd, l1.rd) AS rd,
         coalesce(l2.ext, l1.ext) AS ext_communities,
         coalesce(l2.prefix, l1.prefix) AS prefix
  FROM l1 FULL OUTER JOIN l2 ON l1.peer = l2.peer AND l1.h = l2.h
),
peers AS (
  SELECT 'p' || CAST(n AS VARCHAR) AS hash_id, 'peer-' || CAST(n AS VARCHAR) AS name,
         CAST(65000 + n AS BIGINT) AS peer_as
  FROM UNNEST(generate_series(0, 9)) AS g(n)
),
attrs AS (
  SELECT 'a' || CAST(k AS VARCHAR) AS hash_id, 'p' || CAST(n AS VARCHAR) AS peer_hash_id,
         CAST(65000 + n AS VARCHAR) || ' ' || CAST(100 + k AS VARCHAR) AS as_path_str,
         CAST(k AS BIGINT) AS med
  FROM UNNEST(generate_series(0, 9)) AS g(n), UNNEST(generate_series(0, 19)) AS h(k)
)
SELECT '198.51.100.1' AS router_name,
       p.name AS peer_name,
       r.rd, r.prefix, r.origin_as,
       a.med, a.as_path_str,
       r.ext_communities,
       r.is_withdrawn,
       r.hash_id AS rib_hash_id
FROM state r
JOIN peers p ON r.peer_hash_id = p.hash_id
JOIN attrs a ON a.hash_id = r.base_attr_hash_id AND a.peer_hash_id = r.peer_hash_id
"""


@register(
    "q_bmp_l3vpn_view",
    oracle=_L3VPN_VIEW_ORACLE,
    survey_ref="G5/J1 end-to-end (L3VpnPrefixQuery.java:36-42 merge; "
               "10_l3vpn.sql:81-101 v_l3vpn_routes)",
    doc="two-batch l3vpn merge (rd/ext always-update policy) through "
        "v_l3vpn_routes vs SQL oracle",
)
def q_bmp_l3vpn_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.views import v_l3vpn_routes

    state, _log = _run_l3vpn_pipeline(spark, sf_dir)
    peers, routers, attrs = _cached_pipeline(
        "dims", spark, sf_dir, _dimension_state)
    view = v_l3vpn_routes(state, peers, attrs, routers)
    return view.select(
        "router_name", "peer_name", "rd", "prefix", "origin_as", "med",
        F.array_join("as_path", " ").alias("as_path_str"),
        "ext_communities", "is_withdrawn", "rib_hash_id",
    )


# ---------------------------------------------------------------------------
# Peer pipeline through the gate: merge SET-list semantics + LocRib
# backfill + event log (PeerQuery.java:24-40; 9_triggers.sql:43-85)
# ---------------------------------------------------------------------------

def _peer_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One peer message per event: peer identity from user_id, state
    flips on value, LocRib peers (user_id % 7 == 0) carry 0.0.0.0."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    locrib = F.col("user_id") % 7 == 0
    return ev.select(
        F.when(F.col("value") < 5, "down").otherwise("up").alias("action"),
        F.concat(F.lit("p"), F.col("user_id").cast("string")).alias("hash"),
        F.lit("rt0").alias("router_hash"),
        F.lit("").alias("peer_rd"),
        F.lit(True).alias("is_ipv4"),
        F.when(locrib, "0.0.0.0")
         .otherwise(F.concat(F.lit("192.0.2."), (F.col("user_id") % 200).cast("string")))
         .alias("peer_ip"),
        F.when(locrib, "").otherwise(
            F.concat(F.lit("peer-"), F.col("user_id").cast("string"))).alias("name"),
        # varies per message (97 coprime to the %2 split): a
        # misclassified insert-only policy becomes observable
        F.when(locrib, "0.0.0.0")
         .otherwise(F.concat(F.lit("10."), (F.col("event_id") % 97).cast("string"),
                             F.lit(".0.1"))).alias("peer_bgp_id"),
        (65000 + F.col("user_id")).cast("long").alias("peer_asn"),
        F.lit(False).alias("is_l3vpn"), F.lit(False).alias("is_pre_policy"),
        F.lit("10.0.0.1").alias("local_ip"), F.lit("10.0.0.1").alias("local_bgp_id"),
        F.lit(179).cast("int").alias("local_port"),
        F.lit(90).cast("int").alias("local_holddown"),
        F.lit(64999).cast("long").alias("local_asn"),
        (4000 + F.col("event_id") % 1000).cast("int").alias("peer_port"),
        F.lit(90).cast("int").alias("peer_holddown"),
        F.lit("MP").alias("advertised_cap"), F.lit("MP").alias("received_cap"),
        (F.col("event_id") % 5).cast("int").alias("bmp_down_reason"),
        F.lit(0).cast("int").alias("bgp_error_code"),
        F.lit(0).cast("int").alias("bgp_error_subcode"),
        F.lit("").alias("bgp_error_text"),
        locrib.alias("is_loc_rib"), F.lit(False).alias("is_loc_rib_filtered"),
        F.lit("").alias("table_name"),
        F.timestamp_micros(F.unix_micros("ts") + F.col("event_id")).alias("timestamp"),
        F.col("event_id"),
    )


def _run_peer_pipeline(spark: SparkSession, sf_dir: str):
    from .ingest import apply_peer, apply_router
    from .schemas import MESSAGE_SCHEMAS

    def build(spark):
        import datetime as dt
        rschema = MESSAGE_SCHEMAS["router"]
        routers, _ = apply_router(
            empty_df(spark, TABLE_SCHEMAS["routers"]),
            empty_df(spark, TABLE_SCHEMAS["bgp_peers"]),
            tiny_df(
                spark, [("init", "rt0", "edge-rtr", "198.51.100.1", "", 0, "", "", "",
                  "198.51.100.1", "c0", dt.datetime(2024, 1, 1))], rschema))
        msgs = _peer_messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        empty_rib = empty_df(spark, TABLE_SCHEMAS["ip_rib"])
        peers = empty_df(spark, TABLE_SCHEMAS["bgp_peers"])
        peers, _, log1 = apply_peer(peers, empty_rib, routers, b1)
        peers, _, log2 = apply_peer(peers, empty_rib, routers, b2)
        return peers, log1.unionByName(log2)
    return _cached_pipeline("peer", spark, sf_dir, build)


_PEER_MSG_SQL = """
pm AS (
  SELECT CASE WHEN value < 5 THEN 'down' ELSE 'up' END AS state,
         'p' || CAST(user_id AS VARCHAR) AS h,
         user_id % 7 = 0 AS locrib,
         CASE WHEN user_id % 7 = 0 THEN ''
              ELSE 'peer-' || CAST(user_id AS VARCHAR) END AS msg_name,
         CASE WHEN user_id % 7 = 0 THEN '0.0.0.0'
              ELSE '192.0.2.' || CAST(user_id % 200 AS VARCHAR) END AS addr,
         CASE WHEN user_id % 7 = 0 THEN '0.0.0.0'
              ELSE '10.' || CAST(event_id % 97 AS VARCHAR) || '.0.1' END AS raw_bgp_id,
         CAST(4000 + event_id % 1000 AS INT) AS remote_port,
         CAST(event_id % 5 AS INT) AS bmp_reason,
         ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
         event_id
  FROM ev
)
"""

_PEER_STATE_ORACLE = f"""
WITH {_EV},
{_PEER_MSG_SQL},
b AS (  -- the backfill runs in prepare: LocRib peers take router identity
  SELECT state, h,
         CASE WHEN locrib THEN 'edge-rtr' ELSE msg_name END AS name,
         addr,
         CASE WHEN locrib THEN '198.51.100.1' ELSE raw_bgp_id END AS bgp_id,
         remote_port, bmp_reason, mts, event_id
  FROM pm
),
l1 AS (SELECT * FROM (
  SELECT b.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM b WHERE event_id % 2 = 0) WHERE rn = 1),
l2 AS (SELECT * FROM (
  SELECT b.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM b WHERE event_id % 2 = 1) WHERE rn = 1)
SELECT coalesce(l2.h, l1.h) AS hash_id,
       -- SET list columns take the latest batch value
       coalesce(l2.name, l1.name) AS name,
       coalesce(l2.state, l1.state) AS state,
       coalesce(l2.mts, l1.mts) AS timestamp,
       coalesce(l2.remote_port, l1.remote_port) AS remote_port,
       coalesce(l2.bmp_reason, l1.bmp_reason) AS bmp_reason,
       -- insert-only columns keep the FIRST batch's value
       CASE WHEN l1.h IS NOT NULL THEN l1.bgp_id ELSE l2.bgp_id END AS peer_bgp_id,
       CASE WHEN l1.h IS NOT NULL THEN l1.addr ELSE l2.addr END AS peer_addr
FROM l1 FULL OUTER JOIN l2 ON l1.h = l2.h
"""


@register(
    "q_bmp_peer_state",
    oracle=_PEER_STATE_ORACLE,
    survey_ref="P8/G2 end-to-end (PeerQuery.java:24-40; 9_triggers.sql:46-49 backfill)",
    doc="two-batch bgp_peers merge incl. LocRib backfill vs SQL oracle",
)
def q_bmp_peer_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    peers, _ = _run_peer_pipeline(spark, sf_dir)
    return peers.select("hash_id", "name", "state", "timestamp",
                        "remote_port", "bmp_reason", "peer_bgp_id", "peer_addr")


_PEER_LOG_ORACLE = f"""
WITH {_EV},
{_PEER_MSG_SQL},
b AS (
  SELECT state, h,
         CASE WHEN locrib THEN 'edge-rtr' ELSE msg_name END AS name,
         remote_port, bmp_reason, mts, event_id
  FROM pm
),
dedup AS (
  SELECT * FROM (
    SELECT b.*, row_number() OVER (PARTITION BY h, event_id % 2
                                   ORDER BY mts DESC) rn
    FROM b) WHERE rn = 1
)
SELECT h AS peer_hash_id, state,
       remote_port,
       CASE WHEN state = 'down' THEN bmp_reason END AS bmp_reason,
       mts AS timestamp
FROM dedup
"""


@register(
    "q_bmp_peer_events",
    oracle=_PEER_LOG_ORACLE,
    survey_ref="G2 end-to-end (9_triggers.sql:52-71 peer_event_log)",
    doc="peer event log (up/down field variants) vs SQL oracle",
)
def q_bmp_peer_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, log = _run_peer_pipeline(spark, sf_dir)
    return log.select("peer_hash_id", "state", "remote_port",
                      "bmp_reason", "timestamp")


# ---------------------------------------------------------------------------
# LS family through the gate: ls_node + ls_link policy merges joined
# via the v_ls_links double self-join (G4; 8_views.sql:126-143)
# ---------------------------------------------------------------------------

def _ls_messages(spark: SparkSession, sf_dir: str):
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    mts = F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
    wd = F.col("value") < 5
    node_of = lambda c: F.concat(F.lit("n"), (c % 50).cast("string"))  # noqa: E731
    nodes = ev.select(
        node_of(F.col("user_id")).alias("hash"),
        F.lit("p1").alias("peer_hash"),
        F.when(wd, F.lit("")).otherwise(
            F.concat(F.lit("a"), (F.col("event_id") % 20).cast("string"))
        ).alias("base_attr_hash"),
        F.col("event_id").alias("sequence"),
        F.lit(65001).cast("long").alias("peer_asn"),
        F.lit(0).cast("long").alias("ls_id"),
        F.concat(F.lit("0100.0a0b.0c"), (F.col("user_id") % 50).cast("string")).alias("igp_router_id"),
        F.lit("").alias("ospf_area_id"),
        F.lit("IS-IS_L2").alias("protocol"),
        F.concat(F.lit("10.0.0."), (F.col("user_id") % 50).cast("string")).alias("router_id"),
        F.lit("49.0001").alias("isis_area_id"),
        F.lit("").alias("flags"),
        # name varies per message: insert-only policy is observable
        # (constant-per-hash name made any policy pass the gate)
        F.concat(F.lit("node-"), (F.col("user_id") % 50).cast("string"),
                 F.lit("-"), (F.col("event_id") % 3).cast("string")).alias("name"),
        F.lit("0 2").alias("mt_ids"),
        F.lit("").alias("sr_capabilities"),
        wd.alias("is_withdrawn"),
        mts.alias("timestamp"),
        F.col("event_id"),
    )
    links = ev.select(
        # 499 is coprime to the %2 batch split, so every link hash
        # receives messages in BOTH batches and the cross-batch merge
        # branch actually executes (review finding: %500 shares the
        # factor 2 and never merged)
        F.concat(F.lit("l"), (F.col("event_id") % 499).cast("string")).alias("hash"),
        F.lit("p1").alias("peer_hash"),
        F.when(wd, F.lit("")).otherwise(
            F.concat(F.lit("a"), (F.col("event_id") % 20).cast("string"))
        ).alias("base_attr_hash"),
        F.col("event_id").alias("sequence"),
        F.lit(0).cast("int").alias("mt_id"),
        F.lit("10.1.0.1").alias("interface_ip"),
        F.lit("10.1.0.2").alias("neighbor_ip"),
        F.lit("IS-IS_L2").alias("protocol"),
        F.lit(1).cast("long").alias("local_link_id"),
        F.lit(2).cast("long").alias("remote_link_id"),
        node_of(F.col("user_id")).alias("local_node_hash"),
        node_of(F.col("user_id") + 1).alias("remote_node_hash"),
        F.lit(0).cast("long").alias("admin_group"),
        F.lit(10000).cast("long").alias("max_link_bw"),
        F.lit(8000).cast("long").alias("max_resv_bw"),
        F.lit("8000").alias("unreserved_bw"),
        F.lit(10).cast("long").alias("te_default_metric"),
        F.lit("").alias("link_protection"),
        F.lit("LDP").alias("mpls_proto_mask"),
        # 97 coprime to 499: the metric VARIES across a link hash's
        # messages, so keep-on-withdraw is distinguishable from always
        (F.col("event_id") % 97).cast("long").alias("igp_metric"),
        F.lit("").alias("srlg"),
        F.concat(F.lit("link-"), (F.col("event_id") % 499).cast("string")).alias("link_name"),
        F.lit("x").alias("igp_router_id"),
        F.lit("10.0.0.1").alias("router_id"),
        F.lit("y").alias("remote_igp_router_id"),
        F.lit("10.0.0.2").alias("remote_router_id"),
        F.lit(65001).cast("long").alias("local_node_asn"),
        F.lit(65001).cast("long").alias("remote_node_asn"),
        F.lit("").alias("epe_peer_node_sid"),
        F.lit("").alias("adjacency_segment_id"),
        wd.alias("is_withdrawn"),
        mts.alias("timestamp"),
        F.col("event_id"),
    )
    return nodes, links


def _run_ls_pipeline(spark: SparkSession, sf_dir: str):
    from .ingest_ls import apply_ls_link, apply_ls_node

    def build(spark):
        node_msgs, link_msgs = _ls_messages(spark, sf_dir)
        nodes = empty_df(spark, TABLE_SCHEMAS["ls_nodes"])
        lnks = empty_df(spark, TABLE_SCHEMAS["ls_links"])
        for parity in (0, 1):
            nb = node_msgs.filter(F.col("event_id") % 2 == parity).drop("event_id")
            lb = link_msgs.filter(F.col("event_id") % 2 == parity).drop("event_id")
            nodes, _ = apply_ls_node(nodes, nb)
            lnks, _ = apply_ls_link(lnks, lb)
        return nodes, lnks
    return _cached_pipeline("ls", spark, sf_dir, build)


# generic two-batch policy-merge CTE generator for the oracle: the
# merged value of a column under each policy class
def _merged(col: str, policy: str) -> str:
    if policy == "always":
        return f"coalesce(l2.{col}, l1.{col})"
    if policy == "kow":  # keep_on_withdraw
        return (f"CASE WHEN l2.h IS NULL THEN l1.{col} "
                f"WHEN l1.h IS NULL THEN l2.{col} "
                f"WHEN l2.wd THEN l1.{col} ELSE l2.{col} END")
    return f"CASE WHEN l1.h IS NOT NULL THEN l1.{col} ELSE l2.{col} END"  # insert-only


_LS_ORACLE = f"""
WITH {_EV},
nm AS (
  SELECT 'n' || CAST(user_id % 50 AS VARCHAR) AS h,
         value < 5 AS wd,
         'node-' || CAST(user_id % 50 AS VARCHAR) || '-' ||
           CAST(event_id % 3 AS VARCHAR) AS name,
         event_id AS seq,
         ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
         event_id
  FROM ev
),
nl1 AS (SELECT * FROM (
  SELECT nm.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM nm WHERE event_id % 2 = 0) WHERE rn = 1),
nl2 AS (SELECT * FROM (
  SELECT nm.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM nm WHERE event_id % 2 = 1) WHERE rn = 1),
node_state AS (
  SELECT coalesce(l2.h, l1.h) AS h,
         {_merged('name', 'insert')} AS name,
         CAST({_merged('seq', 'always')} AS BIGINT) AS seq
  FROM nl1 l1 FULL OUTER JOIN nl2 l2 ON l1.h = l2.h
),
lm AS (
  SELECT 'l' || CAST(event_id % 499 AS VARCHAR) AS h,
         value < 5 AS wd,
         CAST(event_id % 97 AS BIGINT) AS igp_metric,
         'n' || CAST(user_id % 50 AS VARCHAR) AS local_n,
         'n' || CAST((user_id + 1) % 50 AS VARCHAR) AS remote_n,
         ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
         event_id
  FROM ev
),
ll1 AS (SELECT * FROM (
  SELECT lm.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM lm WHERE event_id % 2 = 0) WHERE rn = 1),
ll2 AS (SELECT * FROM (
  SELECT lm.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM lm WHERE event_id % 2 = 1) WHERE rn = 1),
link_state AS (
  SELECT coalesce(l2.h, l1.h) AS h,
         {_merged('wd', 'always')} AS wd,
         {_merged('igp_metric', 'kow')} AS igp_metric,
         {_merged('local_n', 'insert')} AS local_n,
         {_merged('remote_n', 'insert')} AS remote_n
  FROM ll1 l1 FULL OUTER JOIN ll2 l2 ON l1.h = l2.h
)
SELECT ln.h AS hash_id,
       lo.name AS local_router_name,
       re.name AS remote_router_name,
       lo.seq AS local_node_seq,
       ln.igp_metric,
       CASE WHEN ln.wd THEN 'WITHDRAWN' ELSE 'ACTIVE' END AS state
FROM link_state ln
JOIN node_state lo ON ln.local_n = lo.h
JOIN node_state re ON ln.remote_n = re.h
"""


@register(
    "q_bmp_ls_links",
    oracle=_LS_ORACLE,
    survey_ref="G4/J3 end-to-end (LsNodeQuery/LsLinkQuery merges; 8_views.sql:126-143)",
    doc="ls_node+ls_link policy merges joined via v_ls_links vs SQL oracle",
)
def q_bmp_ls_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.views import v_ls_links

    nodes, lnks = _run_ls_pipeline(spark, sf_dir)
    view = v_ls_links(lnks, nodes)
    # the view (faithful to 8_views.sql) exposes the NODE's seq and no
    # link hash; the link name encodes the id ('link-K'), recover it
    return view.select(
        F.regexp_replace(F.col("name"), "^link-", "l").alias("hash_id"),
        "local_router_name", "remote_router_name",
        F.col("seq").cast("long").alias("local_node_seq"),
        "igp_metric", "state")


# ---------------------------------------------------------------------------
# G4 third table: ls_prefix merge through the gate
# ---------------------------------------------------------------------------

def _ls_prefix_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    wd = F.col("value") < 5
    mts = F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
    return ev.select(
        F.concat(F.lit("x"), (F.col("event_id") % 499).cast("string")).alias("hash"),
        F.lit("p1").alias("peer_hash"),
        F.when(wd, F.lit("")).otherwise(
            F.concat(F.lit("a"), (F.col("event_id") % 20).cast("string"))
        ).alias("base_attr_hash"),
        F.col("event_id").alias("sequence"),
        F.lit("n1").alias("local_node_hash"),
        F.lit(0).cast("int").alias("mt_id"),
        F.lit("IS-IS_L2").alias("protocol"),
        # prefix varies per message while the hash doesn't: the
        # insert-only policy is observable
        F.concat(F.lit("10."), (F.col("user_id") % 200).cast("string"),
                 F.lit(".0.0")).alias("prefix"),
        F.lit(24).cast("short").alias("prefix_len"),
        F.lit("").alias("ospf_route_type"),
        F.lit("").alias("igp_flags"),
        F.lit(0).cast("long").alias("route_tag"),
        F.lit(0).cast("long").alias("ext_route_tag"),
        # 97 coprime to 499: keep-on-withdraw distinguishable
        (F.col("event_id") % 97).cast("long").alias("igp_metric"),
        F.lit("").alias("ospf_fwd_address"),
        F.lit("").alias("prefix_sid_tlv"),
        wd.alias("is_withdrawn"),
        mts.alias("timestamp"),
        F.col("event_id"),
    )


_LS_PREFIX_ORACLE = f"""
WITH {_EV},
pmsg AS (
  SELECT 'x' || CAST(event_id % 499 AS VARCHAR) AS h,
         value < 5 AS wd,
         CASE WHEN value < 5 THEN NULL
              ELSE 'a' || CAST(event_id % 20 AS VARCHAR) END AS attr,
         event_id AS seq,
         CAST(event_id % 97 AS BIGINT) AS metric,
         '10.' || CAST(user_id % 200 AS VARCHAR) || '.0.0' AS prefix,
         ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
         event_id
  FROM ev
),
l1 AS (SELECT * FROM (
  SELECT pmsg.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM pmsg WHERE event_id % 2 = 0) WHERE rn = 1),
l2 AS (SELECT * FROM (
  SELECT pmsg.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM pmsg WHERE event_id % 2 = 1) WHERE rn = 1)
SELECT coalesce(l2.h, l1.h) AS hash_id,
       {_merged('prefix', 'insert')} AS prefix,
       CAST({_merged('seq', 'always')} AS BIGINT) AS seq,
       {_merged('metric', 'kow')} AS metric,
       {_merged('attr', 'kow')} AS base_attr_hash_id,
       CASE WHEN coalesce(l2.wd, l1.wd) THEN 'WITHDRAWN' ELSE 'ACTIVE' END AS state
FROM l1 FULL OUTER JOIN l2 ON l1.h = l2.h
"""


@register(
    "q_bmp_ls_prefix",
    oracle=_LS_PREFIX_ORACLE,
    survey_ref="G4 ls_prefix (LsPrefixQuery merge; 9_triggers.sql:158-176 log)",
    doc="two-batch ls_prefix policy merge (always/kow/insert-only) vs SQL oracle",
)
def q_bmp_ls_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ingest_ls import apply_ls_prefix

    def build(spark):
        msgs = _ls_prefix_messages(spark, sf_dir)
        b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
        b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
        state = empty_df(spark, TABLE_SCHEMAS["ls_prefixes"])
        state, _ = apply_ls_prefix(state, b1)
        state, _ = apply_ls_prefix(state, b2)
        return (state,)

    (state,) = _cached_pipeline("lsp", spark, sf_dir, build)
    return state.select(
        "hash_id", "prefix", F.col("seq").cast("long").alias("seq"),
        "metric", "base_attr_hash_id",
        F.when(F.col("is_withdrawn"), "WITHDRAWN").otherwise("ACTIVE").alias("state"))


# ---------------------------------------------------------------------------
# A4: parameterized l3vpn chg-stats buckets over the l3vpn CDC log
# ---------------------------------------------------------------------------

_L3VPN_CHG_ORACLE = f"""
WITH {_EV},
{_MSG_SQL},
mx AS (
  SELECT m.*, '65000:' || CAST(event_id % 5 AS VARCHAR) AS rd
  FROM m
),
l1 AS (SELECT * FROM (
  SELECT mx.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) rn
  FROM mx WHERE event_id % 2 = 0) WHERE rn = 1),
l2 AS (SELECT * FROM (
  SELECT mx.*, row_number() OVER (PARTITION BY peer, h ORDER BY mts DESC) rn
  FROM mx WHERE event_id % 2 = 1) WHERE rn = 1),
log AS (  -- AFTER UPDATE only: state flip OR advertise-with-new-attr;
          -- withdraw logs the OLD rd (10_l3vpn.sql:127-151)
  SELECT l2.wd AS is_withdrawn,
         CASE WHEN l2.wd THEN l1.rd ELSE l2.rd END AS rd,
         l2.mts AS mts
  FROM l1 JOIN l2 ON l1.peer = l2.peer AND l1.h = l2.h
  WHERE (l2.wd != l1.wd) OR (NOT l2.wd AND l2.attr != l1.attr)
)
SELECT make_timestamp(CAST(floor(epoch(mts) / 300) * 300 AS BIGINT) * 1000000)
         AS interval_time,
       rd,
       CAST(COUNT(CASE WHEN is_withdrawn THEN 1 END) AS BIGINT) AS withdraws,
       CAST(COUNT(CASE WHEN NOT is_withdrawn THEN 1 END) AS BIGINT) AS updates
FROM log GROUP BY 1, 2
"""


@register(
    "q_l3vpn_chg_stats",
    oracle=_L3VPN_CHG_ORACLE,
    survey_ref="A4/F6 (10_l3vpn.sql:238-284 update_l3vpn_chg_stats, byrd variant; parameterized time_bucket)",
    doc="parameterized 5-min time buckets over the l3vpn CDC log",
)
def q_l3vpn_chg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from .operators.rollup import l3vpn_chg_stats

    _state, log = _run_l3vpn_pipeline(spark, sf_dir)
    return l3vpn_chg_stats(
        log, now=dt.datetime(2024, 3, 1),
        window=dt.timedelta(days=90), bucket_seconds=300, keys=["rd"])


# ---------------------------------------------------------------------------
# A7: peer RIB-count snapshot over the merged rib state
# ---------------------------------------------------------------------------

_PEER_RIB_COUNTS_ORACLE = f"""
WITH {_STATE_CTES},
state AS ({_STATE_SELECT})
SELECT peer_hash_id,
       CAST(COUNT(*) AS BIGINT) AS v4_prefixes,
       CAST(0 AS BIGINT) AS v6_prefixes,
       TIMESTAMP '2024-06-01 12:30:00' AS interval_time
FROM state WHERE NOT is_withdrawn
GROUP BY 1
"""


@register(
    "q_peer_rib_counts",
    oracle=_PEER_RIB_COUNTS_ORACLE,
    survey_ref="A7 (2_aggregations.sql:421-436 update_peer_rib_counts)",
    doc="15-min active-prefix snapshot per peer over the merged rib",
)
def q_peer_rib_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from .operators.rollup import peer_rib_counts

    state, _ = _run_pipeline(spark, sf_dir)
    return peer_rib_counts(state, now=dt.datetime(2024, 6, 1, 12, 34))


# ---------------------------------------------------------------------------
# S4/G1: collector merge through the gate (CollectorQuery.java SET
# list: state/timestamp/routers/router_count update, admin_id insert-only)
# ---------------------------------------------------------------------------

_COLLECTOR_ORACLE = f"""
WITH {_EV},
cm AS (
  SELECT CASE WHEN value < 5 THEN 'stopped' ELSE 'heartbeat' END AS action,
         'c' || CAST(user_id % 40 AS VARCHAR) AS h,
         'admin-' || CAST(event_id % 7 AS VARCHAR) AS admin_id,
         'r' || CAST(event_id % 3 AS VARCHAR) AS router_list,
         CAST(event_id % 3 AS INT) AS router_count,
         ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
         event_id
  FROM ev
),
l1 AS (SELECT * FROM (
  SELECT cm.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM cm WHERE event_id % 2 = 0) WHERE rn = 1),
l2 AS (SELECT * FROM (
  SELECT cm.*, row_number() OVER (PARTITION BY h ORDER BY mts DESC) rn
  FROM cm WHERE event_id % 2 = 1) WHERE rn = 1)
SELECT coalesce(l2.h, l1.h) AS hash_id,
       CASE WHEN coalesce(l2.action, l1.action) = 'stopped'
            THEN 'down' ELSE 'up' END AS state,
       -- admin_id is insert-only: first batch's value survives
       CASE WHEN l1.h IS NOT NULL THEN l1.admin_id ELSE l2.admin_id END AS admin_id,
       coalesce(l2.router_list, l1.router_list) AS routers,
       coalesce(l2.router_count, l1.router_count) AS router_count,
       coalesce(l2.mts, l1.mts) AS timestamp
FROM l1 FULL OUTER JOIN l2 ON l1.h = l2.h
"""


@register(
    "q_bmp_collector",
    oracle=_COLLECTOR_ORACLE,
    survey_ref="S4/G1 (CollectorQuery.java:24-40 merge; 9_triggers.sql "
               "collector cascade covered by unit tests)",
    doc="two-batch collectors merge (SET-list vs insert-only policy) vs SQL oracle",
)
def q_bmp_collector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ingest import apply_collector

    def build(spark):
        ev = load_tables(spark, sf_dir, ("events",))["events"]
        msgs = ev.select(
            F.when(F.col("value") < 5, "stopped").otherwise("heartbeat")
             .alias("action"),
            F.concat(F.lit("c"), (F.col("user_id") % 40).cast("string")).alias("hash"),
            F.concat(F.lit("admin-"), (F.col("event_id") % 7).cast("string"))
             .alias("admin_id"),
            F.concat(F.lit("r"), (F.col("event_id") % 3).cast("string"))
             .alias("router_list"),
            (F.col("event_id") % 3).cast("int").alias("router_count"),
            F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
             .alias("timestamp"),
            F.col("event_id"),
        )
        collectors = empty_df(spark, TABLE_SCHEMAS["collectors"])
        routers = empty_df(spark, TABLE_SCHEMAS["routers"])
        for parity in (0, 1):
            b = msgs.filter(F.col("event_id") % 2 == parity).drop("event_id")
            collectors, routers = apply_collector(collectors, routers, b)
        return (collectors,)

    (collectors,) = _cached_pipeline("collector", spark, sf_dir, build)
    return collectors.select("hash_id", "state", "admin_id", "routers",
                             "router_count", "timestamp")


# -- show_table_info equivalent (reference database/5_functions.sql:13-35) --

def _store_stats_oracle(sf_dir: str) -> str:
    from .queries_text import _aux, _sf_tag
    aux = _aux("store_stats", _sf_tag(sf_dir))
    return f"""
WITH scan AS (
  SELECT regexp_extract(filename, '.*/files/([^/]+)/', 1) AS table_name,
         CAST(count(DISTINCT filename) AS BIGINT) AS files
  FROM read_parquet('{aux}/files/*/*.parquet',
                    union_by_name=true, filename=true)
  GROUP BY 1
),
expect AS (
  SELECT 'ev_state' AS table_name, 'flat' AS layout,
         (SELECT CAST(count(*) AS BIGINT) FROM events
           WHERE event_id % 4 = 0) AS rows,
         CAST(0 AS BIGINT) AS appends, CAST(0 AS BIGINT) AS chunks,
         CAST(0 AS BIGINT) AS n_buckets
  UNION ALL
  SELECT 'ev_log', 'flat',
         (SELECT CAST(count(*) AS BIGINT) FROM events
           WHERE event_id % 4 <> 0),
         CAST(3 AS BIGINT),
         (SELECT CAST(count(DISTINCT hour(CAST(ts AS TIMESTAMP))) AS BIGINT)
            FROM events WHERE event_id % 4 <> 0),
         CAST(0 AS BIGINT)
  UNION ALL
  SELECT 'ev_keyed', 'bucketed',
         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(8 AS BIGINT)
)
SELECT e.table_name, e.layout, s.files, e.rows, e.appends, e.chunks,
       e.n_buckets
FROM expect e JOIN scan s USING (table_name)
ORDER BY e.table_name
"""


@register(
    "q_store_stats",
    oracle=_store_stats_oracle,
    survey_ref="ops report: show_table_info (5_functions.sql:13-35) over TxnStateStore",
    doc="per-table store stats (footer rows/files, appends since replace, "
        "chunk + bucket counts) vs an independent DuckDB scan of the "
        "published live files + recomputation from the source table",
)
def q_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``show_table_info()`` ops report re-expressed
    for the parquet txn store: per-table live-file count, footer row
    total (no data scan — the pg_class row-estimate analogue), appends
    accumulated since the last replace (the compaction-cadence
    signal), recorded chunk values, and bucket layout.

    Differential check: the Spark side answers purely from commit-log
    metadata + parquet footers; the oracle independently (a) re-counts
    rows from the ORIGINAL events table (catching any store
    drop/duplication) and (b) re-counts files by scanning the
    atomically published copies of the live data files (catching any
    snapshot-resolution error in ``current_paths``)."""
    import os as _os
    import shutil as _shutil
    import tempfile

    from .queries_text import _aux, _sf_tag, publish_aux_dir
    from .session import normalize_ts
    from .state import TxnStateStore

    def build(spark):
        ev = normalize_ts(load_tables(spark, sf_dir, ("events",))["events"])
        ev = ev.select("event_id", "user_id",
                       F.hour("ts").cast("string").alias("hr"))
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="storestats_"))
        # flat table: one replace generation, deterministic 2 files
        store.overwrite("ev_state",
                        ev.filter(F.col("event_id") % 4 == 0).repartition(2))
        # chunked log: 3 appends with recorded hour-chunk metadata
        for k in (1, 2, 3):
            store.append("ev_log", ev.filter(F.col("event_id") % 4 == k),
                         partition_by="hr")
        # bucketed table: per-user aggregate, 8 hash buckets
        agg = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
        with store.transaction() as txn:
            txn.replace_bucketed("ev_keyed", agg,
                                 key_cols=["user_id"], n_buckets=8)

        # publish byte-identical copies of the live files so the
        # oracle can independently re-count them
        def populate(vdir: str) -> None:
            for info in store.table_info():
                tdir = _os.path.join(vdir, "files", info["table_name"])
                _os.makedirs(tdir)
                i = 0
                for root in store.current_paths(info["table_name"]):
                    for dirpath, _, fnames in sorted(_os.walk(root)):
                        for f in sorted(fnames):
                            if f.endswith(".parquet"):
                                _shutil.copy(
                                    _os.path.join(dirpath, f),
                                    _os.path.join(tdir,
                                                  f"f{i:04d}.parquet"))
                                i += 1

        publish_aux_dir(populate, _aux("store_stats", _sf_tag(sf_dir)))
        rows = [(i["table_name"], i["layout"], i["files"], i["rows"],
                 i["appends"], i["chunks"], i["n_buckets"])
                for i in store.table_info()]
        out = tiny_df(
            spark, rows, "table_name string, layout string, files long, "
                  "rows long, appends long, chunks long, n_buckets long")
        return (out,)

    (out,) = _cached_pipeline("storestats", spark, sf_dir, build)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# S5 read side EXECUTED: router-map refresh round-trip through an
# embedded live database (write upserts in, partitioned DBAPI read out)
# ---------------------------------------------------------------------------

@register(
    "q_jdbc_roundtrip",
    oracle="""
    WITH final_map AS (
      SELECT s_suppkey AS router_id,
             CASE WHEN s_suppkey % 3 = 0 THEN upper(s_name)
                  ELSE s_name END AS router_name,
             s_nationkey AS nation_key
      FROM supplier
    )
    SELECT m.router_id, m.router_name,
           CAST(count(c_custkey) AS BIGINT) AS n_customers
    FROM final_map m
    LEFT JOIN customer c ON c.c_nationkey = m.nation_key
    GROUP BY m.router_id, m.router_name
    """,
    survey_ref="S5 read side EXECUTED (ConsumerRunnable.java:596-629 "
               "router-map refresh): DBAPI predicate-range partitioned "
               "read mirroring write_rows_upsert, live against embedded "
               "DuckDB — the last previously never-executed surface",
    doc="two upsert batches (second updates every 3rd router, live ON "
        "CONFLICT) into an embedded DB, then read_rows_partitioned "
        "fans 4 range slices across Spark tasks (each dials its own "
        "read-only connection), broadcast-joins customers per nation; "
        "the oracle recomputes the post-upsert map straight from the "
        "parquet, so hash-equality proves write+read round-trip "
        "fidelity end to end",
)
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write side is one driver connection — the router map is a
    bounded dim and that is exactly how the reference refreshes it
    (single JDBC session); the READ side is the distributed part:
    every task opens its own read-only connection against the same
    file and scans one range slice, NULL keys owned by slice 0. At
    100 TB the same fan-out pattern reads any numeric-keyed dim/state
    table back out of Postgres without a driver jar."""
    def build(spark):
        import tempfile

        import duckdb

        from .sources.jdbc import read_rows_partitioned, write_rows_upsert

        db = tempfile.mkdtemp(prefix="jdbcrt_") + "/routers.db"
        con = duckdb.connect(db)
        con.execute("CREATE TABLE routers (router_id BIGINT PRIMARY KEY,"
                    " router_name TEXT, nation_key BIGINT)")
        con.close()
        sup = load_tables(spark, sf_dir, ("supplier",))["supplier"]
        base = sup.select(
            F.col("s_suppkey").cast("long").alias("router_id"),
            F.col("s_name").alias("router_name"),
            F.col("s_nationkey").cast("long").alias("nation_key"))
        upd = base.filter(F.col("router_id") % 3 == 0) \
            .withColumn("router_name", F.upper("router_name"))
        cols = ["router_id", "router_name", "nation_key"]
        for batch in (base, upd):  # batch 2 live-updates on conflict
            # one partition on the driver at a time, not the batch
            write_rows_upsert(batch.toLocalIterator(), cols, "routers",
                              ["router_id"],
                              lambda: duckdb.connect(db))
        got = read_rows_partitioned(
            spark, "routers",
            "router_id long, router_name string, nation_key long",
            lambda: duckdb.connect(db, read_only=True),
            partition_column="router_id", num_partitions=4)
        return (got,)

    (routers,) = _cached_pipeline("jdbcrt", spark, sf_dir, build)
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    return (
        F.broadcast(routers)
        .join(cust, cust["c_nationkey"] == routers["nation_key"], "left")
        .groupBy("router_id", "router_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )
