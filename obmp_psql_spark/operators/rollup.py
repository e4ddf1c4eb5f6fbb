"""Scheduled aggregation jobs (reference: database/2_aggregations.sql
functions, invoked by cron; SURVEY §2.4 A1-A8).

Each function is a pure batch DataFrame job over the log/state tables;
the caller merges the result into the stats table by its interval key
(ON CONFLICT DO UPDATE == replace-by-key, ``merge_replace``). Windows
use epoch-floor buckets exactly like the reference's
``to_timestamp(extract(epoch ...)::bigint / N * N)``.

Scale: each job is one groupBy shuffle over a time-pruned slice of
the log (partition pruning on the hour column at 100 TB); map-side
partial aggregation keeps shuffle volume at |keys|, not |rows|.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket(col, seconds: int):
    """Epoch-floor tumbling bucket (2_aggregations.sql:93; F5/F6)."""
    return F.timestamp_seconds(F.floor(F.unix_timestamp(col) / seconds) * seconds)


def floor_ts(t: dt.datetime, seconds: int) -> dt.datetime:
    epoch = int(t.replace(tzinfo=dt.timezone.utc).timestamp())
    return dt.datetime.utcfromtimestamp(epoch // seconds * seconds)


def window_pred(now: dt.datetime, window: dt.timedelta, seconds: int):
    """ts >= floor(now)-window AND ts < floor(now) — excludes the
    in-progress bucket (2_aggregations.sql:98-99)."""
    hi = floor_ts(now, seconds)
    lo = hi - window
    return (F.col("timestamp") >= F.lit(lo)) & (F.col("timestamp") < F.lit(hi))


def _window_slice(log: DataFrame, now: dt.datetime, window: dt.timedelta,
                  seconds: int) -> DataFrame:
    return log.filter(window_pred(now, window, seconds))


def chg_stats_bypeer(log: DataFrame, now: dt.datetime,
                     window: dt.timedelta) -> DataFrame:
    """A1 (2_aggregations.sql:91-102): 1-min buckets per peer."""
    return (
        _window_slice(log, now, window, 60)
        .groupBy(bucket(F.col("timestamp"), 60).alias("interval_time"),
                 "peer_hash_id")
        .agg(F.count(F.when(F.col("is_withdrawn"), 1)).alias("withdraws"),
             F.count(F.when(~F.col("is_withdrawn"), 1)).alias("updates"))
    )


def chg_stats_byasn(log: DataFrame, now: dt.datetime,
                    window: dt.timedelta) -> DataFrame:
    """A2 (2_aggregations.sql:105-116)."""
    return (
        _window_slice(log, now, window, 60)
        .groupBy(bucket(F.col("timestamp"), 60).alias("interval_time"),
                 "peer_hash_id", "origin_as")
        .agg(F.count(F.when(F.col("is_withdrawn"), 1)).alias("withdraws"),
             F.count(F.when(~F.col("is_withdrawn"), 1)).alias("updates"))
    )


def chg_stats_byprefix(log: DataFrame, now: dt.datetime,
                       window: dt.timedelta) -> DataFrame:
    """A3 (2_aggregations.sql:119-130): 2-min buckets per prefix."""
    return (
        _window_slice(log, now, window, 120)
        .groupBy(bucket(F.col("timestamp"), 120).alias("interval_time"),
                 "peer_hash_id", "prefix", "prefix_len")
        .agg(F.count(F.when(F.col("is_withdrawn"), 1)).alias("withdraws"),
             F.count(F.when(~F.col("is_withdrawn"), 1)).alias("updates"))
    )


def peer_rib_counts(ip_rib: DataFrame, now: dt.datetime) -> DataFrame:
    """A7 (2_aggregations.sql:421-436): 15-min snapshot of active
    rib rows per peer."""
    return (
        ip_rib.filter(~F.col("is_withdrawn"))
        .groupBy("peer_hash_id")
        .agg(F.sum(F.when(F.col("is_ipv4"), 1).otherwise(0)).alias("v4_prefixes"),
             F.sum(F.when(~F.col("is_ipv4"), 1).otherwise(0)).alias("v6_prefixes"))
        .withColumn("interval_time", F.lit(floor_ts(now, 900)))
    )


def peer_update_counts(stats_bypeer: DataFrame, now: dt.datetime,
                       window: dt.timedelta) -> DataFrame:
    """A8 (2_aggregations.sql:471-492): rate stats over A1 output."""
    hi = floor_ts(now, 60)
    lo = hi - window
    return (
        stats_bypeer
        .filter((F.col("interval_time") >= F.lit(lo))
                & (F.col("interval_time") < F.lit(hi)))
        .groupBy("peer_hash_id")
        .agg(F.avg("updates").alias("avg_updates"),
             F.min("updates").alias("min_updates"),
             F.max("updates").alias("max_updates"),
             F.avg("withdraws").alias("avg_withdraws"),
             F.min("withdraws").alias("min_withdraws"),
             F.max("withdraws").alias("max_withdraws"))
        .withColumn("interval_time", F.lit(hi))
    )


def origin_stats(global_rib: DataFrame, now: dt.datetime) -> DataFrame:
    """A6 (2_aggregations.sql:360-388): hourly per-origin counts with
    family() conditional sums."""
    v4 = F.col("prefix").contains(".")
    return (
        global_rib
        .groupBy(F.col("recv_origin_as").alias("asn"))
        .agg(
            F.sum(F.when(v4 & ~F.col("is_withdrawn"), 1).otherwise(0)).alias("v4_prefixes"),
            F.sum(F.when(~v4 & ~F.col("is_withdrawn"), 1).otherwise(0)).alias("v6_prefixes"),
            F.sum(F.when(v4 & F.col("is_withdrawn"), 1).otherwise(0)).alias("v4_withdrawn_prefixes"),
            F.sum(F.when(~v4 & F.col("is_withdrawn"), 1).otherwise(0)).alias("v6_withdrawn_prefixes"),
        )
        .withColumn("interval_time", F.lit(floor_ts(now, 3600)))
    )


def merge_replace(stats: DataFrame, fresh: DataFrame, keys: list[str]) -> DataFrame:
    """ON CONFLICT (keys) DO UPDATE SET <all non-keys> = excluded —
    i.e. replace rows for recomputed keys, keep the rest."""
    return stats.join(fresh.select(*keys), keys, "left_anti").unionByName(fresh)


def l3vpn_chg_stats(log: DataFrame, now: dt.datetime, window: dt.timedelta,
                    bucket_seconds: int, keys: list[str]) -> DataFrame:
    """A4 (10_l3vpn.sql:238-284 update_l3vpn_chg_stats): the
    parameterized time_bucket variants over l3vpn_rib_log — callers
    pick the key set (peer / rd / prefix) and bucket width."""
    return (
        _window_slice(log, now, window, bucket_seconds)
        .groupBy(bucket(F.col("timestamp"), bucket_seconds).alias("interval_time"),
                 *keys)
        .agg(F.count(F.when(F.col("is_withdrawn"), 1)).alias("withdraws"),
             F.count(F.when(~F.col("is_withdrawn"), 1)).alias("updates"))
    )
