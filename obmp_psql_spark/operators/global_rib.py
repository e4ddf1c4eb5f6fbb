"""Global RIB consolidation + enrichment (reference:
update_global_ip_rib 2_aggregations.sql:181-275, sync variant
:280-353, purge :166-175; SURVEY A5/J7/J8/P10).

Scale: the consolidation is a groupBy(prefix, origin_as, peer) then
groupBy(prefix, origin_as) over the incremental slice of ip_rib
(timestamp-pruned), with exact distinct-peer counts and no Expand
(``q_approx_distinct_gate`` measures HyperLogLog++ counts for extreme
peer cardinality against the exact ones, SURVEY §7).
IRR is an equi-join (broadcast — info_route is small); RPKI is the
bucketed containment join from operators.lpm with the ROA table
broadcast.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lpm import containment_join128
from .rollup import floor_ts


def consolidate(ip_rib: DataFrame,
                start_time: dt.datetime | None) -> DataFrame:
    """A5 (2_aggregations.sql:210-233): GROUP BY (prefix, origin_as)
    over rows changed since start_time, excluding AS_TRANS.

    The exact distinct-peer counts run as two plain aggregations, not
    three ``countDistinct``s (which plan an Expand that replicates
    every row once per distinct column): first per (prefix, origin,
    peer), keeping the min/max of ``is_withdrawn``, then per (prefix,
    origin), where a peer advertises iff its min is 0 and withdraws
    iff its max is 1. Null peers and null ``is_withdrawn`` drop out of
    the counts exactly as they do under ``countDistinct``."""
    rib = ip_rib.filter(F.col("origin_as") != 23456)  # P2
    if start_time is not None:
        rib = rib.filter((F.col("timestamp") >= F.lit(start_time))
                         | (F.col("first_added_timestamp") >= F.lit(start_time)))
    withdrawn = F.col("is_withdrawn").cast("int")
    maxed = ["prefix_len", "timestamp", "prefix_start", "prefix_end",
             "prefix_base_hi", "prefix_base_lo"]
    rows = rib.groupBy("prefix", "origin_as", "peer_hash_id").agg(
        *(F.max(c).alias(c) for c in maxed),
        F.min("first_added_timestamp").alias("first_added_timestamp"),
        F.min(withdrawn).alias("__w_min"),
        F.max(withdrawn).alias("__w_max"))
    peer = F.col("peer_hash_id")
    return (
        rows.groupBy("prefix", F.col("origin_as").alias("recv_origin_as"))
        .agg(
            F.max("prefix_len").alias("prefix_len"),
            F.min("__w_min").cast("boolean").alias("is_withdrawn"),  # bool_and
            F.max("timestamp").alias("timestamp"),
            F.min("first_added_timestamp").alias("first_added_timestamp"),
            F.count(peer).alias("num_peers"),
            F.count(F.when(F.col("__w_min") == 0, peer))
             .alias("advertising_peers"),
            F.count(F.when(F.col("__w_max") == 1, peer))
             .alias("withdrawn_peers"),
            F.max("prefix_start").alias("prefix_start"),
            F.max("prefix_end").alias("prefix_end"),
            F.max("prefix_base_hi").alias("prefix_base_hi"),
            F.max("prefix_base_lo").alias("prefix_base_lo"),
        )
    )


def merge_global(global_rib: DataFrame, fresh: DataFrame) -> DataFrame:
    """ON CONFLICT (prefix, recv_origin_as) DO UPDATE SET aggregate
    columns = excluded; enrichment columns (irr_*, rpki_*) reset to
    NULL for recomputed rows — they are re-derived by the enrichment
    passes below, matching the reference's post-merge UPDATEs."""
    keys = ["prefix", "recv_origin_as"]
    kept = global_rib.join(fresh.select(*keys), keys, "left_anti")
    fresh_full = fresh.select(
        "prefix", "prefix_len", "recv_origin_as", "is_withdrawn",
        "timestamp", "first_added_timestamp", "num_peers",
        "advertising_peers", "withdrawn_peers",
        F.lit(None).cast("long").alias("irr_origin_as"),
        F.lit(None).cast("string").alias("irr_source"),
        F.lit(None).cast("string").alias("irr_descr"),
        F.lit(None).cast("long").alias("rpki_origin_as"),
        "prefix_start", "prefix_end", "prefix_base_hi", "prefix_base_lo",
    )
    return kept.unionByName(fresh_full)


def enrich_irr(global_rib: DataFrame, info_route: DataFrame,
               start_time: dt.datetime | None) -> DataFrame:
    """J8 (2_aggregations.sql:242-247): exact-prefix equi-join against
    the IRR table; only rows touched since start_time update.

    No forced broadcast: real IRR dumps run ~3M routes with descr
    text (hundreds of MB serialized) — let AQE pick broadcast vs
    shuffle from the actual size; the key is an exact equi-join, so
    a shuffle hash join with skew handling is the safe fallback."""
    irr = (
        info_route.select(
            F.col("prefix").alias("__p"),
            F.col("origin_as").alias("__irr_as"),
            F.col("source").alias("__irr_src"),
            F.col("descr").alias("__irr_descr"),
        ).dropDuplicates(["__p"])
    )
    eligible = (F.col("timestamp") >= F.lit(start_time)) if start_time is not None else F.lit(True)
    out = (
        global_rib.join(irr, global_rib["prefix"] == F.col("__p"), "left")
        .withColumn("irr_origin_as",
                    F.when(eligible & F.col("__p").isNotNull(), F.col("__irr_as"))
                     .otherwise(F.col("irr_origin_as")))
        .withColumn("irr_source",
                    F.when(eligible & F.col("__p").isNotNull(), F.col("__irr_src"))
                     .otherwise(F.col("irr_source")))
        .withColumn("irr_descr",
                    F.when(eligible & F.col("__p").isNotNull(), F.col("__irr_descr"))
                     .otherwise(F.col("irr_descr")))
        .drop("__p", "__irr_as", "__irr_src", "__irr_descr")
    )
    return out


def enrich_rpki(global_rib: DataFrame, rpki: DataFrame,
                start_time: dt.datetime | None) -> DataFrame:
    """J7 (2_aggregations.sql:260-265): ROA covers prefix AND
    prefix_len BETWEEN roa.prefix_len AND roa.prefix_len_max.
    Multiple covering ROAs: the reference's UPDATE takes an arbitrary
    one; here the max origin_as for determinism. Family-blind: v6
    prefixes validate against v6 ROAs (rpki_validator.py:26-73)
    through the unified two-long containment join."""
    eligible = global_rib if start_time is None else \
        global_rib.filter(F.col("timestamp") >= F.lit(start_time))
    roas = rpki.select(
        F.when(F.col("prefix").contains(":"), F.lit(6)).otherwise(F.lit(4))
         .alias("family"),
        "start_hi", "start_lo", "end_hi", "end_lo",
        F.col("prefix_len").alias("roa_len"),
        F.col("prefix_len_max").alias("roa_len_max"),
        F.col("origin_as").alias("__rpki_as"),
    )
    probes = eligible.select(
        "prefix", "recv_origin_as", "prefix_len",
        F.when(F.col("prefix").contains(":"), F.lit(6)).otherwise(F.lit(4))
         .alias("__fam"),
        F.col("prefix_base_hi").alias("__hi"),
        F.col("prefix_base_lo").alias("__lo"),
    )
    matched = containment_join128(
        probes, "__fam", "__hi", "__lo", roas,
        broadcast=True,  # the ROA dim is bounded (~500k rows real-world)
        extra_pred=(F.col("prefix_len") >= F.col("roa_len"))
                   & (F.col("prefix_len") <= F.col("roa_len_max")),
    ).groupBy("prefix", "recv_origin_as") \
     .agg(F.max("__rpki_as").alias("__rpki_new"))
    # NO forced broadcast of `matched`: it is bounded by the ELIGIBLE
    # RIB SLICE, not by the ROA dim — after a full sync (start_time
    # None / far past) that is the whole global rib, and a forced
    # broadcast of a table-sized aggregate is the scale killer the
    # IRR join already avoids (same AQE size-gate reasoning as
    # enrich_irr; test_scale_plans.py pins both).
    return (
        global_rib.join(matched, ["prefix", "recv_origin_as"], "left")
        .withColumn("rpki_origin_as",
                    F.coalesce(F.col("__rpki_new"), F.col("rpki_origin_as")))
        .drop("__rpki_new")
    )


def select_start_time(now: dt.datetime,
                      last_query_time: dt.datetime | None,
                      max_interval: dt.timedelta) -> dt.datetime:
    """Incremental-window selection (2_aggregations.sql:184-201):
    trust the stored watermark within max_interval, clamp otherwise."""
    start_time = last_query_time
    if start_time is None or start_time < now - max_interval:
        start_time = floor_ts(now - max_interval, 300)
    elif start_time > now:
        start_time = floor_ts(now - dt.timedelta(minutes=15), 300)
    return start_time


def update_global_ip_rib(
    global_rib: DataFrame,
    ip_rib: DataFrame,
    info_route: DataFrame | None = None,
    rpki: DataFrame | None = None,
    now: dt.datetime | None = None,
    last_query_time: dt.datetime | None = None,
    max_interval: dt.timedelta = dt.timedelta(hours=2),
) -> DataFrame:
    """Full job (2_aggregations.sql:181-275): watermark selection,
    incremental consolidation merge, IRR + RPKI enrichment."""
    now = now or dt.datetime.utcnow()
    start_time = select_start_time(now, last_query_time, max_interval)

    fresh = consolidate(ip_rib, start_time)
    out = merge_global(global_rib, fresh)
    if info_route is not None:
        out = enrich_irr(out, info_route, start_time)
    if rpki is not None:
        out = enrich_rpki(out, rpki, start_time)
    return out


def purge_global_ip_rib(global_rib: DataFrame, now: dt.datetime,
                        age: dt.timedelta = dt.timedelta(hours=4)) -> DataFrame:
    """P10 (2_aggregations.sql:166-175): drop withdrawn rows older
    than the retention window."""
    return global_rib.filter(
        ~(F.col("is_withdrawn") & (F.col("timestamp") < F.lit(now - age))))
