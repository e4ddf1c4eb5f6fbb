"""Global RIB consolidation + enrichment (reference:
update_global_ip_rib 2_aggregations.sql:181-275, sync variant
:280-353, purge :166-175; SURVEY A5/J7/J8/P10).

Scale: the consolidation is a groupBy(prefix, origin_as, peer) then
groupBy(prefix, origin_as) over the incremental slice of ip_rib
(timestamp-pruned), both over ONE exchange on (prefix, origin_as),
with exact distinct-peer counts and no Expand
(``q_approx_distinct_gate`` measures HyperLogLog++ counts for extreme
peer cardinality against the exact ones, SURVEY §7).
IRR is an equi-join (AQE picks broadcast or shuffle — info_route can
be large) against one deterministically picked IRR row per prefix.
RPKI is one left containment join of every row against the broadcast
ROA band table (operators.lpm) plus one aggregate back to a row each:
no join back, so the merged subtree runs once, and on a frame already
hash-partitioned on the bucket column (the bucketed cron path) the
aggregate adds no exchange.
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
    the counts exactly as they do under ``countDistinct``. The rows
    are hash-partitioned on (prefix, origin_as) first, which clusters
    both aggregations, so they share that one exchange instead of one
    each."""
    rib = ip_rib.filter(F.col("origin_as") != 23456)  # P2
    if start_time is not None:
        rib = rib.filter((F.col("timestamp") >= F.lit(start_time))
                         | (F.col("first_added_timestamp") >= F.lit(start_time)))
    withdrawn = F.col("is_withdrawn").cast("int")
    maxed = ["prefix_len", "timestamp", "prefix_start", "prefix_end",
             "prefix_base_hi", "prefix_base_lo"]
    rows = rib.repartition("prefix", "origin_as") \
        .groupBy("prefix", "origin_as", "peer_hash_id").agg(
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

    A prefix with several IRR rows takes the one with the lowest
    ``origin_as``, then ``source``, then ``descr`` (nulls first, as
    Spark orders structs); the reference's UPDATE ... FROM takes an
    arbitrary one.

    No forced broadcast: real IRR dumps run ~3M routes with descr
    text (hundreds of MB serialized) — let AQE pick broadcast vs
    shuffle from the actual size; the key is an exact equi-join, so
    a shuffle hash join with skew handling is the safe fallback."""
    irr = info_route.groupBy(F.col("prefix").alias("__p")).agg(
        F.min(F.struct("origin_as", "source", "descr")).alias("__irr"))
    hit = F.col("__p").isNotNull()
    if start_time is not None:
        hit = hit & (F.col("timestamp") >= F.lit(start_time))
    return (
        global_rib.join(irr, global_rib["prefix"] == F.col("__p"), "left")
        .withColumn("irr_origin_as",
                    F.when(hit, F.col("__irr.origin_as"))
                     .otherwise(F.col("irr_origin_as")))
        .withColumn("irr_source",
                    F.when(hit, F.col("__irr.source"))
                     .otherwise(F.col("irr_source")))
        .withColumn("irr_descr",
                    F.when(hit, F.col("__irr.descr"))
                     .otherwise(F.col("irr_descr")))
        .drop("__p", "__irr")
    )


def enrich_rpki(global_rib: DataFrame, rpki: DataFrame,
                start_time: dt.datetime | None) -> DataFrame:
    """J7 (2_aggregations.sql:260-265): ROA covers prefix AND
    prefix_len BETWEEN roa.prefix_len AND roa.prefix_len_max; only
    rows touched since start_time update.
    Multiple covering ROAs: the reference's UPDATE takes an arbitrary
    one; here the max origin_as for determinism. Family-blind: v6
    prefixes validate against v6 ROAs (rpki_validator.py:26-73)
    through the unified two-long containment join.

    Every row left-joins the broadcast ROA band table (the only
    forced broadcast: the ROA dim is bounded, ~500k rows real-world),
    with eligibility in the join condition, and one aggregate over all
    of ``global_rib``'s columns folds each row's matches back into the
    row. The columns include the merge key (prefix, recv_origin_as),
    so no two rows meet in a group. A broadcast join keeps the probe
    side's partitioning, so when ``global_rib`` is hash-partitioned on
    one of its columns (``_bucket`` on the bucketed cron path) the
    aggregate is clustered already and adds no exchange; otherwise it
    shuffles ``global_rib`` once. Nothing global-sized is ever
    broadcast."""
    cols = global_rib.columns
    roas = rpki.select(
        F.when(F.col("prefix").contains(":"), F.lit(6)).otherwise(F.lit(4))
         .alias("family"),
        "start_hi", "start_lo", "end_hi", "end_lo",
        F.col("prefix_len").alias("roa_len"),
        F.col("prefix_len_max").alias("roa_len_max"),
        F.col("origin_as").alias("__rpki_as"),
    )
    probes = global_rib.withColumn(
        "__fam",
        F.when(F.col("prefix").contains(":"), F.lit(6)).otherwise(F.lit(4)))
    pred = (F.col("prefix_len") >= F.col("roa_len")) \
        & (F.col("prefix_len") <= F.col("roa_len_max"))
    if start_time is not None:
        pred = pred & (F.col("timestamp") >= F.lit(start_time))
    matched = containment_join128(
        probes, "__fam", "prefix_base_hi", "prefix_base_lo", roas,
        broadcast=True, extra_pred=pred, how="left")
    return (
        matched.groupBy(*cols)
        .agg(F.max("__rpki_as").alias("__rpki_new"))
        .select(*(F.coalesce("__rpki_new", c).alias(c)
                  if c == "rpki_origin_as" else c for c in cols))
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
