"""Decade scaling probe for the LS/L3VPN ingest family (round-13
verdict #1): the `ingest_ls.py` conditional-merge + CDC path was the
only §2 ingest family whose scale behavior was asserted from the
rib-merge analogy instead of measured. Probes ls_link + ls_node
(`conditional_rib_merge` keep-on-withdraw matrices) and l3vpn
(rd/ext always-update policy), two-batch through the REAL apply_*
path, consuming BOTH outputs (state + change log), at sf0.1 → sf1 →
sf10 (two decades).

Message synthesis mirrors the gate builders (`queries_bmp.
_ls_messages`) with one scale-correct change: the KEY SPACE grows
with the dataset — node/link hashes carry the derived dataset's
copy index (`make_sf_scale.py` offsets user_id by 10M and event_id
by 100M per copy), so a 10× tier has 10× the nodes/links at CONSTANT
per-key churn, the shape a real 10× LS feed has. The gate's fixed
50-node/499-link moduli would instead multiply per-key churn 10×
per decade and measure update-pileup, not operator scaling (the
same trap make_sf_scale.py documents for events/documents).
L3VPN reuses the gate's own `_l3vpn_messages`, whose user_id-derived
key space already grows with the derived tiers.

Usage: python tools/bench_ls_scale.py [sf1_dir=/tmp/sf1] [sf10_dir=/tmp/sf10]
Writes BENCH_ls_scale.json at the repo root.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

TIERS = [("sf0.1", "/root/testdata/sf0.1")]

# copy index of the derived datasets: make_sf_scale.py offsets
USER_COPY = 10_000_000
EVENT_COPY = 100_000_000


def _scaled_ls_messages(spark, sf_dir):
    """The gate's _ls_messages shape with copy-aware key spaces."""
    from obmp_psql_spark.session import fan_out, load_tables

    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    mts = F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
    wd = F.col("value") < 5
    ecopy = (F.col("event_id") / EVENT_COPY).cast("long")

    def node_of(c):
        return F.concat(F.lit("n"), (c / USER_COPY).cast("long"),
                        F.lit("-"), (c % 50).cast("string"))

    nodes = ev.select(
        node_of(F.col("user_id")).alias("hash"),
        F.lit("p1").alias("peer_hash"),
        F.when(wd, F.lit("")).otherwise(
            F.concat(F.lit("a"), (F.col("event_id") % 20).cast("string"))
        ).alias("base_attr_hash"),
        F.col("event_id").alias("sequence"),
        F.lit(65001).cast("long").alias("peer_asn"),
        F.lit(0).cast("long").alias("ls_id"),
        F.concat(F.lit("0100.0a0b.0c"),
                 (F.col("user_id") % 50).cast("string")).alias("igp_router_id"),
        F.lit("").alias("ospf_area_id"),
        F.lit("IS-IS_L2").alias("protocol"),
        F.concat(F.lit("10.0.0."),
                 (F.col("user_id") % 50).cast("string")).alias("router_id"),
        F.lit("49.0001").alias("isis_area_id"),
        F.lit("").alias("flags"),
        F.concat(F.lit("node-"), (F.col("user_id") % 50).cast("string"),
                 F.lit("-"), (F.col("event_id") % 3).cast("string")).alias("name"),
        F.lit("0 2").alias("mt_ids"),
        F.lit("").alias("sr_capabilities"),
        wd.alias("is_withdrawn"),
        mts.alias("timestamp"),
        F.col("event_id"),
    )
    links = ev.select(
        F.concat(F.lit("l"), ecopy, F.lit("-"),
                 (F.col("event_id") % 499).cast("string")).alias("hash"),
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
        (F.col("event_id") % 97).cast("long").alias("igp_metric"),
        F.lit("").alias("srlg"),
        F.concat(F.lit("link-"), ecopy, F.lit("-"),
                 (F.col("event_id") % 499).cast("string")).alias("link_name"),
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


def _two_batch(apply_fn, empty_state, msgs):
    """The gate pipeline shape: insert batch then merge batch, both
    outputs of the second merge consumed (state + CDC log)."""
    b1 = msgs.filter(F.col("event_id") % 2 == 0).drop("event_id")
    b2 = msgs.filter(F.col("event_id") % 2 == 1).drop("event_id")
    state1, _ = apply_fn(empty_state, b1)
    return apply_fn(state1, b2,
                    materialize_join=lambda df: df.localCheckpoint())


def main() -> None:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    sf10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10"
    tiers = TIERS + [("sf1", sf1), ("sf10", sf10)]

    from obmp_psql_spark.ingest_ls import (
        apply_l3vpn,
        apply_ls_link,
        apply_ls_node,
    )
    from obmp_psql_spark.queries_bmp import _l3vpn_messages
    from obmp_psql_spark.schemas import TABLE_SCHEMAS
    from obmp_psql_spark.session import get_spark, sized_session

    spark = get_spark("bench-ls-scale")
    spark.range(10000).selectExpr("id % 7 k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()

    def probe_ls_link(s, sf_dir):
        _, links = _scaled_ls_messages(s, sf_dir)
        return _two_batch(apply_ls_link,
                          s.createDataFrame([], TABLE_SCHEMAS["ls_links"]),
                          links)

    def probe_ls_node(s, sf_dir):
        nodes, _ = _scaled_ls_messages(s, sf_dir)
        return _two_batch(apply_ls_node,
                          s.createDataFrame([], TABLE_SCHEMAS["ls_nodes"]),
                          nodes)

    def probe_l3vpn(s, sf_dir):
        return _two_batch(
            apply_l3vpn,
            s.createDataFrame([], TABLE_SCHEMAS["l3vpn_rib"]),
            _l3vpn_messages(s, sf_dir))

    probes = {"ls_link_merge_cdc": probe_ls_link,
              "ls_node_merge_cdc": probe_ls_node,
              "l3vpn_merge_cdc": probe_l3vpn}

    results: dict[str, dict] = {}
    for name, fn in probes.items():
        results[name] = {}
        for tag, sf_dir in tiers:
            s = sized_session(spark, sf_dir)
            best = None
            for _ in range(2):  # min-of-2 cold builds, bench.py law
                t0 = time.perf_counter()
                state, log = fn(s, sf_dir)
                state.write.format("noop").mode("overwrite").save()
                log.write.format("noop").mode("overwrite").save()
                dt_ = time.perf_counter() - t0
                best = dt_ if best is None else min(best, dt_)
            results[name][tag] = round(best, 3)
            print(f"{name} {tag}: {best:.3f}s", flush=True)
        r = results[name]
        r["alpha_sf0.1_sf1"] = round(math.log10(r["sf1"] / r["sf0.1"]), 2)
        r["alpha_sf1_sf10"] = round(math.log10(r["sf10"] / r["sf1"]), 2)
        r["alpha_cumulative"] = round(
            math.log10(r["sf10"] / r["sf0.1"]) / 2, 2)
        print(f"{name}: {r}", flush=True)

    out = {
        "metric": "ls_l3vpn_decade_scaling",
        "probes": results,
        "note": "two-batch conditional merge + CDC through the real "
                "apply_ls_link/apply_ls_node/apply_l3vpn path, both "
                "outputs consumed; key space grows with the derived "
                "tier (copy-aware hashes) so per-key churn is "
                "constant; min-of-2 cold per tier on local[32]; "
                "alpha=log10 ratio per decade, 1.0=linear",
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_ls_scale.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
