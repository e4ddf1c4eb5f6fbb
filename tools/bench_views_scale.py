"""Decade scaling probe for the view/report join family (round-14
verdict #3): J1's `v_ip_routes` 4-way join (`plans/views.py:80`;
reference `8_views.sql:31-52`) was the last §2 query family without
its own measured scale behavior — every other family (ingest,
LS/L3VPN, LPM/containment, churn, text, ANN) has decade alphas.

Shape under test, at 1M -> 10M -> 100M fact rows (sf1/sf10/sf100
events as the row source):

  ip_rib(fact) ⋈ broadcast(peers dim, 64 rows)
              ⋈ base_attrs(fact-correlated, 0.64 rows per fact)
              ⋈ broadcast(routers dim, 8 rows)

The dims MUST stay broadcast-hash joins at every tier (a sort-merge
join on a 64-row dim would shuffle the 100M-row fact side twice for
nothing); the attrs join is the one legitimate shuffle — it is
fact ⋈ fact on the composite (hash_id, peer_hash_id) key, exactly
the join the reference's GIST-indexed nested loop performs row by
row. Two consumers per tier:

- ``view_project``: the full ~35-column view to a noop sink — the
  "SELECT * FROM v_ip_routes" analyst path; cost is the attrs
  shuffle plus projection width.
- ``view_agg``: GROUP BY origin_as over the view — the report path;
  Catalyst must prune the unused attr columns down the scan
  (recorded as the events ReadSchema column count).

Key-space law (same as bench_ls_scale.py): the derived tiers offset
user_id/event_id per copy (make_sf_scale.py), so attr/peer key
spaces grow with the dataset and per-key fan-in stays constant —
a 10x tier means 10x distinct attrs, not 10x hotter attr keys.

Usage: python tools/bench_views_scale.py [sf1 [sf10 [sf100]]]
Writes BENCH_views_scale.json at the repo root.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_PEERS = 64
N_ROUTERS = 8
ATTRS_PER_100_FACTS = 1  # distinct attr ids = facts/100, x 64 peers


def _facts(spark, sf_dir: str):
    """ip_rib-shaped facts, one per events row, no shuffle in the
    build (pure projection over the parquet scan)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.select(
        F.concat(F.lit("r"), F.col("event_id")).alias("hash_id"),
        F.concat(F.lit("p"), F.col("user_id") % N_PEERS)
         .alias("peer_hash_id"),
        # attr id derived from event_id so the key space scales with
        # the tier (event_id is copy-offset in the derived datasets)
        F.concat(F.lit("a"), (F.col("event_id") / 100).cast("long"))
         .alias("base_attr_hash_id"),
        F.concat(F.lit("10."), (F.col("event_id") % 224).cast("string"),
                 F.lit("."), ((F.col("event_id") / 224) % 256)
                 .cast("long").cast("string"), F.lit(".0")).alias("prefix"),
        F.lit(24).cast("int").alias("prefix_len"),
        (65000 + F.col("event_id") % 1000).alias("origin_as"),
        F.lit(True).alias("is_ipv4"),
        F.col("ts").alias("timestamp"),
        F.col("ts").alias("first_added_timestamp"),
        F.lit(0).cast("long").alias("path_id"),
        F.lit("").alias("labels"),
        (F.col("value") < 2).alias("is_withdrawn"),
        F.lit(False).alias("is_pre_policy"),
        F.lit(True).alias("is_adj_rib_in"),
    )


def _attrs(spark, sf_dir: str):
    """base_attrs keyed (hash_id, peer_hash_id), covering the fact
    key space: facts/100 distinct attr ids x 64 peers = 0.64 rows
    per fact — a fact-scale table, which is what makes the attrs
    join the real (and only) shuffle in the view."""
    import pyarrow.parquet as pq
    p = os.path.join(sf_dir, "events.parquet")
    n_rows = (pq.ParquetFile(p).metadata.num_rows if os.path.isfile(p)
              else sum(pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
                       for f in os.listdir(p) if f.endswith(".parquet")))
    # the derived tiers are N copies of the sf0.1 base (event_id
    # dense in [0, 100k)) offset by 100M per copy, so fact attr ids
    # (event_id/100) land at 1M-wide strides: copy*1M + [0, 1000).
    # Reproduce exactly that key space so every fact key has its
    # attr row and per-copy fan-in is constant across tiers.
    base_span, copy_stride = 100_000, 100_000_000
    n_copies = max(1, n_rows // base_span)
    base_ids = base_span // 100  # attr ids per copy
    base = spark.range(n_copies * base_ids * N_PEERS)
    idx = (F.col("id") / N_PEERS).cast("long")
    aid = ((idx / base_ids).cast("long") * (copy_stride // 100)
           + idx % base_ids)
    return base.select(
        F.concat(F.lit("a"), aid).alias("hash_id"),
        F.concat(F.lit("p"), F.col("id") % N_PEERS).alias("peer_hash_id"),
        (F.col("id") % 2).cast("int").alias("origin"),
        (F.col("id") % 100).cast("long").alias("med"),
        F.lit(100).cast("long").alias("local_pref"),
        F.lit("10.0.0.1").alias("next_hop"),
        F.sequence(F.lit(65001).cast("long"),
                   (65001 + F.col("id") % 4).cast("long")).alias("as_path"),
        (1 + F.col("id") % 4).cast("int").alias("as_path_count"),
        F.lit("65001:100").alias("community_list"),
        F.lit("").alias("ext_community_list"),
        F.lit("").alias("large_community_list"),
        F.lit("").alias("cluster_list"),
        F.lit("").alias("originator_id"),
        F.lit("").alias("aggregator"),
    )


def _dims(spark):
    peers = spark.range(N_PEERS).select(
        F.concat(F.lit("p"), F.col("id")).alias("hash_id"),
        F.concat(F.lit("rtr"), F.col("id") % N_ROUTERS)
         .alias("router_hash_id"),
        F.concat(F.lit("peer-"), F.col("id")).alias("name"),
        F.concat(F.lit("192.0.2."), F.col("id")).alias("peer_addr"),
        (64500 + F.col("id")).alias("peer_as"),
        F.lit(True).alias("is_ipv4"),
        F.lit(False).alias("is_l3vpn_peer"),
    )
    routers = spark.range(N_ROUTERS).select(
        F.concat(F.lit("rtr"), F.col("id")).alias("hash_id"),
        F.concat(F.lit("router-"), F.col("id")).alias("name"),
        F.concat(F.lit("198.51.100."), F.col("id")).alias("ip_address"),
    )
    return peers, routers


def _plan_audit(df) -> dict:
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # formatted mode prints each node twice (tree + details) — count
    # unique node ids, not raw string hits
    bhj = len(set(re.findall(r"\((\d+)\)\s+BroadcastHashJoin", plan)))
    smj = len(set(re.findall(r"\((\d+)\)\s+SortMergeJoin", plan)))
    shj = len(set(re.findall(r"\((\d+)\)\s+ShuffledHashJoin", plan)))
    m = re.search(r"ReadSchema:\s*struct<([^>]*)>", plan)
    read_cols = len(m.group(1).split(",")) if m and m.group(1) else 0
    # 2 broadcast dims (peers, routers); the attrs fact⋈fact join is
    # the one legitimate shuffle join (AQE may broadcast it at tiny
    # tiers, hence >= 2 not == 2)
    return {"broadcast_hash_joins": bhj, "sort_merge_joins": smj,
            "shuffled_hash_joins": shj,
            "events_read_schema_cols": read_cols,
            "dims_broadcast": bhj >= 2 and (smj + shj) <= 1}


def main() -> None:
    tiers = [("sf1", sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"),
             ("sf10", sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10"),
             ("sf100", sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf100")]

    from obmp_psql_spark.plans.views import v_ip_routes
    from obmp_psql_spark.session import get_spark, sized_session

    spark = get_spark("bench-views-scale")
    spark.range(10000).selectExpr("id % 7 k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()

    def build_view(sf_dir):
        s = sized_session(spark, sf_dir)
        peers, routers = _dims(s)
        return v_ip_routes(_facts(s, sf_dir), peers,
                           _attrs(s, sf_dir), routers)

    consumers = {
        "view_project": lambda v: v,
        "view_agg": lambda v: v.groupBy("origin_as").agg(
            F.count(F.lit(1)).alias("n_routes"),
            F.max("last_modified").alias("latest")),
    }

    results: dict[str, dict] = {}
    plans: dict[str, dict] = {}
    for tag, sf_dir in tiers:
        if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
            print(f"skip {tag}: {sf_dir} missing", flush=True)
            continue
        plans[tag] = _plan_audit(consumers["view_agg"](build_view(sf_dir)))
        for cname, consume in consumers.items():
            best = None
            for _ in range(2):  # min-of-2 cold builds, bench.py law
                t0 = time.perf_counter()
                consume(build_view(sf_dir)) \
                    .write.format("noop").mode("overwrite").save()
                dt_ = time.perf_counter() - t0
                best = dt_ if best is None else min(best, dt_)
            results.setdefault(cname, {})[tag] = round(best, 3)
            print(f"{cname} {tag}: {best:.3f}s", flush=True)

    for cname, r in results.items():
        if "sf1" in r and "sf10" in r:
            r["alpha_sf1_sf10"] = round(math.log10(r["sf10"] / r["sf1"]), 2)
        if "sf10" in r and "sf100" in r:
            r["alpha_sf10_sf100"] = round(
                math.log10(r["sf100"] / r["sf10"]), 2)
        if "sf1" in r and "sf100" in r:
            r["alpha_cumulative"] = round(
                math.log10(r["sf100"] / r["sf1"]) / 2, 2)

    out = {
        "probe": "v_ip_routes 4-way join decade scaling (J1/J4)",
        "fact_rows": {"sf1": 1_000_000, "sf10": 10_000_000,
                      "sf100": 100_000_000},
        "attr_rows_per_fact": 0.64,
        "results": results,
        "plans": plans,
        "no_smj_on_dims_at_any_tier": all(
            p["dims_broadcast"] for p in plans.values()),
        "load_at_run": [round(x, 2) for x in os.getloadavg()],
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_views_scale.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in out.items() if k != "plans"},
                     sort_keys=True))


if __name__ == "__main__":
    main()
