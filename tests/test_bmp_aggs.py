"""Aggregation jobs, global RIB, and views against reference
semantics (FIXTURES.md §3 scenarios 7, 8, 11) with a DuckDB oracle
for the stats functions."""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import functions as F

from obmp_psql_spark.ingest import apply_unicast_prefix
from obmp_psql_spark.operators import global_rib as G
from obmp_psql_spark.operators import rollup as R
from obmp_psql_spark.schemas import TABLE_SCHEMAS

from .test_bmp_ingest import empty, msgs, ts, upx


def build_rib(spark):
    """3 peers advertise 10.1.0.0/16 (AS 65001), peer2 withdraws;
    one AS_TRANS row; a second prefix from one peer."""
    batch = msgs(spark, "unicast_prefix", [
        upx("add", "h1", "peerA", "a1", ts(0)),
        upx("add", "h2", "peerB", "a1", ts(1)),
        upx("add", "h3", "peerC", "a1", ts(2)),
        upx("add", "h4", "peerA", "a2", ts(3), prefix="10.2.0.0", origin=23456),
        upx("add", "h5", "peerB", "a3", ts(4), prefix="10.3.0.0", origin=65002),
    ])
    rib, _ = apply_unicast_prefix(empty(spark, "ip_rib"), batch)
    rib, _ = apply_unicast_prefix(rib.cache(), msgs(spark, "unicast_prefix", [
        upx("del", "h2", "peerB", "", ts(5)),
    ]))
    return rib.cache()


def test_global_rib_consolidation(spark):
    rib = build_rib(spark)
    out = G.update_global_ip_rib(
        empty(spark, "global_ip_rib"), rib, now=ts(10),
        last_query_time=None).cache()
    rows = {(r.prefix, r.recv_origin_as): r for r in out.collect()}
    # scenario 8: AS_TRANS excluded
    assert ("10.2.0.0", 23456) not in rows
    g = rows[("10.1.0.0", 65001)]
    # scenario 7: peer counts + bool_and
    assert g.num_peers == 3
    assert g.advertising_peers == 2
    assert g.withdrawn_peers == 1
    assert g.is_withdrawn is False  # bool_and over 3 peers
    assert g.timestamp == ts(5)
    assert g.first_added_timestamp == ts(0)

    # all peers withdraw -> bool_and true; purge after 4h drops it
    rib2, _ = apply_unicast_prefix(rib, msgs(spark, "unicast_prefix", [
        upx("del", "h1", "peerA", "", ts(6)),
        upx("del", "h3", "peerC", "", ts(7)),
    ]))
    out2 = G.update_global_ip_rib(out, rib2, now=ts(10), last_query_time=ts(0))
    g2 = {(r.prefix, r.recv_origin_as): r for r in out2.collect()}[("10.1.0.0", 65001)]
    assert g2.is_withdrawn is True and g2.advertising_peers == 0
    purged = G.purge_global_ip_rib(out2, now=ts(7) + dt.timedelta(hours=5))
    assert ("10.1.0.0", 65001) not in {(r.prefix, r.recv_origin_as)
                                       for r in purged.collect()}


def test_rpki_irr_enrichment(spark):
    rib = build_rib(spark)
    glob = G.consolidate(rib, None)
    glob = G.merge_global(empty(spark, "global_ip_rib"), glob)
    info_route = spark.createDataFrame(
        [("10.1.0.0", 16, "route-obj", 65001, "RADB", ts(0))],
        "prefix string, prefix_len short, descr string, origin_as long, source string, timestamp timestamp")
    # ROA 10.0.0.0/8 maxlen 24 origin 65001 covers 10.1.0.0/16
    rpki = spark.createDataFrame(
        [("10.0.0.0/8", 8, 24, 65001, ts(0), 167772160, 184549375,
          0, 167772160, 0, 184549375)],
        TABLE_SCHEMAS["rpki_validator"])
    out = G.enrich_rpki(G.enrich_irr(glob, info_route, None), rpki, None)
    rows = {(r.prefix, r.recv_origin_as): r for r in out.collect()}
    g = rows[("10.1.0.0", 65001)]
    assert g.irr_origin_as == 65001 and g.irr_source == "RADB"
    assert g.rpki_origin_as == 65001
    assert rows[("10.3.0.0", 65002)].irr_origin_as is None
    assert rows[("10.3.0.0", 65002)].rpki_origin_as == 65001  # /8 covers it


def test_enrich_irr_picks_lowest_origin_then_source(spark):
    """Several IRR rows for one prefix: the lowest origin_as wins, then
    the lowest source, whatever order the rows arrive in."""
    glob = G.merge_global(empty(spark, "global_ip_rib"),
                          G.consolidate(build_rib(spark), None))
    schema = ("prefix string, prefix_len short, descr string, "
              "origin_as long, source string, timestamp timestamp")
    rows = [("10.1.0.0", 16, "b", 65009, "RADB", ts(0)),
            ("10.1.0.0", 16, "a", 65001, "RIPE", ts(0)),
            ("10.3.0.0", 16, "c", 65002, "RIPE", ts(0)),
            ("10.3.0.0", 16, "d", 65002, "ARIN", ts(0))]
    for order in (rows, rows[::-1]):
        irr = spark.createDataFrame(order, schema).repartition(3)
        got = {r.prefix: (r.irr_origin_as, r.irr_source, r.irr_descr)
               for r in G.enrich_irr(glob, irr, None).collect()}
        assert got["10.1.0.0"] == (65001, "RIPE", "a")
        assert got["10.3.0.0"] == (65002, "ARIN", "d")


def _enrich_rpki_join_back(global_rib, rpki, start_time):
    """The previous enrich_rpki, kept as the reference: an inner
    containment join of the eligible rows, the max origin per key, and
    a left join of that aggregate back onto every row."""
    from obmp_psql_spark.operators.lpm import containment_join128

    eligible = global_rib if start_time is None else \
        global_rib.filter(F.col("timestamp") >= F.lit(start_time))
    fam = F.when(F.col("prefix").contains(":"), F.lit(6)).otherwise(F.lit(4))
    roas = rpki.select(
        fam.alias("family"), "start_hi", "start_lo", "end_hi", "end_lo",
        F.col("prefix_len").alias("roa_len"),
        F.col("prefix_len_max").alias("roa_len_max"),
        F.col("origin_as").alias("__rpki_as"))
    probes = eligible.select(
        "prefix", "recv_origin_as", "prefix_len", fam.alias("__fam"),
        F.col("prefix_base_hi").alias("__hi"),
        F.col("prefix_base_lo").alias("__lo"))
    matched = containment_join128(
        probes, "__fam", "__hi", "__lo", roas, broadcast=True,
        extra_pred=(F.col("prefix_len") >= F.col("roa_len"))
                   & (F.col("prefix_len") <= F.col("roa_len_max")),
    ).groupBy("prefix", "recv_origin_as") \
     .agg(F.max("__rpki_as").alias("__rpki_new"))
    return (
        global_rib.join(matched, ["prefix", "recv_origin_as"], "left")
        .withColumn("rpki_origin_as",
                    F.coalesce(F.col("__rpki_new"), F.col("rpki_origin_as")))
        .drop("__rpki_new"))


def test_enrich_rpki_matches_join_back_reference(spark):
    """The one-pass enrich_rpki (left containment join + one aggregate)
    against the join-back version on seeded v4 and v6 ROA sets: nested
    ROAs, prefix lengths outside [roa_len, roa_len_max], rows too old
    to be eligible, prior rpki values, and start_time=None."""
    import ipaddress
    import random

    from obmp_psql_spark.sources.lookups import _with_bounds

    rnd = random.Random(7)
    roas = [("10.0.0.0/8", 8, 16, 64500), ("10.1.0.0/16", 16, 24, 64501),
            ("10.1.2.0/24", 24, 24, 64502), ("10.1.0.0/16", 16, 20, 64599),
            ("2001:db8::/32", 32, 48, 64600),
            ("2001:db8:1::/48", 48, 64, 64601),
            ("2001:db8:1:2::/64", 64, 64, 64602)]
    for _ in range(40):
        if rnd.random() < 0.5:
            plen = rnd.randint(8, 24)
            net = ipaddress.ip_network(
                (rnd.choice([10 << 24, 172 << 24]) | rnd.getrandbits(24),
                 plen), strict=False)
        else:
            plen = rnd.randint(32, 64)
            net = ipaddress.ip_network(
                ((0x20010db8 << 96) | (rnd.getrandbits(32) << 64), plen),
                strict=False)
        roas.append((str(net), plen, min(plen + rnd.randint(0, 8),
                                         128 if net.version == 6 else 32),
                     64700 + rnd.randint(0, 50)))
    rpki = _with_bounds(spark.createDataFrame(
        [r + (ts(0),) for r in roas],
        "prefix string, prefix_len short, prefix_len_max short, "
        "origin_as long, timestamp timestamp"), "prefix").drop("masklen")

    rows = []
    for i in range(300):
        if rnd.random() < 0.5:
            plen = rnd.randint(8, 32)
            net = ipaddress.ip_network(
                (rnd.choice([10 << 24, 10 << 24 | 1 << 16, 172 << 24])
                 | rnd.getrandbits(16), plen), strict=False)
        else:
            plen = rnd.randint(24, 80)
            net = ipaddress.ip_network(
                ((0x20010db8 << 96) | (rnd.choice([1, 2, 77]) << 80)
                 | (rnd.getrandbits(16) << 64), plen), strict=False)
        rows.append((str(net), str(net.network_address), plen,
                     65000 + i % 7, ts(rnd.randint(0, 9)),
                     rnd.choice([None, None, 1, 64501])))
    seeds = _with_bounds(spark.createDataFrame(
        rows, "ip string, addr string, plen short, origin long, "
              "t timestamp, rpki long"), "ip")
    glob = seeds.select(
        F.col("addr").alias("prefix"), F.col("plen").alias("prefix_len"),
        F.col("origin").alias("recv_origin_as"),
        F.lit(False).alias("is_withdrawn"), F.col("t").alias("timestamp"),
        F.col("t").alias("first_added_timestamp"),
        *(F.lit(1).cast("long").alias(c) for c in
          ("num_peers", "advertising_peers", "withdrawn_peers")),
        F.lit(None).cast("long").alias("irr_origin_as"),
        F.lit(None).cast("string").alias("irr_source"),
        F.lit(None).cast("string").alias("irr_descr"),
        F.col("rpki").alias("rpki_origin_as"),
        "prefix_start", "prefix_end",
        F.col("start_hi").alias("prefix_base_hi"),
        F.col("start_lo").alias("prefix_base_lo"),
    ).dropDuplicates(["prefix", "recv_origin_as"]).cache()

    def by_key(df):
        return sorted(df.collect(),
                      key=lambda r: (r.prefix, r.recv_origin_as))

    before = by_key(glob)
    for start in (None, ts(5)):
        got = G.enrich_rpki(glob, rpki, start)
        assert got.columns == glob.columns
        # the join back put the key columns first
        got = by_key(got)
        want = by_key(_enrich_rpki_join_back(glob, rpki, start)
                      .select(*glob.columns))
        assert got == want and len(got) == len(before)
        changed = sum(a.rpki_origin_as != b.rpki_origin_as
                      for a, b in zip(got, before))
        assert changed > 20  # the seed exercises the match path


def test_chg_stats_match_duckdb_oracle(spark):
    """Scenario 11: buckets across >=3 intervals, DuckDB implements
    the reference SQL (2_aggregations.sql:91-130) as the oracle."""
    batch = msgs(spark, "unicast_prefix", [
        upx("add", f"h{i}", f"peer{i % 2}", f"a{i}", ts(0, i),
            prefix=f"10.{i % 3}.0.0", origin=65000 + i % 2)
        for i in range(40)
    ])
    rib, log = apply_unicast_prefix(empty(spark, "ip_rib"), batch)
    # attr-change re-advertisements across minutes 1..6 -> UPDATE log
    # rows in multiple buckets (inserts alone never log, AFTER UPDATE)
    rib, log1 = apply_unicast_prefix(rib.cache(), msgs(spark, "unicast_prefix", [
        upx("add", f"h{i}", f"peer{i % 2}", f"b{i}", ts(1 + i % 6, (i * 13) % 60),
            prefix=f"10.{i % 3}.0.0", origin=65000 + i % 2)
        for i in range(40)
    ]))
    log = log.unionByName(log1)
    rib2, log2 = apply_unicast_prefix(rib.cache(), msgs(spark, "unicast_prefix", [
        upx("del", f"h{i}", f"peer{i % 2}", "", ts(7, i))
        for i in range(0, 40, 3)
    ]))
    full_log = log.unionByName(log2).cache()
    now = ts(9)
    window = dt.timedelta(minutes=10)

    bypeer = R.chg_stats_bypeer(full_log, now, window).toPandas()
    byasn = R.chg_stats_byasn(full_log, now, window).toPandas()
    byprefix = R.chg_stats_byprefix(full_log, now, window).toPandas()

    con = duckdb.connect()
    con.register("log", full_log.toPandas())
    hi60 = R.floor_ts(now, 60)
    oracle_bypeer = con.execute(f"""
        SELECT make_timestamp(CAST(floor(epoch(timestamp)/60)*60 AS BIGINT)*1000000) AS interval_time,
               peer_hash_id,
               count(CASE WHEN is_withdrawn THEN 1 END) AS withdraws,
               count(CASE WHEN NOT is_withdrawn THEN 1 END) AS updates
        FROM log
        WHERE timestamp >= TIMESTAMP '{hi60 - window}' AND timestamp < TIMESTAMP '{hi60}'
        GROUP BY 1, 2
    """).fetchdf()
    key = ["interval_time", "peer_hash_id"]
    a = bypeer.sort_values(key).reset_index(drop=True)
    b = oracle_bypeer.sort_values(key).reset_index(drop=True)[a.columns]
    assert a.astype(str).equals(b.astype(str)), f"\n{a}\nvs\n{b}"
    assert a.interval_time.nunique() >= 3  # scenario 11: >=3 buckets
    assert len(byasn) >= len(a)  # extra origin_as key fans out
    assert byprefix.interval_time.nunique() >= 2  # 120-s buckets

    # A8 re-agg over A1 output
    rates = R.peer_update_counts(
        spark.createDataFrame(bypeer), now, window).toPandas()
    assert set(rates.peer_hash_id) == {"peer0", "peer1"}
    assert (rates.max_updates >= rates.min_updates).all()


def test_views_layer(spark):
    from obmp_psql_spark.plans.views import register_views

    rib = build_rib(spark)
    batch_attrs = msgs(spark, "base_attribute", [
        dict(hash=h, peer_hash=p, origin="igp", as_path="65001 174",
             as_path_len=2, origin_asn=65001, next_hop="10.0.0.1", med=0,
             local_pref=100, is_atomic_agg=False, aggregator="",
             community_list="", ext_community_list="", large_community_list="",
             cluster_list="", originator_id="", nexthop_is_ipv4=True,
             timestamp=ts(0))
        for h, p in [("a1", "peerA"), ("a1", "peerB"), ("a1", "peerC"),
                     ("a2", "peerA"), ("a3", "peerB")]
    ])
    from obmp_psql_spark.ingest import apply_base_attribute, apply_peer, apply_router
    attrs = apply_base_attribute(empty(spark, "base_attrs"), batch_attrs)
    routers, _ = apply_router(
        empty(spark, "routers"), empty(spark, "bgp_peers"),
        msgs(spark, "router", [
            dict(action="init", hash="rt1", name="", ip_address="198.51.100.9",
                 description="", term_code=0, term_reason="", term_data="",
                 init_data="", bgp_id="198.51.100.9", collector_hash="c1",
                 timestamp=ts(0))]))
    from .test_bmp_ingest import peer_msg
    peers, rib, _ = apply_peer(
        empty(spark, "bgp_peers"), rib, routers,
        msgs(spark, "peer", [
            peer_msg("up", p, "rt1", ts(0), name="", peer_ip=f"192.0.2.{i}")
            for i, p in enumerate(["peerA", "peerB", "peerC"], start=1)]))

    register_views(spark, {
        "ip_rib": rib, "bgp_peers": peers, "base_attrs": attrs,
        "routers": routers, "info_asn": empty(spark, "info_asn"),
        "ip_rib_log": empty(spark, "ip_rib_log"),
    })
    routes = spark.sql("""
        SELECT router_name, peer_name, prefix, origin_as, as_path, is_withdrawn
        FROM v_ip_routes WHERE prefix = '10.1.0.0' ORDER BY peer_name
    """).collect()
    assert len(routes) == 3
    # router has empty name -> host(ip) fallback (P4)
    assert routes[0].router_name == "198.51.100.9"
    assert routes[0].as_path == [65001, 174]
    assert {r.is_withdrawn for r in routes} == {True, False}

    vp = spark.sql("SELECT peer_name, router_state FROM v_peers").collect()
    assert len(vp) == 3


def _consolidate_count_distinct(ip_rib, start_time):
    """The single-aggregation reference: three exact countDistinct
    columns over the raw rows."""
    rib = ip_rib.filter(F.col("origin_as") != 23456)
    if start_time is not None:
        rib = rib.filter((F.col("timestamp") >= F.lit(start_time))
                         | (F.col("first_added_timestamp") >= F.lit(start_time)))
    cd, peer = F.countDistinct, F.col("peer_hash_id")
    return rib.groupBy("prefix", F.col("origin_as").alias("recv_origin_as")) \
        .agg(F.max("prefix_len").alias("prefix_len"),
             F.min(F.col("is_withdrawn").cast("int")).cast("boolean")
             .alias("is_withdrawn"),
             F.max("timestamp").alias("timestamp"),
             F.min("first_added_timestamp").alias("first_added_timestamp"),
             cd(peer).alias("num_peers"),
             cd(F.when(~F.col("is_withdrawn"), peer)).alias("advertising_peers"),
             cd(F.when(F.col("is_withdrawn"), peer)).alias("withdrawn_peers"),
             F.max("prefix_start").alias("prefix_start"),
             F.max("prefix_end").alias("prefix_end"),
             F.max("prefix_base_hi").alias("prefix_base_hi"),
             F.max("prefix_base_lo").alias("prefix_base_lo"))


def test_consolidate_two_level_equals_count_distinct(spark):
    """The Expand-free consolidation equals three countDistincts on
    add-path duplicates (one peer, two rows, one prefix), a null
    peer, a null is_withdrawn, peers mixed withdrawn and advertised,
    and with or without a start time."""
    names = [f.name for f in TABLE_SCHEMAS["ip_rib"].fields]

    def row(peer, prefix, origin, withdrawn, minute, path_id=0):
        r = dict(hash_id=f"{peer}{prefix}{path_id}", peer_hash_id=peer,
                 base_attr_hash_id="a", is_ipv4=True, origin_as=origin,
                 prefix=prefix, prefix_len=16, timestamp=ts(minute),
                 first_added_timestamp=ts(0), is_withdrawn=withdrawn,
                 path_id=path_id, labels="", is_pre_policy=False,
                 is_adj_rib_in=True, prefix_start=minute,
                 prefix_end=minute + 1, prefix_base_hi=0,
                 prefix_base_lo=minute)
        return tuple(r[n] for n in names)

    rib = spark.createDataFrame([
        # add-path: p1 holds two paths, one withdrawn, one advertised
        row("p1", "10.1.0.0", 1, False, 5, path_id=1),
        row("p1", "10.1.0.0", 1, True, 6, path_id=2),
        row("p2", "10.1.0.0", 1, True, 7),
        row(None, "10.1.0.0", 1, False, 8),    # null peer
        row("p3", "10.1.0.0", 1, None, 9),     # null is_withdrawn
        row("p1", "10.2.0.0", 2, True, 2),     # all withdrawn
        row("p2", "10.2.0.0", 2, True, 3, path_id=1),
        row("p2", "10.2.0.0", 2, True, 4, path_id=2),
        row("p4", "10.3.0.0", 3, None, 6),     # only a null flag
        row(None, "10.3.0.0", 3, None, 7),
        row("p1", "10.4.0.0", 23456, False, 5),  # AS_TRANS dropped
    ], TABLE_SCHEMAS["ip_rib"])
    for start in (None, ts(4)):
        got = G.consolidate(rib, start)
        want = _consolidate_count_distinct(rib, start)
        assert got.columns == want.columns
        assert sorted(map(repr, got.collect())) == \
            sorted(map(repr, want.collect()))
        assert "Expand" not in \
            got._jdf.queryExecution().executedPlan().toString()
    counts = {r.prefix: (r.num_peers, r.advertising_peers, r.withdrawn_peers)
              for r in G.consolidate(rib, None).collect()}
    assert counts == {"10.1.0.0": (3, 1, 2), "10.2.0.0": (2, 0, 2),
                      "10.3.0.0": (1, 0, 0)}
