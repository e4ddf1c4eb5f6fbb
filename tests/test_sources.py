"""Source connectors: TSV message parse round-trip, geo CSV with
range->CIDR expansion, RPKI JSON, IRR RPSL paragraphs, whois block
parse, LS/L3VPN views over ingested state."""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F

from obmp_psql_spark.sources import lookups
from obmp_psql_spark.sources.tsv import parse_tsv, to_tsv

from .test_bmp_ingest import empty, msgs, ts, upx


def test_tsv_roundtrip_unicast_prefix(spark):
    orig = msgs(spark, "unicast_prefix", [
        upx("add", "r1", "p1", "attrA", ts(0)),
        upx("del", "r2", "p1", "", ts(1), labels="100 200"),
    ])
    raw = to_tsv(orig, "unicast_prefix")
    assert raw.columns == ["value"]
    parsed = parse_tsv(raw, "unicast_prefix")
    a = sorted(orig.collect(), key=lambda r: r.hash)
    b = sorted(parsed.collect(), key=lambda r: r.hash)
    assert a == b


def test_tsv_null_and_empty_coercions(spark):
    raw = spark.createDataFrame(
        [("add\th1\tp1\t\t1\t\t10.0.0.0\t24\t0\t\t\t1\t1\t2024-01-01 10:00:00.000000",)],
        "value string")
    row = parse_tsv(raw, "unicast_prefix").collect()[0]
    assert row.base_attr_hash == ""        # ParseNullAsEmpty
    assert row.origin_asn == 0             # ParseLongEmptyAsZero
    assert row.is_ipv4 is True and row.is_withdrawn is False
    assert row.timestamp == ts(0)


def test_geo_csv_range_to_cidr(spark, tmp_path):
    csv = tmp_path / "dbip.csv"
    csv.write_text(
        '1.0.0.0,1.0.0.255,OC,AU,Queensland,Brisbane,-27.4,153.0,Australia/Brisbane\n'
        '1.0.1.0,1.0.2.255,AS,CN,Fujian,Fuzhou,26.0,119.3,Asia/Shanghai\n'
        '2001:db8::,2001:db8::ffff,EU,NL,,Amsterdam,52.37,4.89,Europe/Amsterdam\n')
    geo = lookups.load_geo_dbip_csv(spark, str(csv))
    rows = {r.ip: r for r in geo.collect()}
    # v6 range (a clean /112) gets family 6 + two-long bounds
    assert rows["2001:db8::/112"].family == 6
    assert rows["2001:db8::/112"].start_hi == 2306139568115548160
    assert (rows["2001:db8::/112"].start_lo, rows["2001:db8::/112"].end_lo) == (0, 65535)
    assert rows["2001:db8::/112"].prefix_start is None  # v4-only column
    # 1.0.0.0-1.0.0.255 == exactly /24; 1.0.1.0-1.0.2.255 == /24 + /24... no:
    # 1.0.1.0/24 covers .1.0-.1.255; 1.0.2.0/24 covers .2.0-.2.255
    assert "1.0.0.0/24" in rows and rows["1.0.0.0/24"].country == "AU"
    assert "1.0.1.0/24" in rows and "1.0.2.0/24" in rows
    assert rows["1.0.0.0/24"].prefix_start == 16777216
    assert rows["1.0.0.0/24"].prefix_end == 16777471
    # defaults (1_base.sql:62-64) union in with catch-all bounds
    defaults = lookups.default_geo_rows(spark).collect()
    v4 = [r for r in defaults if r.family == 4][0]
    assert v4.prefix_start == 0 and v4.prefix_end == 4294967295


def test_rpki_json(spark, tmp_path):
    j = tmp_path / "export.json"
    j.write_text(
        '{"roas": [{"prefix": "10.0.0.0/8", "maxLength": 24, "asn": "AS65001"},'
        '{"prefix": "192.0.2.0/24", "maxLength": 24, "asn": "AS65002"}]}')
    roas = lookups.load_rpki_roas_json(spark, str(j), now=ts(0))
    rows = {r.prefix: r for r in roas.collect()}
    assert rows["10.0.0.0/8"].origin_as == 65001
    assert rows["10.0.0.0/8"].prefix_len == 8
    assert rows["10.0.0.0/8"].prefix_len_max == 24
    assert rows["192.0.2.0/24"].prefix_start == 3221225984


def test_irr_rpsl_paragraphs(spark, tmp_path):
    f = tmp_path / "radb.db"
    f.write_text(textwrap.dedent("""\
        route: 10.1.0.0/16
        descr: test network
        origin: AS65001
        source: RADB

        route: 10.2.0.0/16
        origin: AS3.1
        source: RADB

        % comment-only paragraph
        mntner: SOMEONE
        """))
    out = lookups.load_irr_rpsl(spark, str(f), now=ts(0))
    rows = {r.prefix: r for r in out.collect()}
    assert set(rows) == {"10.1.0.0", "10.2.0.0"}
    assert rows["10.1.0.0"].prefix_len == 16
    assert rows["10.1.0.0"].origin_as == 65001
    assert rows["10.2.0.0"].origin_as == 3 * 65536 + 1  # dot-notation F12
    assert rows["10.1.0.0"].descr == "test network"


def test_whois_parse_and_private_asn():
    block = "ASName: EXAMPLE-AS\nOrgName: Example Org\nCountry: US\nSource: ARIN\n"
    d = lookups.parse_whois_asn_block(block)
    assert d["as_name"] == "EXAMPLE-AS" and d["org_name"] == "Example Org"
    assert lookups.is_private_asn(23456) and lookups.is_private_asn(64500)
    assert not lookups.is_private_asn(174)


def test_l3vpn_views(spark):
    from obmp_psql_spark.ingest import apply_base_attribute, apply_peer, apply_router
    from obmp_psql_spark.ingest_ls import apply_l3vpn
    from obmp_psql_spark.plans.views import register_views

    vpn = dict(upx("add", "v1", "p1", "a1", ts(3)), rd="65001:100",
               ext_community_list="rt:65001:100")
    state, log = apply_l3vpn(empty(spark, "l3vpn_rib"),
                             msgs(spark, "l3vpn", [vpn]))
    routers, _ = apply_router(
        empty(spark, "routers"), empty(spark, "bgp_peers"),
        msgs(spark, "router", [dict(
            action="init", hash="rt1", name="r", ip_address="198.51.100.1",
            description="", term_code=0, term_reason="", term_data="",
            init_data="", bgp_id="", collector_hash="c1", timestamp=ts(0))]))
    from .test_bmp_ingest import peer_msg
    peers, _, _ = apply_peer(empty(spark, "bgp_peers"), empty(spark, "ip_rib"),
                             routers, msgs(spark, "peer",
                                           [peer_msg("up", "p1", "rt1", ts(1))]))
    attrs = apply_base_attribute(empty(spark, "base_attrs"), msgs(
        spark, "base_attribute", [dict(
            hash="a1", peer_hash="p1", origin="igp", as_path="65001",
            as_path_len=1, origin_asn=65001, next_hop="10.0.0.1", med=0,
            local_pref=100, is_atomic_agg=False, aggregator="",
            community_list="", ext_community_list="", large_community_list="",
            cluster_list="", originator_id="", nexthop_is_ipv4=True,
            timestamp=ts(0))]))
    register_views(spark, {
        "ip_rib": empty(spark, "ip_rib"), "bgp_peers": peers,
        "base_attrs": attrs, "routers": routers,
        "ip_rib_log": empty(spark, "ip_rib_log"),
        "info_asn": empty(spark, "info_asn"),
        "l3vpn_rib": state, "l3vpn_rib_log": log,
    })
    r = spark.sql("SELECT rd, prefix, ext_communities FROM v_l3vpn_routes").collect()
    assert len(r) == 1 and r[0].rd == "65001:100"
    assert r[0].ext_communities == "rt:65001:100"
    assert spark.sql("SELECT * FROM v_l3vpn_routes_history").count() == 0

def test_peeringdb_walk_offline_fixtures(spark):
    """S9: full 6-endpoint walk against fixture payloads — keying,
    POC role split, prefix protocol split, operational/null-IP skips,
    name assembly (peeringdb.py:118-360)."""
    import datetime as dt

    payloads = {
        "net": {"data": [
            {"id": 1, "name": "NetOne", "aka": "N1", "policy_general": "Open"},
            {"id": 2, "name": "NetTwo", "aka": "", "policy_general": "Selective"},
        ]},
        "ix": {"data": [
            {"id": 10, "city": "Amsterdam", "country": "NL",
             "region_continent": "Europe"},
        ]},
        "org": {"data": [{"id": 100, "name": "OrgOne"}]},
        "netixlan": {"data": [
            {"id": 1000, "ix_id": 10, "ixlan_id": 10, "net_id": 1, "asn": 64512,
             "name": "AMS-IX", "ipaddr4": "80.249.208.1", "ipaddr6": None,
             "speed": 10000, "is_rs_peer": True, "operational": True},
            # non-operational: skipped
            {"id": 1001, "ix_id": 10, "ixlan_id": 10, "net_id": 2, "asn": 64513,
             "name": "AMS-IX", "ipaddr4": "80.249.208.2", "ipaddr6": None,
             "speed": 1000, "is_rs_peer": False, "operational": False},
            # both IPs null: skipped
            {"id": 1002, "ix_id": 10, "ixlan_id": 10, "net_id": 2, "asn": 64514,
             "name": "AMS-IX", "ipaddr4": None, "ipaddr6": None,
             "speed": 1000, "is_rs_peer": False, "operational": True},
            # v6-only peer survives
            {"id": 1003, "ix_id": 10, "ixlan_id": 10, "net_id": 2, "asn": 64515,
             "name": "AMS-IX", "ipaddr4": None, "ipaddr6": "2001:7f8:1::1",
             "speed": 1000, "is_rs_peer": False, "operational": True},
        ]},
        "poc": {"data": [
            {"id": 5, "net_id": 1, "role": "NOC", "email": "noc@netone.example"},
            {"id": 6, "net_id": 1, "role": "Policy", "email": "pol@netone.example"},
        ]},
        "ixpfx": {"data": [
            {"id": 7, "ixlan_id": 10, "protocol": "IPv4", "prefix": "80.249.208.0/21"},
            {"id": 8, "ixlan_id": 10, "protocol": "IPv6", "prefix": "2001:7f8:1::/64"},
        ]},
    }
    urls = []

    def fetch(url):
        urls.append(url)
        return payloads[url.rsplit("/", 1)[1]]

    df = lookups.load_peeringdb(spark, fetch, now=dt.datetime(2024, 1, 1))
    rows = {r.peer_asn: r for r in df.collect()}
    assert [u.rsplit("/", 1)[1] for u in urls] == list(lookups.PEERINGDB_ENDPOINTS)
    assert set(rows) == {64512, 64515}
    r = rows[64512]
    assert r.peer_name == "NetOne | N1" and r.rs_peer is True
    assert r.ix_prefix_v4 == "80.249.208.0/21" and r.ix_prefix_v6 == "2001:7f8:1::/64"
    assert r.poc_noc_email == "noc@netone.example"
    assert r.poc_policy_email == "pol@netone.example"
    assert r.ix_city == "Amsterdam" and r.ix_country == "NL"
    assert rows[64515].peer_ipv6 == "2001:7f8:1::1"
    assert rows[64515].peer_ipv4 == "0.0.0.0"
    assert rows[64515].poc_noc_email == ""


def test_whois_walk_offline_fixtures(spark):
    """S10: registry fallback order, cymru DNS fallback, address ->
    country/state fixups, private-ASN filter, throttle cadence
    (gen_whois_asn.py:219-301)."""
    arin_block = "\n".join([
        "ASName: EXAMPLE-AS", "OrgName: Example Org",
        "Address: 1 Main St", "City: Springfield", "Country: US"])
    ripe_block = "\n".join([
        "as-name: RIPE-AS", "descr: Ripe Org",
        "address: Somewhere 1\naddress: NL"])
    calls = []

    def query_whois(asn, host):
        calls.append((asn, host))
        if asn == 1 and host == "whois.arin.net":
            return arin_block
        if asn == 2 and host == "whois.ripe.net":
            return ripe_block
        return ""  # everything else: no answer

    def dns_txt(name):
        if name == "AS3.asn.cymru.com":
            return '3 | US | arin | 2001-01-01 | CYMRU-AS - Cymru Org'
        return None

    pauses = []
    recs = lookups.walk_whois(
        [1, 2, 3, 4], query_whois, dns_txt=dns_txt,
        throttle=lambda: pauses.append(1), max_per_interval=2)
    by_asn = {r["asn"]: r for r in recs}
    assert set(by_asn) == {1, 2, 3}  # AS4 answered nowhere
    assert by_asn[1]["source"] == "arin" and by_asn[1]["as_name"] == "EXAMPLE-AS"
    # arin answered on the first source: no further registries tried
    assert (1, "whois.ripe.net") not in calls
    assert by_asn[2]["source"] == "ripe"
    assert by_asn[3]["source"] == "cymru-arin"
    assert by_asn[3]["as_name"] == "CYMRU-AS" and by_asn[3]["org_name"] == "Cymru Org"
    assert len(pauses) == 2  # 4 lookups / interval of 2

    df = lookups.load_info_asn(
        spark, recs + [{"asn": 64512, "as_name": "PRIVATE"}])
    got = {r.asn: r for r in df.collect()}
    assert set(got) == {1, 2, 3}  # P3: private ASN filtered
    assert got[1].country == "US" and got[1].city == "Springfield"


def test_geo_maxmind_csv_variant(spark, tmp_path):
    """S6 MaxMind format: locations join, unknown-geoname drop,
    v4+v6 families with unified bounds (geo-csv-to-psql.py:209-302)."""
    loc = tmp_path / "locs.csv"
    loc.write_text(
        "geoname_id,locale_code,continent_code,continent_name,country_iso_code,"
        "country_name,subdivision_1_iso_code,subdivision_1_name,"
        "subdivision_2_iso_code,subdivision_2_name,city_name,metro_code,"
        "time_zone,is_in_european_union\n"
        "100,en,EU,Europe,NL,Netherlands,NH,North Holland,,,Amsterdam,,"
        "Europe/Amsterdam,1\n")
    b4 = tmp_path / "blocks4.csv"
    b4.write_text(
        "network,geoname_id,registered_country_geoname_id,represented_country_"
        "geoname_id,is_anonymous_proxy,is_satellite_provider,postal_code,"
        "latitude,longitude,accuracy_radius\n"
        "1.0.0.0/24,100,,,0,0,,52.37,4.89,10\n"
        "2.0.0.0/24,999,,,0,0,,0.0,0.0,10\n")  # unknown geoname: dropped
    b6 = tmp_path / "blocks6.csv"
    b6.write_text(
        "network,geoname_id,registered_country_geoname_id,represented_country_"
        "geoname_id,is_anonymous_proxy,is_satellite_provider,postal_code,"
        "latitude,longitude,accuracy_radius\n"
        "2001:db8::/32,100,,,0,0,,52.37,4.89,10\n")
    geo = lookups.load_geo_maxmind_csv(spark, str(loc), str(b4), str(b6))
    rows = {r.ip: r for r in geo.collect()}
    assert set(rows) == {"1.0.0.0/24", "2001:db8::/32"}
    v4 = rows["1.0.0.0/24"]
    assert v4.family == 4 and v4.city == "Amsterdam" and v4.country == "NL"
    assert v4.prefix_start == 16777216 and v4.prefix_end == 16777471
    assert (v4.start_hi, v4.start_lo) == (0, 16777216)
    v6 = rows["2001:db8::/32"]
    assert v6.family == 6 and v6.stateprov == "North Holland"
    assert v6.start_hi == 2306139568115548160 and v6.start_lo == 0
    assert v6.end_hi == 2306139572410515455 and v6.end_lo == -1
    assert v6.masklen == 32


def test_all_pairs_guards(spark):
    """Unblocked cross-join paths refuse to run without an explicit
    opt-in (scale guard)."""
    import pytest

    from obmp_psql_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="all-pairs"):
        similarity.embedding_neardup_pairs(e)
    # explicit opt-in still works for probe sets
    small = e.limit(20)
    assert similarity.embedding_neardup_pairs(
        small, allow_full_cross=True, threshold=0.0).count() > 0
    with pytest.raises(ValueError, match="max_queries"):
        similarity.cosine_topk(e, e, k=2, max_queries=10)
