"""Streaming pipeline: file-stream ingest through foreachBatch into
the state store, restart idempotency, LS/L3VPN merge semantics, and
watermarked late-data handling."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from obmp_psql_spark.ingest_ls import apply_l3vpn, apply_ls_link, apply_ls_node
from obmp_psql_spark.schemas import MESSAGE_SCHEMAS
from obmp_psql_spark.state import TxnStateStore
from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

from .test_bmp_ingest import empty, msgs, ts, upx


def test_file_stream_ingest_and_restart(spark, tmp_path):
    src_dir = str(tmp_path / "msgs")
    ckpt = str(tmp_path / "ckpt")
    store_dir = str(tmp_path / "store")
    os.makedirs(src_dir)

    batch1 = msgs(spark, "unicast_prefix", [
        upx("add", "r1", "p1", "attrA", ts(0)),
        upx("add", "r2", "p1", "attrB", ts(0)),
    ])
    batch1.coalesce(1).write.mode("append").parquet(src_dir)

    store = TxnStateStore(spark, store_dir)
    ing = BmpStreamingIngest(spark, store)
    q = ing.start_file_stream("unicast_prefix", src_dir, ckpt)
    q.awaitTermination()
    assert store.read("ip_rib").count() == 2
    assert store.read("ip_rib_log").count() == 0  # inserts don't log

    # second wave: withdraw r1 -> restartable stream picks up only new files
    msgs(spark, "unicast_prefix", [
        upx("del", "r1", "p1", "", ts(1)),
    ]).coalesce(1).write.mode("append").parquet(src_dir)
    q = ing.start_file_stream("unicast_prefix", src_dir, ckpt)
    q.awaitTermination()
    rib = {r.hash_id: r for r in store.read("ip_rib").collect()}
    assert rib["r1"].is_withdrawn is True
    assert rib["r1"].base_attr_hash_id == "attrA"  # withdraw kept attrs
    assert store.read("ip_rib_log").count() == 1

    # restart with no new data: checkpoint replays nothing, batch-id
    # guard keeps state identical
    q = ing.start_file_stream("unicast_prefix", src_dir, ckpt)
    q.awaitTermination()
    assert store.read("ip_rib").count() == 2
    assert store.read("ip_rib_log").count() == 1


def ls_node_msg(h, attr, wd, t, **kw):
    base = dict(hash=h, peer_hash="p1", base_attr_hash=attr, sequence=1,
                peer_asn=65001, ls_id=1, igp_router_id="0100.0a0b.0c01",
                ospf_area_id="", protocol="IS-IS_L2", router_id="10.0.0.1",
                isis_area_id="49.0001", flags="", name="node1", mt_ids="0 2",
                sr_capabilities="", is_withdrawn=wd, timestamp=t)
    base.update(kw)
    return base


def test_ls_node_withdraw_semantics(spark):
    state = empty(spark, "ls_nodes")
    state, log = apply_ls_node(state, msgs(spark, "ls_node", [
        ls_node_msg("n1", "attrA", False, ts(0))]))
    state, log = apply_ls_node(state.cache(), msgs(spark, "ls_node", [
        ls_node_msg("n1", "", True, ts(1), name="SHOULD-NOT-APPLY", peer_asn=999)]))
    row = state.collect()[0]
    assert row.is_withdrawn is True
    assert row.base_attr_hash_id == "attrA"  # kept on withdraw
    assert row.name == "node1"  # not in SET list -> never updated
    assert row.asn == 65001
    lrows = log.collect()
    assert len(lrows) == 1
    assert lrows[0].base_attr_hash_id == "attrA"  # old value logged
    assert lrows[0].name == "node1"  # old mutable fields on withdraw


def ls_link_msg(h, attr, wd, t, **kw):
    base = dict(hash=h, peer_hash="p1", base_attr_hash=attr, sequence=1,
                mt_id=0, interface_ip="10.0.0.1", neighbor_ip="10.0.0.2",
                protocol="IS-IS_L2", local_link_id=1, remote_link_id=2,
                local_node_hash="n1", remote_node_hash="n2", admin_group=0,
                max_link_bw=10000, max_resv_bw=8000, unreserved_bw="8000",
                te_default_metric=10, link_protection="", mpls_proto_mask="LDP",
                igp_metric=10, srlg="", link_name="lnk", igp_router_id="x",
                router_id="10.0.0.1", remote_igp_router_id="y",
                remote_router_id="10.0.0.2", local_node_asn=65001,
                remote_node_asn=65001, epe_peer_node_sid="",
                adjacency_segment_id="", is_withdrawn=wd, timestamp=t)
    base.update(kw)
    return base


def test_ls_link_withdraw_keeps_metrics(spark):
    state = empty(spark, "ls_links")
    state, _ = apply_ls_link(state, msgs(spark, "ls_link", [
        ls_link_msg("l1", "attrA", False, ts(0))]))
    state, log = apply_ls_link(state.cache(), msgs(spark, "ls_link", [
        ls_link_msg("l1", "", True, ts(1), igp_metric=999, max_link_bw=0)]))
    row = state.collect()[0]
    assert row.igp_metric == 10 and row.max_link_bw == 10000
    assert row.is_withdrawn is True
    assert log.collect()[0].igp_metric == 10  # old values logged


def test_l3vpn_merge_and_log(spark):
    state = empty(spark, "l3vpn_rib")
    vpn = lambda a, attr, t, rd="65001:100": dict(  # noqa: E731
        upx(a, "v1", "p1", attr, t), rd=rd,
        ext_community_list="rt:65001:100")
    state, log = apply_l3vpn(state, msgs(spark, "l3vpn", [vpn("add", "attrA", ts(0))]))
    state, log = apply_l3vpn(state.cache(), msgs(spark, "l3vpn", [
        vpn("del", "", ts(1), rd="65001:100")]))
    row = state.collect()[0]
    assert row.base_attr_hash_id == "attrA" and row.is_withdrawn is True
    assert row.rd == "65001:100"
    lrows = log.collect()
    assert len(lrows) == 1 and lrows[0].rd == "65001:100"
    assert lrows[0].base_attr_hash_id == "attrA"


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """T7/T9: watermarked window agg in append mode finalizes windows
    across micro-batches and drops rows older than the watermark."""
    src_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src_dir)
    sch = MESSAGE_SCHEMAS["unicast_prefix"]

    # wave 1: on-time rows, minutes 0..25
    msgs(spark, "unicast_prefix", [
        upx("add", f"h{i}", "p1", "a", ts(i)) for i in range(0, 30, 5)
    ]).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(sch).parquet(src_dir)
        .withWatermark("timestamp", "10 minutes")
        .groupBy(F.window("timestamp", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (stream.writeStream.outputMode("append").format("memory")
         .queryName("wm_out").option("checkpointLocation", ckpt)
         .trigger(processingTime="500 milliseconds").start())
    try:
        q.processAllAvailable()  # batch 1: watermark -> 10:15 afterwards

        # wave 2: a too-late row (minute 1, behind watermark) + fresh row
        msgs(spark, "unicast_prefix", [
            upx("add", "late", "p1", "a", ts(1)),
            upx("add", "new", "p1", "a", ts(31)),
        ]).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()  # batch 2: emits windows < 10:15

        # wave 3: push watermark further so more windows finalize
        msgs(spark, "unicast_prefix", [
            upx("add", "newer", "p1", "a", ts(45)),
        ]).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.ws.minute: r.n for r in spark.table("wm_out").collect()}
    # windows before the batch-1 watermark (10:15) are finalized
    assert {0, 5, 10}.issubset(rows.keys())
    # the late minute-1 row was dropped: window [0,5) holds ONLY h0
    assert rows[0] == 1
    # wave-3 watermark (10:35) finalized the wave-2 window [30,35)
    assert rows.get(30) == 1


# ---------------------------------------------------------------------------
# S1/T4 executed evidence: the post-load() Kafka path over a stand-in
# ---------------------------------------------------------------------------

def test_kafka_reader_options_wiring():
    """Pins the connector option map without the jar: topic name
    derivation, offset reset default, and the int->str threading of
    maxOffsetsPerTrigger (Kafka options must be strings — an int
    silently misconfigures some connector versions)."""
    from obmp_psql_spark.sources.kafka import TOPIC_PREFIX, reader_options

    o = reader_options("unicast_prefix", "k1:9092,k2:9092",
                       max_offsets_per_trigger=1234)
    assert o["subscribe"] == TOPIC_PREFIX + "unicast_prefix" \
        == "openbmp.parsed.unicast_prefix"
    assert o["kafka.bootstrap.servers"] == "k1:9092,k2:9092"
    assert o["startingOffsets"] == "earliest"
    assert o["maxOffsetsPerTrigger"] == "1234"
    assert all(isinstance(v, str) for v in o.values())
    o2 = reader_options("peer", "b:9092", starting_offsets="latest")
    assert o2["subscribe"] == "openbmp.parsed.peer"
    assert o2["startingOffsets"] == "latest"


def test_kafka_shaped_stream_e2e(spark, tmp_path):
    """The ENTIRE post-load() Kafka path executes: records with the
    connector's schema (key/value BINARY, topic, partition, offset,
    timestamp) -> decode_kafka_records (TSV parse + typed coercion)
    -> foreachBatch dedup+merge into the txn store. Driven from a
    file-source stand-in, which is byte-for-byte the same plan the
    connector stream feeds — only load() itself differs. Restart on
    the same checkpoint replays nothing (T8)."""
    src_dir = str(tmp_path / "krecords")
    ckpt = str(tmp_path / "kckpt")
    store_dir = str(tmp_path / "kstore")

    from obmp_psql_spark.sources.tsv import to_tsv

    def as_records(rows):
        return to_tsv(msgs(spark, "unicast_prefix", rows),
                      "unicast_prefix").select(
            F.encode(F.lit("p1"), "UTF-8").alias("key"),
            F.encode(F.col("value"), "UTF-8").alias("value"),
            F.lit("openbmp.parsed.unicast_prefix").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.monotonically_increasing_id().alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).cast("int").alias("timestampType"),
        )

    def run_wave():
        raw = spark.readStream.schema(
            spark.read.parquet(src_dir).schema).parquet(src_dir)
        q = ing.start_kafka_shaped_stream("unicast_prefix", raw, ckpt,
                                          available_now=True)
        q.awaitTermination()

    as_records([
        upx("add", "r1", "p1", "attrA", ts(0)),
        upx("add", "r2", "p1", "attrB", ts(0)),
        # within-key duplicate: dedup-latest keeps the newest
        upx("add", "r2", "p1", "attrC", ts(2)),
    ]).coalesce(1).write.mode("append").parquet(src_dir)
    store = TxnStateStore(spark, store_dir)
    ing = BmpStreamingIngest(spark, store)
    run_wave()

    # second wave over the SAME checkpoint: withdraw merges against
    # the committed state from wave 1
    as_records([upx("del", "r1", "p1", "", ts(3))]) \
        .coalesce(1).write.mode("append").parquet(src_dir)
    run_wave()

    rib = {r.hash_id: r for r in store.read("ip_rib").collect()}
    assert set(rib) == {"r1", "r2"}
    assert rib["r1"].is_withdrawn is True
    assert rib["r1"].base_attr_hash_id == "attrA"  # withdraw kept attrs
    assert rib["r2"].is_withdrawn is False
    assert rib["r2"].base_attr_hash_id == "attrC"  # in-batch dedup-latest
    assert rib["r2"].origin_as == 65001  # typed coercion survived TSV

    # restart over the same checkpoint: no new records, no state change
    run_wave()
    assert store.read("ip_rib").count() == 2
    assert store.read("ip_rib_log").count() == 1  # only the withdraw logged
