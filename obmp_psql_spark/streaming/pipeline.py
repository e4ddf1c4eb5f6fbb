"""Structured Streaming ingest (reference hot path: Kafka consumer ->
writer threads -> bulk upsert, ConsumerRunnable.java +
WriterRunnable.java; SURVEY §2.8, §3.1).

Spark shape: one stream per message type ->
``foreachBatch(apply_<type>)`` against the state store. The micro
-batch IS the reference's 300 ms/3000-row writer batch (T1); the
within-batch ``dedup_latest`` in each apply function IS its
state-compression map (T2/A9); checkpointing replaces Kafka group
offsets (T8); MERGE idempotency + the batch-id guard replace the
attr dedup cache (T5/J10).

Kafka is the production source (sources/kafka.py); tests drive the
same pipeline from a file stream — the sink logic is identical, which
is the point of foreachBatch.

Ordering note (SURVEY §7 known-hard #2): the reference serializes
per-peer via sticky consumer threads; here control messages
(collector/router/peer) are applied by their own streams, and within
a micro-batch the apply functions handle ordering (e.g. the peer
flush uses timestamp guards, so a prefix newer than the peer-up
survives regardless of apply order). Cross-batch eventual consistency
matches the reference's cross-thread behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import ingest, ingest_ls
from ..schemas import MESSAGE_SCHEMAS
from ..state import TxnStateStore, stage_concurrently


class BmpStreamingIngest:
    """foreachBatch glue: message batch -> apply -> state store.

    Each micro-batch is ONE store transaction: the change-log append,
    the state replace, and the (msg_type, batch_id) txn action commit
    atomically — mirroring the reference, where the bulk upsert and
    its trigger-emitted log rows share one Postgres transaction
    (WriterRunnable.java:155-176 + 9_triggers.sql). A crash anywhere
    before the commit record leaves the previous snapshot intact and
    the replayed batch re-applies cleanly; a replay after the commit
    is skipped by the txn action (T5/T8 exactly-once)."""

    RIB_KEY = ["peer_hash_id", "hash_id"]

    def __init__(self, spark: SparkSession, store: TxnStateStore,
                 geo_ip: DataFrame | None = None,
                 rib_buckets: int | None = None,
                 family_buckets: int | None = None):
        """``rib_buckets``: hash-bucket the ip_rib state on its merge
        key so each micro-batch reads and rewrites only the buckets its
        keys touch (the lakehouse matched-file rewrite). What that saves
        depends on how many buckets a batch touches: keys hash
        uniformly, so a batch of k keys touches about
        n * (1 - (1 - 1/n)**k) of n buckets, and any batch with many
        more keys than buckets still rewrites the whole table. Every
        traced perfbench ``rib`` batch touches all of its buckets
        (``state.bucket_touch_ratio`` 1.0); the merge is O(batch) only
        when buckets outnumber batch keys. None = monolithic replace.
        ``family_buckets``: same for the LS/L3VPN state tables
        (l3vpn_rib is the other table that reaches RIB scale)."""
        self.spark = spark
        self.store = store
        self.geo_ip = geo_ip
        self.rib_buckets = rib_buckets
        self.family_buckets = family_buckets

    def _applied(self, name: str, batch_id: int) -> bool:
        return self.store.last_txn_version(name) >= batch_id

    # -- per-type batch handlers ---------------------------------------
    def unicast_prefix_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("unicast_prefix", batch_id):
            return
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ..state import bucket_of

        # materialize the parsed+deduped batch ONCE; bucket pruning,
        # the log write, and the state write all reuse it instead of
        # re-running the parse stage per job
        src = ingest.prepare_unicast_prefix(batch)
        if self.rib_buckets:
            # bucket pruning (the lakehouse MERGE file-pruning step):
            # the state buckets the batch keys touch, at most
            # rib_buckets of them, observed in the materializing job
            obs = Observation()
            src = src.observe(obs, F.collect_set(
                bucket_of(self.RIB_KEY, self.rib_buckets)).alias("b")
            ).localCheckpoint()
            touched = sorted(obs.get["b"])
            state = self.store.read_buckets("ip_rib", touched)
        else:
            src = src.localCheckpoint()
            state = self.store.read("ip_rib")
        # materialize the merge join once: the txn writes BOTH log
        # and state, which would otherwise each re-run the full-outer
        # merge (state scan + shuffle) as separate jobs
        new_state, log = ingest.apply_unicast_prefix(
            state, src, prepared=True,
            materialize_join=lambda df: df.localCheckpoint())
        with self.store.transaction("unicast_prefix", batch_id) as txn:
            # hour partitions: Timescale 1-hour chunks (1_base.sql:367)
            def stage_log():
                txn.append(
                    "ip_rib_log",
                    log.withColumn("log_hour",
                                   F.date_trunc("hour", "timestamp")),
                    partition_by="log_hour")

            def stage_state():
                if self.rib_buckets:
                    txn.merge_buckets("ip_rib", new_state, self.RIB_KEY,
                                      self.rib_buckets, touched)
                else:
                    txn.replace("ip_rib", new_state)

            stage_concurrently(stage_log, stage_state)

    def base_attribute_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("base_attribute", batch_id):
            return
        merged = ingest.apply_base_attribute(
            self.store.read("base_attrs"), batch)
        with self.store.transaction("base_attribute", batch_id) as txn:
            txn.replace("base_attrs", merged)

    def peer_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("peer", batch_id):
            return
        peers, rib, log = ingest.apply_peer(
            self.store.read("bgp_peers"), self.store.read("ip_rib"),
            self.store.read("routers"), batch, self.geo_ip)
        with self.store.transaction("peer", batch_id) as txn:
            txn.append("peer_event_log", log)
            txn.replace("bgp_peers", peers)
            # the peer-up flush (P9) deletes rows across arbitrary
            # buckets, so this is a full rewrite either way; keep the
            # bucketed layout so later merges stay partial
            if self.rib_buckets:
                txn.replace_bucketed("ip_rib", rib, self.RIB_KEY,
                                     self.rib_buckets)
            else:
                txn.replace("ip_rib", rib)

    def router_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("router", batch_id):
            return
        routers, peers = ingest.apply_router(
            self.store.read("routers"), self.store.read("bgp_peers"),
            batch, self.geo_ip)
        with self.store.transaction("router", batch_id) as txn:
            txn.replace("routers", routers)
            txn.replace("bgp_peers", peers)

    def collector_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("collector", batch_id):
            return
        collectors, routers = ingest.apply_collector(
            self.store.read("collectors"), self.store.read("routers"), batch)
        with self.store.transaction("collector", batch_id) as txn:
            txn.replace("collectors", collectors)
            txn.replace("routers", routers)

    def bmp_stat_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("bmp_stat", batch_id):
            return
        with self.store.transaction("bmp_stat", batch_id) as txn:
            txn.append("stat_reports", ingest.prepare_bmp_stat(batch))

    def _rib_family_batch(self, name: str, table: str, log_table: str,
                          apply_fn, batch: DataFrame, batch_id: int) -> None:
        if self._applied(name, batch_id):
            return
        from pyspark.sql import functions as F

        from ..state import bucket_of

        n = self.family_buckets
        if n:
            # bucket key order must mirror the state-side key order
            # exactly (Murmur3 is order-sensitive)
            touched = [r[0] for r in batch.select(
                bucket_of([F.col("hash"), F.col("peer_hash")], n)
                .alias("b")).distinct().collect()]
            state = self.store.read_buckets(table, touched)
        else:
            state = self.store.read(table)
        state, log = apply_fn(
            state, batch,
            materialize=lambda df: df.localCheckpoint(),
            materialize_join=lambda df: df.localCheckpoint())
        with self.store.transaction(name, batch_id) as txn:
            def stage_state():
                if n:
                    txn.merge_buckets(table, state,
                                      ["hash_id", "peer_hash_id"], n,
                                      touched)
                else:
                    txn.replace(table, state)

            stage_concurrently(lambda: txn.append(log_table, log),
                               stage_state)

    def ls_node_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_family_batch("ls_node", "ls_nodes", "ls_nodes_log",
                               ingest_ls.apply_ls_node, batch, batch_id)

    def ls_link_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_family_batch("ls_link", "ls_links", "ls_links_log",
                               ingest_ls.apply_ls_link, batch, batch_id)

    def ls_prefix_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_family_batch("ls_prefix", "ls_prefixes", "ls_prefixes_log",
                               ingest_ls.apply_ls_prefix, batch, batch_id)

    def l3vpn_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_family_batch("l3vpn", "l3vpn_rib", "l3vpn_rib_log",
                               ingest_ls.apply_l3vpn, batch, batch_id)

    HANDLERS = {
        "unicast_prefix": unicast_prefix_batch,
        "base_attribute": base_attribute_batch,
        "peer": peer_batch,
        "router": router_batch,
        "collector": collector_batch,
        "bmp_stat": bmp_stat_batch,
        "ls_node": ls_node_batch,
        "ls_link": ls_link_batch,
        "ls_prefix": ls_prefix_batch,
        "l3vpn": l3vpn_batch,
    }

    def start_kafka_shaped_stream(self, msg_type: str, raw: DataFrame,
                                  checkpoint_dir: str,
                                  available_now: bool = False,
                                  trigger_interval: str = "1 second"):
        """Everything AFTER the connector ``load()``: a streaming
        DataFrame with Kafka's record schema (key BINARY, value
        BINARY, topic STRING, timestamp, ...) -> decode_kafka_records
        -> the same foreachBatch handler as every other source. The
        production ``start_kafka_stream`` delegates here; tests drive
        the identical path from a file-source stand-in exposing the
        same columns, so the TSV decode + dedup + merge chain has
        executed E2E evidence even without the connector jar
        (ConsumerRunnable.java:253-308 is the reference shape)."""
        from ..sources.kafka import decode_kafka_records

        handler = self.HANDLERS[msg_type].__get__(self)
        typed = decode_kafka_records(raw, msg_type).drop("kafka_key")
        trigger = {"availableNow": True} if available_now \
            else {"processingTime": trigger_interval}
        return (
            typed.writeStream
            .foreachBatch(handler)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def start_kafka_stream(self, msg_type: str, bootstrap_servers: str,
                           checkpoint_dir: str, **kafka_opts):
        """Production entry point: Kafka topic -> parse_tsv -> the
        same foreachBatch handler as the file stream (S1 + S2 + T8).
        Requires the spark-sql-kafka connector on the classpath —
        the ``load()`` inside read_stream is the only line of this
        path without in-container executed evidence."""
        from ..sources.kafka import reader_options

        raw = (
            self.spark.readStream.format("kafka")
            .options(**reader_options(msg_type, bootstrap_servers,
                                      **kafka_opts))
            .load()
        )
        return self.start_kafka_shaped_stream(
            msg_type, raw, checkpoint_dir)

    def start_file_stream(self, msg_type: str, source_dir: str,
                          checkpoint_dir: str, available_now: bool = True,
                          trigger_interval: str = "1 second"):
        """Drive the pipeline from a parquet file stream (tests /
        backfill). The production Kafka entry point builds the same
        writeStream with sources.kafka.read_stream instead.
        ``trigger_interval`` sets the micro-batch cadence for the
        continuous (``available_now=False``) mode — the freshness
        knob measured by the ``latency`` family of tools/probe.py."""
        handler = self.HANDLERS[msg_type].__get__(self)
        reader = (
            self.spark.readStream.schema(MESSAGE_SCHEMAS[msg_type])
            .parquet(source_dir)
        )
        trigger = {"availableNow": True} if available_now \
            else {"processingTime": trigger_interval}
        return (
            reader.writeStream
            .foreachBatch(handler)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )
