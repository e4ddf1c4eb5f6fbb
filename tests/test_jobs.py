"""Scheduled-job layer: watermark bookkeeping, stats merge-replace,
retention purge, JDBC statement generation."""

from __future__ import annotations

import datetime as dt

from obmp_psql_spark.ingest import apply_unicast_prefix
from obmp_psql_spark.jobs import JobRunner
from obmp_psql_spark.sources.jdbc import upsert_statement
from obmp_psql_spark.state import TxnStateStore

from .test_bmp_ingest import empty, msgs, ts, upx


def _seed_store(spark, root):
    store = TxnStateStore(spark, str(root))
    rib, log0 = apply_unicast_prefix(empty(spark, "ip_rib"), msgs(
        spark, "unicast_prefix",
        [upx("add", f"h{i}", f"p{i % 2}", f"a{i}", ts(0, i)) for i in range(20)]))
    rib, log1 = apply_unicast_prefix(rib, msgs(
        spark, "unicast_prefix",
        [upx("del", f"h{i}", f"p{i % 2}", "", ts(2, i)) for i in range(0, 20, 2)]))
    store.overwrite("ip_rib", rib)
    store.append("ip_rib_log", log0.unionByName(log1))
    store.overwrite("info_route", empty(spark, "info_route"))
    store.overwrite("rpki_validator", empty(spark, "rpki_validator"))
    return store


def test_job_runner_end_to_end(spark, tmp_path):
    store = _seed_store(spark, tmp_path)
    jr = JobRunner(store)
    now = ts(10)

    jr.run_chg_stats(now=now, window=dt.timedelta(minutes=10))
    bypeer = store.read("stats_chg_bypeer")
    rows = {r.peer_hash_id: r for r in bypeer.collect()}
    # the withdraw wave hits only even i -> all on p0 (adds are
    # inserts, which never log)
    assert set(rows) == {"p0"} and rows["p0"].withdraws == 10

    # global rib with watermark persistence
    assert jr.get_watermark("global_ip_rib") is None
    jr.run_global_rib(now=now)
    assert jr.get_watermark("global_ip_rib") == now
    glob = store.read("global_ip_rib")
    assert glob.count() == 1  # single (prefix, origin) across peers
    g = glob.collect()[0]
    assert g.num_peers == 2 and g.withdrawn_peers == 1
    assert g.advertising_peers == 1 and g.is_withdrawn is False

    # second run with the stored watermark is a no-op on unchanged data
    jr.run_global_rib(now=now + dt.timedelta(minutes=5))
    assert store.read("global_ip_rib").count() == 1

    jr.run_peer_rib_counts(now=now)
    prc = {r.peer_hash_id: r for r in store.read("stats_peer_rib").collect()}
    assert set(prc) == {"p1"}  # p0 fully withdrawn -> no active rows
    assert prc["p1"].v4_prefixes == 10

    # retention: everything older than the horizon drops from the log
    before = store.read("ip_rib_log").count()
    jr.run_retention(now=ts(3),
                     policies=[("ip_rib_log", "timestamp", dt.timedelta(minutes=2))])
    after = store.read("ip_rib_log").count()
    assert before == 10 and after == 10  # all within 2 min of ts(3)
    jr.run_retention(now=ts(3) + dt.timedelta(days=1),
                     policies=[("ip_rib_log", "timestamp", dt.timedelta(minutes=2))])
    assert store.read("ip_rib_log").count() == 0


def test_global_rib_bucketed_incremental_matches_monolithic(spark, tmp_path):
    """run_global_rib(buckets=N) — migrate, then partial bucket
    merges per watermark slice — must equal the monolithic job after
    every run, and later runs must leave untouched buckets' files
    alone."""
    def seed(root):
        store = _seed_store(spark, root)
        return store, JobRunner(store)

    s_mono, j_mono = seed(tmp_path / "mono")
    s_bkt, j_bkt = seed(tmp_path / "bkt")

    def snap(store):
        return {(r.prefix, r.recv_origin_as):
                (r.num_peers, r.advertising_peers, r.withdrawn_peers,
                 r.is_withdrawn, r.timestamp)
                for r in store.read("global_ip_rib").collect()}

    # run 1: bucketed path migrates (empty monolithic seed -> layout)
    j_mono.run_global_rib(now=ts(10))
    j_bkt.run_global_rib(now=ts(10), buckets=8)
    assert snap(s_mono) == snap(s_bkt)
    assert s_bkt.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 8)

    # new churn lands in ip_rib: one prefix flips on one peer
    for store in (s_mono, s_bkt):
        upd, _ = apply_unicast_prefix(store.read("ip_rib"), msgs(
            spark, "unicast_prefix",
            [upx("add", "h1", "p1", "aNEW", ts(20))]))
        store.overwrite("ip_rib", upd)

    before_map = s_bkt.bucket_map("global_ip_rib")
    j_mono.run_global_rib(now=ts(25))
    j_bkt.run_global_rib(now=ts(25))  # spec remembered, partial merge
    assert snap(s_mono) == snap(s_bkt)
    after_map = s_bkt.bucket_map("global_ip_rib")
    changed = {b for b in after_map
               if after_map[b] != before_map.get(b)}
    # the single-key churn touches exactly one bucket
    assert len(changed) == 1
    # retention keeps the bucketed layout
    j_bkt.run_retention(now=ts(30))
    assert s_bkt.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 8)

    # full resync (sync_global_ip_rib, 2_aggregations.sql:280-353):
    # the incremental pass REPLACES counts from the slice-only
    # aggregate (faithful to the reference's ON CONFLICT update), so
    # counts drift for partially-updated prefixes until a sync
    # rebuilds them from the whole RIB — on both layouts identically
    j_mono.run_global_rib(now=ts(40), full_sync=True)
    j_bkt.run_global_rib(now=ts(40), full_sync=True)
    assert snap(s_bkt) == snap(s_mono)
    # sync re-counted ALL peers of the churned prefix
    assert snap(s_bkt)[("10.1.0.0", 65001)][0] == 2  # num_peers
    assert s_bkt.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 8)


def test_global_rib_incremental_churn_keeps_layout(spark, tmp_path):
    """The default incremental merge takes concentrated and uniform
    churn on a bucketed table and keeps its layout (direct arm
    measurement found no churn shape where the full rebuild is
    cheaper, BENCH_churn_auto.json); full_sync stays the explicit
    semantic resync."""
    store = TxnStateStore(spark, str(tmp_path / "auto"))
    rib, _ = apply_unicast_prefix(empty(spark, "ip_rib"), msgs(
        spark, "unicast_prefix",
        [upx("add", f"h{i}", f"p{i % 2}", f"a{i}", ts(0, i),
             prefix=f"10.{i}.0.0") for i in range(40)]))
    store.overwrite("ip_rib", rib)
    store.overwrite("info_route", empty(spark, "info_route"))
    store.overwrite("rpki_validator", empty(spark, "rpki_validator"))
    jr = JobRunner(store)
    jr.run_global_rib(now=ts(10), buckets=8)  # establish the layout

    # concentrated churn: 1 of 40 keys (one bucket)
    upd, _ = apply_unicast_prefix(store.read("ip_rib"), msgs(
        spark, "unicast_prefix",
        [upx("add", "h1", "p1", "aC", ts(20), prefix="10.1.0.0")]))
    store.overwrite("ip_rib", upd)
    jr.run_global_rib(now=ts(25))

    # uniform replay-shaped churn: every key updates
    upd, _ = apply_unicast_prefix(store.read("ip_rib"), msgs(
        spark, "unicast_prefix",
        [upx("add", f"h{i}", f"p{i % 2}", f"aU{i}", ts(30, i),
             prefix=f"10.{i}.0.0") for i in range(40)]))
    store.overwrite("ip_rib", upd)
    jr.run_global_rib(now=ts(35))
    assert store.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 8)

    # the explicit resync override still rebuilds and keeps layout;
    # truthy non-bool values force the rebuild too (pre-r13 contract)
    jr.run_global_rib(now=ts(40), full_sync=1)
    assert store.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 8)

    # buckets="auto": an already-bucketed table keeps its committed
    # count (layout changes only by explicit migration)...
    jr.run_global_rib(now=ts(45), buckets="auto")
    assert store.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 8)
    # ...and a fresh table gets the suggest_buckets law (floor here)
    s2 = TxnStateStore(spark, str(tmp_path / "auto2"))
    s2.overwrite("ip_rib", store.read("ip_rib"))
    s2.overwrite("info_route", empty(spark, "info_route"))
    s2.overwrite("rpki_validator", empty(spark, "rpki_validator"))
    JobRunner(s2).run_global_rib(now=ts(10), buckets="auto")
    assert s2.bucket_spec("global_ip_rib") == \
        (["prefix", "recv_origin_as"], 4)


def test_global_rib_auto_buckets_sized_from_source(spark, tmp_path):
    """First-run buckets="auto" sizes the layout from the SOURCE
    footprint, not the (empty) target table — a 100M-row first load
    must not freeze the floor count forever (r13 ADVICE). Bad string
    values fail fast instead of flowing into bucket_of."""
    import pytest

    store = _seed_store(spark, tmp_path)
    jr = JobRunner(store)

    # fake footers: target empty, source huge -> sizing law follows
    # the source (suggest_buckets(25M) = ceil(25M/10M) = 3 < floor 4;
    # use 60M -> 6 buckets, above the floor so the assertion bites)
    real = store.table_rows
    store.table_rows = lambda t: {"global_ip_rib": 0,
                                  "ip_rib": 60_000_000}.get(t, real(t))
    jr.run_global_rib(now=ts(5), buckets="auto")
    assert store.bucket_spec("global_ip_rib")[1] == 6

    # non-sentinel strings are a config error, caught up front
    with pytest.raises(ValueError, match="auto"):
        jr.run_global_rib(now=ts(6), buckets="Auto")
    with pytest.raises(ValueError, match="auto"):
        jr.run_global_rib(now=ts(6), buckets="8")


def test_table_rows_cache_bounded_per_table(spark, tmp_path):
    """table_rows memoization keeps ONE entry per table across
    commits (r13 ADVICE: per-(table, version) keys grew unbounded in
    a long-running streaming driver)."""
    store = _seed_store(spark, tmp_path)
    n0 = store.table_rows("ip_rib")
    for i in range(3):
        with store.transaction() as txn:  # bump snapshot version
            txn.set_meta("tick", str(i))
        assert store.table_rows("ip_rib") == n0
    assert len(store._rows_cache) == 1
    # cache still invalidates when data actually changes
    store.append("ip_rib_log", store.read("ip_rib_log").limit(1))
    n1 = store.table_rows("ip_rib_log")
    with store.transaction() as txn:
        txn.set_meta("tick", "x")
    assert store.table_rows("ip_rib_log") == n1
    assert len(store._rows_cache) <= 2


def test_retention_drops_whole_expired_chunks(spark, tmp_path):
    """Hour-partitioned log appends expire via metadata-only chunk
    drops (no data rewrite), with chunk-granularity boundaries —
    the Timescale drop_chunks semantics (1_base.sql:369)."""
    import pyspark.sql.functions as F

    store = TxnStateStore(spark, str(tmp_path))
    rib, log0 = apply_unicast_prefix(empty(spark, "ip_rib"), msgs(
        spark, "unicast_prefix",
        [upx("add", f"h{i}", "p0", f"a{i}", ts(0, i)) for i in range(4)]))
    # two waves of withdraws an hour apart -> two log_hour chunks
    rib2, logA = apply_unicast_prefix(rib.cache(), msgs(
        spark, "unicast_prefix",
        [upx("del", f"h{i}", "p0", "", ts(1, i)) for i in range(4)]))
    rib3, logB = apply_unicast_prefix(rib2.cache(), msgs(
        spark, "unicast_prefix",
        [upx("add", f"h{i}", "p0", f"b{i}", ts(1, i) + dt.timedelta(hours=1))
         for i in range(4)]))
    hourcol = F.date_trunc("hour", "timestamp")
    store.append("ip_rib_log", logA.withColumn("log_hour", hourcol),
                 partition_by="log_hour")
    store.append("ip_rib_log", logB.withColumn("log_hour", hourcol),
                 partition_by="log_hour")
    store.overwrite("global_ip_rib", empty(spark, "global_ip_rib"))
    assert store.read("ip_rib_log").count() == 8
    assert len(store.append_partitions("ip_rib_log")) == 2

    jr = JobRunner(store)
    # horizon inside the second chunk: only the first chunk is wholly
    # expired; the boundary chunk keeps ALL its rows (chunk semantics)
    jr.run_retention(now=ts(1) + dt.timedelta(hours=2, minutes=30),
                     policies=[("ip_rib_log", "timestamp",
                                dt.timedelta(hours=1, minutes=25))])
    assert store.read("ip_rib_log").count() == 4
    remaining = store.append_partitions("ip_rib_log")
    assert len(remaining) == 1
    # the surviving chunk is the newer hour
    assert all("11:" in v for vals in remaining.values() for v in vals)

    # much later, the second chunk expires too
    jr.run_retention(now=ts(1) + dt.timedelta(days=2),
                     policies=[("ip_rib_log", "timestamp", dt.timedelta(hours=1))])
    assert store.read("ip_rib_log").count() == 0


def test_compaction_preserves_bucketed_layout(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    rows = spark.createDataFrame(
        [(f"k{i}", f"p{i % 2}", i) for i in range(20)],
        "hash_id string, peer_hash_id string, v long")
    with store.transaction() as txn:
        txn.replace_bucketed("t", rows, ["hash_id", "peer_hash_id"], 8)
    assert store.bucket_spec("t") == (["hash_id", "peer_hash_id"], 8)

    jr = JobRunner(store)
    jr.run_compaction("t")
    assert store.bucket_spec("t") == (["hash_id", "peer_hash_id"], 8)
    assert store.read("t").count() == 20
    # a partial merge still works after compaction (spec survived)
    from obmp_psql_spark.state import bucket_of
    import pyspark.sql.functions as F
    one = rows.filter("hash_id = 'k5'").withColumn("v", F.lit(99).cast("long"))
    [b] = [r[0] for r in one.select(
        bucket_of([F.col("hash_id"), F.col("peer_hash_id")], 8)).collect()]
    merged = store.read_buckets("t", [b], rows.schema) \
        .withColumn("v", F.when(F.col("hash_id") == "k5", 99)
                    .otherwise(F.col("v")).cast("long"))
    with store.transaction() as txn:
        txn.merge_buckets("t", merged, ["hash_id", "peer_hash_id"], 8, [b])
    got = {r.hash_id: r.v for r in store.read("t").collect()}
    assert got["k5"] == 99 and len(got) == 20


def test_run_vacuum_reclaims_orphans_and_folds_log(spark, tmp_path):
    from obmp_psql_spark.state import Transaction

    store = TxnStateStore(spark, str(tmp_path))
    for i in range(12):
        store.overwrite("t", spark.createDataFrame([(i,)], "v long"))
    # crash orphan: staged but never committed
    txn = Transaction(store, None, None)
    txn.replace("t", spark.createDataFrame([(99,)], "v long"))

    jr = JobRunner(store)
    removed = jr.run_vacuum(min_age_seconds=0.0)
    assert len(removed) >= 1  # the orphan (plus any stray history)
    assert [r.v for r in store.read("t", None).collect()] == [11]
    assert len(store._commit_files()) <= 11  # log folded


def test_l3vpn_chg_stats_buckets(spark):
    import pyspark.sql.functions as F

    from obmp_psql_spark.ingest_ls import apply_l3vpn
    from obmp_psql_spark.operators.rollup import l3vpn_chg_stats

    vpn = lambda a, h, attr, t, rd: dict(  # noqa: E731
        upx(a, h, "p1", attr, t), rd=rd, ext_community_list="")
    state, _ = apply_l3vpn(empty(spark, "l3vpn_rib"), msgs(spark, "l3vpn", [
        vpn("add", "v1", "a1", ts(0), "65001:1"),
        vpn("add", "v2", "a2", ts(0), "65001:2")]))
    state, log = apply_l3vpn(state, msgs(spark, "l3vpn", [
        vpn("del", "v1", "", ts(1), "65001:1"),
        vpn("add", "v2", "a3", ts(3), "65001:2")]))
    byrd = l3vpn_chg_stats(log, now=ts(10), window=dt.timedelta(minutes=10),
                           bucket_seconds=120, keys=["rd"]).collect()
    got = {(r.rd, r.interval_time.minute): (r.updates, r.withdraws) for r in byrd}
    assert got == {("65001:1", 0): (0, 1), ("65001:2", 2): (1, 0)}


def test_jdbc_upsert_statement(spark):
    rows = spark.createDataFrame(
        [("h1", "10.0.0.0", 8, True, None), ("h2", "it's", 16, False, 5)],
        "hash_id string, prefix string, prefix_len int, is_withdrawn boolean, path_id int"
    ).collect()
    sql = upsert_statement("ip_rib",
                           ["hash_id", "prefix", "prefix_len", "is_withdrawn", "path_id"],
                           rows, key_columns=["hash_id"])
    assert sql.startswith("INSERT INTO ip_rib (hash_id, prefix, prefix_len,")
    assert "('h1', '10.0.0.0', 8, true, NULL)" in sql
    assert "('h2', 'it''s', 16, false, 5)" in sql  # quote escaping
    assert "ON CONFLICT (hash_id) DO UPDATE SET prefix=excluded.prefix" in sql
    assert "hash_id=excluded.hash_id" not in sql  # keys not in SET


def test_log_compaction(spark, tmp_path):
    import glob

    store = _seed_store(spark, tmp_path)
    # compaction: fragment the log with several small appends, then
    # compact to a bounded file count without losing rows
    log = store.read("ip_rib_log")
    for _ in range(4):
        store.append("ip_rib_log", log.limit(2))
    before_rows = store.read("ip_rib_log").count()
    jr = JobRunner(store)
    jr.run_compaction("ip_rib_log", target_partitions=2)
    [compacted] = store.current_paths("ip_rib_log")
    after_files = len(glob.glob(compacted + "/*.parquet"))
    assert store.read("ip_rib_log").count() == before_rows
    assert after_files <= 2


def test_retention_default_policies_cover_all_log_tables(spark, tmp_path):
    """Every reference add_retention_policy table trims on the default
    sweep — expired hour chunks drop metadata-only, fresh chunks
    survive (1_base.sql:236,261,369,539,635,698; 2_aggregations.sql;
    10_l3vpn.sql)."""
    import pyspark.sql.functions as F

    store = TxnStateStore(spark, str(tmp_path))
    now = ts(0) + dt.timedelta(days=365)
    for table, ts_col, _window in JobRunner.RETENTION_POLICIES:
        # one append per micro-batch wave, as the streaming sink writes
        for label, t in (("old", ts(0)), ("fresh", now - dt.timedelta(hours=2))):
            rows = spark.createDataFrame(
                [(label, t)], f"k string, {ts_col} timestamp")
            store.append(
                table,
                rows.withColumn("log_hour", F.date_trunc("hour", ts_col)),
                partition_by="log_hour")
        assert store.read(table).count() == 2
    store.overwrite("global_ip_rib", empty(spark, "global_ip_rib"))

    JobRunner(store).run_retention(now=now)
    for table, _ts_col, _window in JobRunner.RETENTION_POLICIES:
        assert store.read(table).count() == 1, table
        parts = store.append_partitions(table)
        assert len(parts) == 1, table  # expired chunk dropped whole


def test_chg_stats_shared_slice_matches_full_log(spark, tmp_path):
    """run_chg_stats aggregates one slice covering both the 1-min and
    the 2-min windows; with ``now`` at 10:03:30 the two floors differ
    (10:03 vs 10:02), and rows sit on every window edge. The three
    committed tables must equal the rollup functions over the full,
    unsliced log, merged onto the previous cycle's rows."""
    from obmp_psql_spark.operators import rollup as R
    from obmp_psql_spark.schemas import TABLE_SCHEMAS

    def at(h, m, s=0):
        return dt.datetime(2024, 1, 1, h, m, s)

    edges = [at(9, 56, 59), at(9, 57), at(9, 57, 59), at(9, 58),
             at(10, 1, 59), at(10, 2), at(10, 2, 59), at(10, 3),
             at(10, 3, 29), at(10, 4, 0), at(10, 4, 30)]
    rows = [(i % 3 == 0, f"10.{i % 4}.0.0", 16, f"a{i}", f"p{i % 2}",
             65000 + i % 3, t)
            for i, t in enumerate(edges) for _ in range(1 + i % 2)]
    log = spark.createDataFrame(rows, TABLE_SCHEMAS["ip_rib_log"])
    store = TxnStateStore(spark, str(tmp_path))
    store.append("ip_rib_log", log)
    jr = JobRunner(store)
    tables = (
        ("stats_chg_bypeer", R.chg_stats_bypeer,
         ["interval_time", "peer_hash_id"]),
        ("stats_chg_byasn", R.chg_stats_byasn,
         ["interval_time", "peer_hash_id", "origin_as"]),
        ("stats_chg_byprefix", R.chg_stats_byprefix,
         ["interval_time", "peer_hash_id", "prefix"]),
    )
    for now in (at(10, 3, 30), at(10, 5, 30)):
        prev = {t: store.read(t, fn(log, now, dt.timedelta(minutes=5))
                              .schema).collect() for t, fn, _ in tables}
        version = store.snapshot().version
        jr.run_chg_stats(now=now)
        assert store.snapshot().version == version + 1  # one commit
        for table, fn, keys in tables:
            fresh = fn(log, now, dt.timedelta(minutes=5))
            cur = spark.createDataFrame(prev[table], fresh.schema)
            want = R.merge_replace(cur, fresh, keys)
            got = store.read(table).select(*want.columns)
            assert sorted(map(tuple, got.collect())) == \
                sorted(map(tuple, want.collect())), (table, now)
            assert want.count() > 0
