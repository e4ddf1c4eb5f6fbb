"""Crash-recovery and atomicity tests for the transactional state
store (state.py) — the MERGE-sink commit protocol.

Models the failure points of the reference's writer path
(WriterRunnable.java:155-176 retries around one ACID upsert +
trigger-log transaction): crash after data staged but before commit,
crash between two tables of one logical write, replayed micro-batch
after a successful commit, and torn commit files.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from obmp_psql_spark.state import _LOG_DIR, Transaction, TxnStateStore


def df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def as_dict(store, table):
    return {r.k: r.v for r in store.read(table, df(store.spark, []).schema).collect()}


def test_commit_makes_all_actions_visible_atomically(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    with store.transaction() as txn:
        txn.replace("t1", df(spark, [("a", 1)]))
        txn.append("t2", df(spark, [("b", 2)]))
    assert as_dict(store, "t1") == {"a": 1}
    assert as_dict(store, "t2") == {"b": 2}


def test_crash_before_commit_leaves_previous_snapshot(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    store.overwrite("t1", df(spark, [("a", 1)]))
    store.append("t2", df(spark, [("b", 1)]))

    # crash mid-transaction: t1 staged, exception before t2/commit
    with pytest.raises(RuntimeError):
        with store.transaction() as txn:
            txn.replace("t1", df(spark, [("a", 99)]))
            raise RuntimeError("process died")

    # nothing of the failed transaction is visible
    assert as_dict(store, "t1") == {"a": 1}
    assert as_dict(store, "t2") == {"b": 1}
    # a brand-new store instance (restart) sees the same state
    store2 = TxnStateStore(spark, str(tmp_path))
    assert as_dict(store2, "t1") == {"a": 1}


def test_hard_crash_orphans_are_invisible_and_vacuumable(spark, tmp_path):
    """Simulate a kill -9 after staging (no abort ran): stage data
    via the internal API without ever committing."""
    store = TxnStateStore(spark, str(tmp_path))
    store.overwrite("t1", df(spark, [("a", 1)]))

    txn = Transaction(store, "app", 7)
    txn.replace("t1", df(spark, [("a", 666)]))
    txn.append("t2", df(spark, [("x", 1)]))
    # no commit, no abort — the process "died" here

    assert as_dict(store, "t1") == {"a": 1}          # reader unaffected
    store2 = TxnStateStore(spark, str(tmp_path))     # restart
    assert as_dict(store2, "t1") == {"a": 1}
    assert as_dict(store2, "t2") == {}
    assert store2.last_txn_version("app") == -1      # batch NOT applied

    # orphaned staging dirs exist on disk until vacuum reclaims them
    removed = store2.vacuum(min_age_seconds=0.0)
    assert len(removed) == 2
    # live data survives vacuum
    assert as_dict(store2, "t1") == {"a": 1}
    assert store2.vacuum(min_age_seconds=0.0) == []


def test_replayed_batch_is_skipped_after_commit(spark, tmp_path):
    """foreachBatch retry AFTER a successful commit must be a no-op
    (exactly-once): the txn action records (app, batch version)."""
    store = TxnStateStore(spark, str(tmp_path))
    with store.transaction("unicast_prefix", 3) as txn:
        txn.append("log", df(spark, [("row1", 1)]))
    assert store.last_txn_version("unicast_prefix") == 3

    # replay of batch 3: the context manager skips the commit even if
    # the handler stages writes again
    with store.transaction("unicast_prefix", 3) as txn:
        txn.append("log", df(spark, [("row1", 1)]))
    assert as_dict(store, "log") == {"row1": 1}  # no duplicate rows

    # an older batch replays as no-op too; a newer batch applies
    with store.transaction("unicast_prefix", 2) as txn:
        txn.append("log", df(spark, [("stale", 9)]))
    assert as_dict(store, "log") == {"row1": 1}
    with store.transaction("unicast_prefix", 4) as txn:
        txn.append("log", df(spark, [("row2", 2)]))
    assert as_dict(store, "log") == {"row1": 1, "row2": 2}


def test_torn_commit_file_is_invisible(spark, tmp_path):
    """A half-written commit never becomes visible: visibility is the
    os.link of a fully-fsynced temp file, and readers ignore temp
    names."""
    store = TxnStateStore(spark, str(tmp_path))
    store.overwrite("t1", df(spark, [("a", 1)]))
    # a crashed committer's leftover temp file (torn JSON)
    with open(os.path.join(str(tmp_path), _LOG_DIR, ".tmp_dead.json"), "w") as f:
        f.write('{"actions": [{"table": "t1", "ki')
    store2 = TxnStateStore(spark, str(tmp_path))
    assert as_dict(store2, "t1") == {"a": 1}


def test_version_collision_retries_onto_next_slot(spark, tmp_path):
    """Two committers racing for the same log version: os.link is
    create-exclusive, the loser re-resolves and takes the next slot."""
    s1 = TxnStateStore(spark, str(tmp_path))
    s2 = TxnStateStore(spark, str(tmp_path))  # independent cached snapshots
    s1.overwrite("t1", df(spark, [("a", 1)]))
    # s2's cache still thinks version 0 is next — its commit must not
    # clobber s1's, and must land after it
    s2.overwrite("t2", df(spark, [("b", 2)]))
    s3 = TxnStateStore(spark, str(tmp_path))
    assert as_dict(s3, "t1") == {"a": 1}
    assert as_dict(s3, "t2") == {"b": 2}
    assert len(s3._commit_files()) == 2


def test_watermark_meta_commits_with_data(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    with store.transaction() as txn:
        txn.replace("t1", df(spark, [("a", 1)]))
        txn.set_meta("watermark_job", "2026-01-01T00:00:00")
    assert store.get_meta("watermark_job") == "2026-01-01T00:00:00"

    # failed follow-up: neither data nor watermark advances
    with pytest.raises(RuntimeError):
        with store.transaction() as txn:
            txn.replace("t1", df(spark, [("a", 2)]))
            txn.set_meta("watermark_job", "2026-02-02T00:00:00")
            raise RuntimeError("died before commit")
    assert as_dict(store, "t1") == {"a": 1}
    assert store.get_meta("watermark_job") == "2026-01-01T00:00:00"


def test_gc_keeps_previous_generation_readable(spark, tmp_path):
    """Lazy-plan hazard: a DataFrame captured from snapshot N must
    still execute after snapshot N+1 commits (GC keeps one previous
    generation, like Delta snapshot retention)."""
    store = TxnStateStore(spark, str(tmp_path))
    store.overwrite("t1", df(spark, [("a", 1)]))
    old = store.read("t1", df(spark, []).schema)  # lazy, not collected
    store.overwrite("t1", df(spark, [("a", 2)]))
    assert {r.k: r.v for r in old.collect()} == {"a": 1}  # still readable
    assert as_dict(store, "t1") == {"a": 2}


def test_append_then_replace_supersedes_appends(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    store.append("log", df(spark, [("a", 1)]))
    store.append("log", df(spark, [("b", 2)]))
    assert as_dict(store, "log") == {"a": 1, "b": 2}
    # compaction rewrite: replace folds the appends
    store.overwrite("log", store.read("log", df(spark, []).schema))
    assert as_dict(store, "log") == {"a": 1, "b": 2}
    store.append("log", df(spark, [("c", 3)]))
    assert as_dict(store, "log") == {"a": 1, "b": 2, "c": 3}


def test_empty_writes_resolve_to_typed_empty(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    schema = df(spark, []).schema
    store.overwrite("t1", spark.createDataFrame([], schema))
    got = store.read("t1", schema)
    assert got.count() == 0 and got.schema == schema
    store.append("log", spark.createDataFrame([], schema))
    assert store.read("log", schema).count() == 0


def test_log_checkpoint_compaction_preserves_state(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    for i in range(12):
        with store.transaction("app", i) as txn:
            txn.replace("t1", df(spark, [("a", i)]))
            txn.append("log", df(spark, [(f"r{i}", i)]))
    store.checkpoint_log(keep=3)
    files = store._commit_files()
    assert len(files) <= 4  # checkpoint + kept tail

    # fresh instance replays checkpoint + tail to identical state
    store2 = TxnStateStore(spark, str(tmp_path))
    assert as_dict(store2, "t1") == {"a": 11}
    assert as_dict(store2, "log") == {f"r{i}": i for i in range(12)}
    assert store2.last_txn_version("app") == 11
    # and the idempotency guard still holds across the checkpoint
    with store2.transaction("app", 5) as txn:
        txn.append("log", df(spark, [("dup", 5)]))
    assert "dup" not in as_dict(store2, "log")


def _buckets_for(spark, keys, n):
    """bucket id per key value, via the same expression the store
    uses (so the test can't drift from the implementation)."""
    from pyspark.sql import functions as F

    from obmp_psql_spark.state import bucket_of
    rows = spark.createDataFrame([(k,) for k in keys], "k string") \
        .select("k", bucket_of([F.col("k")], n).alias("b")).collect()
    return {r.k: r.b for r in rows}


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The lakehouse-MERGE property: a batch touching one bucket must
    leave every other bucket's committed files byte-identical (same
    dir), and the merged read must reflect only the touched bucket's
    change."""
    store = TxnStateStore(spark, str(tmp_path))
    n = 8
    keys = [f"k{i}" for i in range(32)]
    kb = _buckets_for(spark, keys, n)

    with store.transaction() as txn:
        txn.replace_bucketed("t", df(spark, [(k, 0) for k in keys]),
                             ["k"], n)
    base_map = store.bucket_map("t")
    assert len(set(base_map.values())) == 1  # one dir serves all buckets

    # merge a single key: only its bucket may remap
    target = "k3"
    tb = kb[target]
    merged = store.read_buckets("t", [tb], df(spark, []).schema) \
        .withColumn("v", F.when(F.col("k") == target, 99).otherwise(F.col("v")))
    with store.transaction() as txn:
        txn.merge_buckets("t", merged, ["k"], n, [tb])

    new_map = store.bucket_map("t")
    for b, d in new_map.items():
        if b == tb:
            assert d != base_map[b]          # touched bucket rewritten
        else:
            assert d == base_map[b]          # untouched dirs unchanged

    got = as_dict(store, "t")
    assert got[target] == 99
    assert sum(v == 0 for v in got.values()) == len(keys) - 1

    # pruned read returns exactly the touched bucket's keys
    sub = {r.k for r in store.read_buckets(
        "t", [tb], df(spark, []).schema).collect()}
    assert sub == {k for k, b in kb.items() if b == tb}


def test_bucketed_merge_can_empty_a_bucket(spark, tmp_path):
    store = TxnStateStore(spark, str(tmp_path))
    n = 4
    keys = [f"x{i}" for i in range(12)]
    kb = _buckets_for(spark, keys, n)
    with store.transaction() as txn:
        txn.replace_bucketed("t", df(spark, [(k, 1) for k in keys]), ["k"], n)

    victim = kb[keys[0]]
    survivors = df(spark, [(k, 1) for k in keys if kb[k] != victim]) \
        .filter("1=0")  # delete every row of the victim bucket
    with store.transaction() as txn:
        txn.merge_buckets("t", survivors, ["k"], n, [victim])

    assert victim not in store.bucket_map("t")
    got = as_dict(store, "t")
    assert set(got) == {k for k in keys if kb[k] != victim}

    # bucket-count mismatch is refused before anything commits
    with pytest.raises(ValueError):
        with store.transaction() as txn:
            txn.merge_buckets("t", df(spark, [("x0", 1)]), ["k"], 16, [0])


def test_bucketed_pipeline_matches_monolithic(spark, tmp_path):
    """Same message batches through the bucketed and monolithic sinks
    must commit identical ip_rib state and ip_rib_log rows."""
    from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

    from .test_bmp_ingest import msgs, ts, upx

    b1 = msgs(spark, "unicast_prefix",
              [upx("add", f"h{i}", f"p{i % 3}", f"a{i}", ts(0, i))
               for i in range(24)])
    # batch 2 touches only 6 distinct keys -> at most 6 of 8 buckets,
    # so at least one bucket is PROVABLY untouched by construction
    b2 = msgs(spark, "unicast_prefix",
              [upx("del", f"h{i}", f"p{i % 3}", "", ts(2, i))
               for i in range(0, 24, 8)]
              + [upx("add", f"h{i}", f"p{i % 3}", f"a{i + 100}", ts(3, i))
                 for i in range(1, 24, 8)])

    results = {}
    for tag, buckets in (("mono", None), ("bucketed", 8)):
        store = TxnStateStore(spark, str(tmp_path / tag))
        ing = BmpStreamingIngest(spark, store, rib_buckets=buckets)
        ing.unicast_prefix_batch(b1, 0)
        ing.unicast_prefix_batch(b2, 1)
        state = {(r.peer_hash_id, r.hash_id):
                 (r.base_attr_hash_id, r.is_withdrawn, r.timestamp)
                 for r in store.read("ip_rib").collect()}
        log = sorted(((r.peer_hash_id, r.base_attr_hash_id, r.is_withdrawn)
                      for r in store.read("ip_rib_log").collect()),
                     key=lambda t: tuple((x is None, x) for x in t))
        results[tag] = (state, log)
    assert results["mono"] == results["bucketed"]
    # and the second batch of the bucketed run really was partial:
    # batch 2 touches a strict subset of buckets in this fixture, so
    # at least one bucket must still map to the batch-1 commit dir
    bstore = TxnStateStore(spark, str(tmp_path / "bucketed"))
    assert len(set(bstore.bucket_map("ip_rib").values())) > 1


def test_bucketed_family_pipeline_matches_monolithic(spark, tmp_path):
    """family_buckets: the LS/L3VPN handlers commit identical state
    via partial bucket merges."""
    from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

    from .test_bmp_ingest import msgs, ts, upx

    def vpn(a, h, attr, t):
        return dict(upx(a, h, f"p{hash(h) % 2}", attr, t),
                    rd="65001:100", ext_community_list="rt:65001:100")

    b1 = msgs(spark, "l3vpn", [vpn("add", f"v{i}", f"a{i}", ts(0, i))
                               for i in range(16)])
    b2 = msgs(spark, "l3vpn", [vpn("del", f"v{i}", "", ts(2, i))
                               for i in range(0, 16, 8)])
    results = {}
    for tag, n in (("mono", None), ("bkt", 8)):
        store = TxnStateStore(spark, str(tmp_path / tag))
        ing = BmpStreamingIngest(spark, store, family_buckets=n)
        ing.l3vpn_batch(b1, 0)
        ing.l3vpn_batch(b2, 1)
        results[tag] = (
            {(r.peer_hash_id, r.hash_id): (r.base_attr_hash_id, r.is_withdrawn)
             for r in store.read("l3vpn_rib").collect()},
            store.read("l3vpn_rib_log").count(),
        )
    assert results["mono"] == results["bkt"]
    bstore = TxnStateStore(spark, str(tmp_path / "bkt"))
    # batch 2 touched at most 2 buckets of 8 -> partial merge happened
    assert len(set(bstore.bucket_map("l3vpn_rib").values())) > 1


def test_time_travel_read(spark, tmp_path):
    """read_at serves any retained commit version; GC'd versions
    raise instead of silently returning wrong data."""
    store = TxnStateStore(spark, str(tmp_path))
    with store.transaction() as txn:           # v0
        txn.replace("t", df(spark, [("a", 1)]))
        txn.append("log", df(spark, [("l1", 1)]))
    with store.transaction() as txn:           # v1
        txn.append("log", df(spark, [("l2", 2)]))
    with store.transaction() as txn:           # v2
        txn.replace("t", df(spark, [("a", 3)]))

    assert {r.k: r.v for r in store.read_at("t", 0).collect()} == {"a": 1}
    assert {r.k: r.v for r in store.read_at("t", 1).collect()} == {"a": 1}
    assert {r.k: r.v for r in store.read_at("t", 2).collect()} == {"a": 3}
    assert {r.k for r in store.read_at("log", 0).collect()} == {"l1"}
    assert {r.k for r in store.read_at("log", 2).collect()} == {"l1", "l2"}
    # never-written table at an old version -> typed empty
    assert store.read_at("nothing", 0, df(spark, []).schema).count() == 0
    with pytest.raises(ValueError):
        store.snapshot_at(99)

    # push the v0 generation out of retention: two more replaces GC it
    with store.transaction() as txn:           # v3
        txn.replace("t", df(spark, [("a", 4)]))
    with pytest.raises(ValueError):
        store.read_at("t", 0).collect()
    # v2 is the retained previous generation — still readable
    assert {r.v for r in store.read_at("t", 2).collect()} == {3}


def test_bucketed_file_stream_restart(spark, tmp_path):
    """foreachBatch + checkpoint + bucketed sink end-to-end: restart
    replays nothing, partial merges accumulate correct state."""
    import os

    from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

    from .test_bmp_ingest import msgs, ts, upx

    src_dir = str(tmp_path / "msgs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    store = TxnStateStore(spark, str(tmp_path / "store"))
    ing = BmpStreamingIngest(spark, store, rib_buckets=4)

    msgs(spark, "unicast_prefix", [
        upx("add", "r1", "p1", "attrA", ts(0)),
        upx("add", "r2", "p1", "attrB", ts(0)),
    ]).coalesce(1).write.mode("append").parquet(src_dir)
    q = ing.start_file_stream("unicast_prefix", src_dir, ckpt)
    q.awaitTermination()
    assert store.read("ip_rib").count() == 2
    assert store.bucket_spec("ip_rib") == (["peer_hash_id", "hash_id"], 4)

    msgs(spark, "unicast_prefix", [
        upx("del", "r1", "p1", "", ts(1)),
    ]).coalesce(1).write.mode("append").parquet(src_dir)
    q = ing.start_file_stream("unicast_prefix", src_dir, ckpt)
    q.awaitTermination()
    rib = {r.hash_id: r for r in store.read("ip_rib").collect()}
    assert rib["r1"].is_withdrawn is True
    assert rib["r1"].base_attr_hash_id == "attrA"
    assert store.read("ip_rib_log").count() == 1

    # restart with nothing new: txn guard keeps state identical
    q = ing.start_file_stream("unicast_prefix", src_dir, ckpt)
    q.awaitTermination()
    assert store.read("ip_rib").count() == 2
    assert store.read("ip_rib_log").count() == 1


def test_commit_log_is_valid_json_with_relative_paths(spark, tmp_path):
    """The log must be relocatable (relative dirs) and inspectable."""
    store = TxnStateStore(spark, str(tmp_path))
    with store.transaction("app", 1) as txn:
        txn.replace("t1", df(spark, [("a", 1)]))
    name = store._commit_files()[-1]
    with open(os.path.join(str(tmp_path), _LOG_DIR, name)) as f:
        rec = json.load(f)
    assert rec["txn"] == {"app": "app", "version": 1}
    for act in rec["actions"]:
        assert not os.path.isabs(act["dir"])
        assert act["dir"].startswith("t1")


def test_optimize_compacts_appends_atomically(spark, tmp_path):
    """OPTIMIZE: many small appends -> one replace commit; rows
    identical, pre-optimize versions still time-travel, bucketed
    tables refused."""
    import glob

    store = TxnStateStore(spark, str(tmp_path / "opt"))
    for i in range(12):
        store.append("t", df(spark, [(f"k{i}", i)]))
    v_before = store.snapshot().version
    files_before = sum(
        len(glob.glob(os.path.join(store.root, p, "*.parquet")))
        for p in store.current_paths("t"))
    assert files_before >= 12

    store.optimize("t", num_files=2)

    assert as_dict(store, "t") == {f"k{i}": i for i in range(12)}
    files_after = sum(
        len(glob.glob(os.path.join(store.root, p, "*.parquet")))
        for p in store.current_paths("t"))
    assert files_after <= 2
    # retention contract: the replace supersedes the appends and the
    # eager GC keeps only the newest prior generation, so deep time
    # travel reports the documented retention error (not silent
    # wrong data)
    with pytest.raises(ValueError, match="retention"):
        store.read_at("t", v_before, df(spark, []).schema).collect()


def test_optimize_zorder_layout(spark, tmp_path):
    from obmp_psql_spark.operators.layout import z_value

    store = TxnStateStore(spark, str(tmp_path / "optz"))
    rows = [(x, y) for x in range(16) for y in range(16)]
    store.append("pts", spark.createDataFrame(rows, "x long, y long"))
    store.optimize("pts", num_files=4,
                   zorder=z_value(F.col("x"), F.col("y"), 4))
    got = sorted((r.x, r.y) for r in store.read("pts").collect())
    assert got == sorted(rows)


def test_optimize_bucketed_keeps_layout(spark, tmp_path):
    """Compacting a bucketed table re-stages through replace_bucketed:
    same key/bucket spec, one bucket map afterward, rows intact,
    subsequent merge_buckets still works; zorder refused."""
    store = TxnStateStore(spark, str(tmp_path / "optb"))
    with store.transaction() as txn:
        txn.replace_bucketed("b", df(spark, [(f"k{i}", i)
                                             for i in range(8)]),
                             key_cols=["k"], n_buckets=4)
    # a few merge generations fan the bucket map across dirs
    kb = _buckets_for(spark, [f"k{j}" for j in range(8)], 4)
    for j in range(3):
        tb = kb[f"k{j}"]
        merged = store.read_buckets("b", [tb], df(spark, []).schema) \
            .withColumn("v", F.when(F.col("k") == f"k{j}",
                                    100 + j).otherwise(F.col("v")))
        with store.transaction() as txn:
            txn.merge_buckets("b", merged, ["k"], 4, [tb])
    with pytest.raises(ValueError, match="zorder"):
        store.optimize("b", zorder=F.lit(0))
    before = as_dict(store, "b")
    store.optimize("b")
    assert as_dict(store, "b") == before
    spec = store.bucket_spec("b")
    assert spec == (["k"], 4)
    tab = store.snapshot().tables["b"]
    assert len(set(tab["buckets"].values())) == 1  # one map again


def test_empty_bucketed_table_stays_bucketed(spark, tmp_path):
    """A committed bucketed table whose snapshot is EMPTY (present=[])
    is still bucketed: bucket_spec/table_info report the spec, and
    optimize() keeps the bucketed rewrite so a later merge_buckets
    never finds a monolithic snapshot."""
    store = TxnStateStore(spark, str(tmp_path / "eb"))
    with store.transaction() as txn:
        txn.replace_bucketed("b", df(spark, []), key_cols=["k"],
                             n_buckets=4)
    assert store.bucket_spec("b") == (["k"], 4)
    info = {t["table_name"]: t for t in store.table_info()}["b"]
    assert info["layout"] == "bucketed" and info["n_buckets"] == 4
    store.optimize("b")                       # must not de-bucket
    assert store.bucket_spec("b") == (["k"], 4)
    merged = df(spark, [("k1", 1)])
    kb = _buckets_for(spark, ["k1"], 4)
    with store.transaction() as txn:          # merge still works
        txn.merge_buckets("b", merged, ["k"], 4, [kb["k1"]])
    assert as_dict(store, "b") == {"k1": 1}


def test_append_partition_col_conflict_refused(spark, tmp_path):
    """The chunk column is table-level metadata: appending with a
    different partition_by than the recorded one raises instead of
    silently re-clustering optimize() on the last writer's column."""
    store = TxnStateStore(spark, str(tmp_path / "pc"))
    with store.transaction() as txn:
        txn.append("t", df(spark, [("k1", 1)]), partition_by="k")
    # same column again: fine
    with store.transaction() as txn:
        txn.append("t", df(spark, [("k2", 2)]), partition_by="k")
    # different column: refused (committed metadata)
    with pytest.raises(ValueError, match="chunk column"):
        with store.transaction() as txn:
            txn.append("t", df(spark, [("k3", 3)]), partition_by="v")
    # ...including within one transaction
    with pytest.raises(ValueError, match="chunk column"):
        with store.transaction() as txn:
            txn.append("u", df(spark, [("k1", 1)]), partition_by="k")
            txn.append("u", df(spark, [("k2", 2)]), partition_by="v")


def test_suggest_buckets_sizing_law():
    """Constant-size buckets, count grows with state (the churn-probe
    law): ceil(rows/target) with a floor; explicit counts remain the
    caller's override."""
    from obmp_psql_spark.state import (
        BUCKET_COUNT_FLOOR,
        BUCKET_TARGET_ROWS,
        suggest_buckets,
    )

    assert suggest_buckets(0) == BUCKET_COUNT_FLOOR
    assert suggest_buckets(BUCKET_TARGET_ROWS) == BUCKET_COUNT_FLOOR
    assert suggest_buckets(100 * BUCKET_TARGET_ROWS) == 100
    assert suggest_buckets(100 * BUCKET_TARGET_ROWS + 1) == 101
    # probe-scale override: 50k-row buckets like bench_churn
    assert suggest_buckets(2_000_000, target_rows=50_000) == 40


def test_concurrent_append_partition_col_conflict(spark, tmp_path):
    """Round-12 ADVICE: the chunk-column guard must hold when two
    appends to the SAME table run concurrently
    (state.stage_concurrently) — the column is reserved
    under the lock at CHECK time, not when the action record lands
    after the Spark write, so the second checker fails
    deterministically instead of both sliding through the
    check-then-act window while neither has recorded its action."""
    from obmp_psql_spark.state import stage_concurrently

    store = TxnStateStore(spark, str(tmp_path / "cc"))
    with pytest.raises(ValueError, match="chunk column"):
        with store.transaction() as txn:
            stage_concurrently(
                lambda: txn.append("t", df(spark, [("a", 1)]),
                                   partition_by="k"),
                lambda: txn.append("t", df(spark, [("b", 2)]),
                                   partition_by="v"),
            )
    # the failed txn aborted: nothing became visible
    assert "t" not in store.snapshot().tables


def test_table_info_reports_layout_rows_and_appends(spark, tmp_path):
    """show_table_info equivalent (5_functions.sql:13-35): footer-only
    stats must agree with actual content across flat, chunked-append
    and bucketed layouts, and track appends since the last replace."""
    store = TxnStateStore(spark, str(tmp_path / "ti"))
    df = spark.createDataFrame([(i, f"u{i % 3}", str(i % 2))
                                for i in range(20)],
                               "id long, u string, hr string")
    store.overwrite("flat", df.repartition(2))
    store.append("logd", df.limit(4), partition_by="hr")
    store.append("logd", df.limit(6), partition_by="hr")
    with store.transaction() as txn:
        txn.replace_bucketed("bkt", df, key_cols=["u"], n_buckets=4)

    info = {i["table_name"]: i for i in store.table_info()}
    assert info["flat"]["layout"] == "flat"
    assert info["flat"]["rows"] == 20 and info["flat"]["files"] == 2
    assert info["flat"]["appends"] == 0
    assert info["logd"]["appends"] == 2
    assert info["logd"]["rows"] == 10
    assert info["logd"]["chunks"] == 2  # hr in {0,1} across both appends
    assert info["bkt"]["layout"] == "bucketed"
    assert info["bkt"]["n_buckets"] == 4 and info["bkt"]["rows"] == 20
    assert all(i["bytes"] > 0 and i["row_groups"] >= i["files"] > 0
               for i in info.values())
    # after a replace the append counter resets (compaction signal)
    store.overwrite("logd", store.read("logd"))
    info2 = {i["table_name"]: i for i in store.table_info()}
    assert info2["logd"]["appends"] == 0 and info2["logd"]["rows"] == 10


def test_run_store_stats_triggers_threshold_compaction(spark, tmp_path):
    from obmp_psql_spark.jobs import JobRunner

    store = TxnStateStore(spark, str(tmp_path / "ss"))
    df = spark.createDataFrame([(i,) for i in range(8)], "id long")
    for _ in range(3):
        store.append("t", df)
    runner = JobRunner(store)
    stats = runner.run_store_stats(compact_when_appends=3)
    # returned stats are the BEFORE picture; the store is compacted
    assert {i["table_name"]: i["appends"] for i in stats} == {"t": 3}
    after = {i["table_name"]: i for i in store.table_info()}
    assert after["t"]["appends"] == 0
    assert after["t"]["rows"] == 24


def test_append_schema_evolution_reads_with_nulls(spark, tmp_path):
    """Lakehouse-parity schema evolution: an append that ADDS a column
    is readable alongside older files (old rows surface NULL for the
    new column), and a later replace consolidates the widened schema."""
    store = TxnStateStore(spark, str(tmp_path / "evo"))
    store.append("t", spark.createDataFrame([(1, "a")], "id long, s string"))
    store.append("t", spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"))
    got = {r["id"]: (r["s"], r["score"]) for r in store.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    store.overwrite("t", store.read("t"))
    assert set(store.read("t").columns) == {"id", "s", "score"}
    assert store.read("t").count() == 2


def test_optimize_bloom_filter_layout(spark, tmp_path):
    """optimize(bloom_cols=...) writes parquet bloom filters (visible
    as a deterministic file-size increase for the same data + layout)
    and the compacted table reads back identically."""
    from pyspark.sql import functions as F

    df = spark.range(20000).select(
        F.md5(F.col("id").cast("string")).alias("hash_id"),
        F.col("id"))
    sizes = {}
    for tag, cols in (("plain", None), ("bloom", ["hash_id"])):
        store = TxnStateStore(spark, str(tmp_path / tag))
        store.append("t", df)
        store.optimize("t", num_files=2, bloom_cols=cols, bloom_ndv=20000)
        files = [os.path.join(dp, f)
                 for p in store.current_paths("t")
                 for dp, _, fs in os.walk(p)
                 for f in fs if f.endswith(".parquet")]
        assert len(files) == 2
        sizes[tag] = sum(os.path.getsize(f) for f in files)
        assert store.read("t").count() == 20000
        # the bloom-pruned point lookup must still find present keys
        probe = df.limit(1).collect()[0]["hash_id"]
        assert store.read("t").filter(F.col("hash_id") == probe).count() == 1
    assert sizes["bloom"] > sizes["plain"]
    # bucketed tables compose blooms with the bucket map (same data,
    # same layout, bloom'd files measurably larger)
    sizes_b = {}
    for tag, cols in (("bplain", None), ("bbloom", ["hash_id"])):
        store = TxnStateStore(spark, str(tmp_path / tag))
        with store.transaction() as txn:
            txn.replace_bucketed("t", df, key_cols=["hash_id"],
                                 n_buckets=4)
        store.optimize("t", bloom_cols=cols, bloom_ndv=20000)
        files = [os.path.join(dp, f)
                 for p in store.current_paths("t")
                 for dp, _, fs in os.walk(p)
                 for f in fs if f.endswith(".parquet")]
        sizes_b[tag] = sum(os.path.getsize(f) for f in files)
        assert store.read("t").count() == 20000
        assert store.bucket_spec("t") == (["hash_id"], 4)
    assert sizes_b["bbloom"] > sizes_b["bplain"]


def test_run_maintenance_cycle(spark, tmp_path):
    """measure -> compact -> vacuum -> checkpoint in one call, with an
    auditable report of what it saw and did."""
    from obmp_psql_spark.jobs import JobRunner

    store = TxnStateStore(spark, str(tmp_path / "mx"))
    df = spark.createDataFrame([(i,) for i in range(6)], "id long")
    for _ in range(4):
        store.append("busy", df)
    store.append("quiet", df)
    report = JobRunner(store).run_maintenance(compact_when_appends=3,
                                              vacuum_age_seconds=0.0)
    assert report["compacted"] == ["busy"]
    after = {i["table_name"]: i for i in store.table_info()}
    assert after["busy"]["appends"] == 0 and after["busy"]["rows"] == 24
    assert after["quiet"]["appends"] == 1
    # vacuum(0) reclaimed the superseded pre-compaction files
    assert isinstance(report["vacuumed"], list)
    assert store.read("busy").count() == 24


def test_optimize_preserves_chunk_range_clustering(spark, tmp_path):
    """Compacting a chunked log table must keep range clustering on
    the recorded chunk column: post-OPTIMIZE files cover DISJOINT
    chunk ranges (parquet min/max prune time predicates), surviving
    a commit-log checkpoint of the partition_col metadata."""
    import pyarrow.parquet as pq

    store = TxnStateStore(spark, str(tmp_path / "rng"))
    df = spark.createDataFrame(
        [(i, str(i % 24)) for i in range(4800)], "id long, hr string")
    for k in range(4):
        store.append("log", df.filter(F.col("id") % 4 == k),
                     partition_by="hr")
    store.checkpoint_log(keep=2)  # partition_col must survive folding
    store.optimize("log", num_files=4)
    files = [os.path.join(dp, f)
             for p in store.current_paths("log")
             for dp, _, fs in os.walk(p)
             for f in fs if f.endswith(".parquet")]
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("hr")
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            los.append(st.min)
            his.append(st.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges  # disjoint (touching allowed)
    assert store.read("log").count() == 4800


def test_partition_col_survives_replace_only_checkpoint(spark, tmp_path):
    """Round-8 review regression: after compaction folds every append
    into a replace, a commit-log checkpoint must still carry the
    recorded chunk column — and a FRESH store replaying the folded
    log must range-cluster the next optimize, not hash-repartition."""
    store = TxnStateStore(spark, str(tmp_path / "pc"))
    df = spark.createDataFrame([(i, str(i % 4)) for i in range(64)],
                               "id long, hr string")
    for k in range(3):
        store.append("log", df.filter(F.col("id") % 3 == k),
                     partition_by="hr")
    store.optimize("log", num_files=2)   # live state is now replace-only
    for _ in range(12):                  # bury the appends, then fold
        store.append("other", df.limit(1))
    store.checkpoint_log(keep=2)
    fresh = TxnStateStore(spark, str(tmp_path / "pc"))
    assert fresh.snapshot().tables["log"]["partition_col"] == "hr"
    # and stale chunk metadata does not leak into the stats report
    info = {i["table_name"]: i for i in fresh.table_info()}
    assert info["log"]["appends"] == 0 and info["log"]["chunks"] == 0


def test_replace_clears_stale_chunk_metadata(spark, tmp_path):
    """table_info must not report phantom chunks after a compaction
    supersedes the chunked appends (round-8 review regression)."""
    store = TxnStateStore(spark, str(tmp_path / "ph"))
    df = spark.createDataFrame([(i, str(i % 2)) for i in range(10)],
                               "id long, hr string")
    store.append("t", df, partition_by="hr")
    info = {i["table_name"]: i for i in store.table_info()}
    assert info["t"]["chunks"] == 2
    store.overwrite("t", store.read("t"))
    info = {i["table_name"]: i for i in store.table_info()}
    assert info["t"]["appends"] == 0 and info["t"]["chunks"] == 0
    assert store.append_partitions("t") == {}


def test_snapshot_diff_classification(spark):
    """operators.diff.snapshot_diff: added / removed / changed /
    unchanged (dropped), with null-safe value compares — incl. the
    'removed' branch the rib-merge oracle scenario can never reach."""
    from obmp_psql_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [("p", "k1", "a", 1), ("p", "k2", None, 2), ("p", "k3", "c", 3),
         ("p", "k4", "d", 4)],
        "peer string, hash string, attr string, v int")
    new = spark.createDataFrame(
        [("p", "k1", "a", 1),            # unchanged -> dropped
         ("p", "k2", "B", 2),            # changed (NULL -> 'B')
         ("p", "k4", None, 4),           # changed ('d' -> NULL)
         ("p", "k5", "e", 5)],           # added; k3 removed
        "peer string, hash string, attr string, v int")
    got = {r["hash"]: r.asDict() for r in snapshot_diff(
        old, new, keys=["peer", "hash"],
        compare_cols=["attr", "v"]).collect()}
    assert set(got) == {"k2", "k3", "k4", "k5"}
    assert got["k2"]["change"] == "changed"
    assert got["k2"]["old_attr"] is None and got["k2"]["new_attr"] == "B"
    assert got["k3"]["change"] == "removed"
    assert got["k3"]["old_attr"] == "c" and got["k3"]["new_attr"] is None
    assert got["k4"]["change"] == "changed"
    assert got["k5"]["change"] == "added"
    assert got["k5"]["new_v"] == 5 and got["k5"]["old_v"] is None


def test_snapshot_diff_null_keys(spark):
    """A NULL key VALUE must not read as 'row absent on this side':
    the join is null-safe, presence comes from literal markers."""
    from obmp_psql_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(None, "a", 1), ("k2", None, 2), ("k3", "c", 3)],
        "hash string, attr string, v int")
    new = spark.createDataFrame(
        [(None, "A", 1), ("k3", "c", 3)],
        "hash string, attr string, v int")
    got = {r["hash"]: r.asDict() for r in snapshot_diff(
        old, new, keys=["hash"], compare_cols=["attr", "v"]).collect()}
    # NULL-key row present on BOTH sides with a changed value
    assert got[None]["change"] == "changed"
    assert got[None]["old_attr"] == "a" and got[None]["new_attr"] == "A"
    # k2 exists only in old -> removed (NOT 'added')
    assert got["k2"]["change"] == "removed"
    # k3 unchanged -> dropped
    assert "k3" not in got


def test_concurrent_staging_commits_atomically(spark, tmp_path):
    """The log append and state replace of one micro-batch stage from
    parallel threads (state.stage_concurrently): both
    actions land in ONE commit, results identical to sequential
    staging, and a failing thunk aborts the whole txn with nothing
    visible and no orphaned staged dirs in the snapshot."""
    from obmp_psql_spark.state import stage_concurrently

    store = TxnStateStore(spark, str(tmp_path))
    with store.transaction("conc", 0) as txn:
        stage_concurrently(
            lambda: txn.replace("t1", df(spark, [("a", 1), ("b", 2)])),
            lambda: txn.append("t2", df(spark, [("c", 3)])),
        )
    v = store.snapshot().version
    assert as_dict(store, "t1") == {"a": 1, "b": 2}
    assert as_dict(store, "t2") == {"c": 3}
    # one commit carried both actions
    rec = json.load(open(os.path.join(
        str(tmp_path), _LOG_DIR, f"{v:020d}.json")))
    assert {a["table"] for a in rec["actions"]} == {"t1", "t2"}

    # failure in one thunk: the other completes, then the exception
    # aborts the txn — nothing new becomes visible
    def boom():
        raise RuntimeError("staging failed")

    with pytest.raises(RuntimeError, match="staging failed"):
        with store.transaction("conc", 1) as txn:
            stage_concurrently(
                lambda: txn.replace("t1", df(spark, [("x", 9)])),
                boom,
            )
    assert store.snapshot().version == v
    assert as_dict(store, "t1") == {"a": 1, "b": 2}

    # many small concurrent appends: metadata list stays consistent
    with store.transaction("conc", 2) as txn:
        stage_concurrently(*[
            (lambda i=i: txn.append("t3", df(spark, [(f"k{i}", i)])))
            for i in range(6)])
    assert as_dict(store, "t3") == {f"k{i}": i for i in range(6)}


def _schema_probe_df(spark):
    """Non-nullable columns, nested struct/array/map, decimal and
    timestamp — everything the reader's nullable form rewrites."""
    return spark.range(8).select(
        F.col("id"),
        (F.col("id") % 3).cast("short").alias("k"),
        F.col("id").cast("string").alias("s"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.array(F.col("id").cast("double")).alias("v"),
        F.create_map(F.lit("a"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("x")).alias("st"),
        F.lit(1.5).cast("decimal(10,2)").alias("d"))


def _stage_every_kind(spark, store):
    df = _schema_probe_df(spark)
    store.overwrite("flat", df)
    store.append("log", df)
    store.append("chunked", df, partition_by="k")
    with store.transaction() as txn:
        txn.replace_bucketed("b", df, ["id"], 4)
    touched = [min(store.bucket_map("b"))]
    with store.transaction() as txn:
        txn.merge_buckets("b", store.read_buckets("b", touched), ["id"], 4,
                          touched)


def _jobs_planned(spark, build) -> list[int]:
    """Spark job ids started while ``build`` runs (status store)."""
    sc = spark.sparkContext
    sc.setJobGroup("recorded-schema-read", "store reads under test")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup("recorded-schema-read"))


def test_staged_schema_equals_parquet_inference(spark, tmp_path):
    """Every staging kind records the schema it wrote in the nullable
    form Spark's parquet reader infers for the staged files."""
    from pyspark.sql import types as T

    store = TxnStateStore(spark, str(tmp_path / "s"))
    _stage_every_kind(spark, store)
    kinds = set()
    log_dir = tmp_path / "s" / _LOG_DIR
    for name in sorted(os.listdir(log_dir)):
        for act in json.loads((log_dir / name).read_text())["actions"]:
            kinds.add(act["kind"])
            path = os.path.join(store.root, act["dir"])
            if "present" in act:  # bucketed: each bucket dir is a root
                path = os.path.join(path, f"_bucket={act['present'][0]}")
            recorded = T.StructType.fromJson(json.loads(act["schema"]))
            assert recorded == spark.read.parquet(path).schema, act["kind"]
    assert kinds == {"replace", "append", "replace_bucketed",
                     "merge_buckets"}


def test_recorded_schema_reads_plan_no_job(spark, tmp_path):
    """Reads of recorded dirs (flat, appends, bucket maps, pruned
    buckets) start no Spark job, before and after the log is folded
    into a checkpoint; the rows read back unchanged."""
    store = TxnStateStore(spark, str(tmp_path / "s"))
    _stage_every_kind(spark, store)
    tables = ("flat", "log", "chunked", "b")
    before = {t: sorted(map(repr, store.read(t).collect())) for t in tables}
    for _ in range(2):
        assert _jobs_planned(spark, lambda: [
            store.read(t) for t in tables]) == []
        assert _jobs_planned(spark, lambda: store.read_buckets(
            "b", sorted(store.bucket_map("b")))) == []
        assert {t: sorted(map(repr, store.read(t).collect()))
                for t in tables} == before
        store.checkpoint_log(keep=1)
        store = TxnStateStore(spark, store.root)  # replay the checkpoint
    live = {d for t in tables for d in (
        [store.table_layout(t)["replace"]] + store.table_layout(t)["appends"]
        + list(store.bucket_map(t).values())) if d}
    snap = store.snapshot()
    assert live == {d for t in tables for d in snap.tables[t]["schemas"]}


def test_commit_without_schema_still_reads(spark, tmp_path):
    """A commit record written before actions carried a schema (no
    ``schema`` field) still reads — the reader infers the footer."""
    root = tmp_path / "old"
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string") \
        .write.parquet(str(root / "t" / "v_old"))
    (root / _LOG_DIR).mkdir(parents=True)
    (root / _LOG_DIR / f"{0:020d}.json").write_text(json.dumps({
        "actions": [{"table": "t", "kind": "replace", "dir": "t/v_old",
                     "has_files": True}], "meta": {}, "ts": 0}))
    store = TxnStateStore(spark, str(root))
    assert sorted(tuple(r) for r in store.read("t").collect()) == \
        [(1, "a"), (2, "b")]
    store.append("t", spark.createDataFrame([(3, "c")], "id long, s string"))
    assert store.read("t").count() == 3


def test_bucket_generations_with_added_column_read_as_union(spark, tmp_path):
    """A merge that adds a column leaves bucket dirs with different
    recorded schemas; the table reads as the union of their fields,
    with NULL for the new column in untouched buckets."""
    store = TxnStateStore(spark, str(tmp_path / "s"))
    df = spark.range(16).selectExpr("id", "CAST(id AS STRING) AS s")
    with store.transaction() as txn:
        txn.replace_bucketed("b", df, ["id"], 4)
    touched = [min(store.bucket_map("b"))]
    with store.transaction() as txn:
        txn.merge_buckets("b", store.read_buckets("b", touched)
                          .withColumn("score", F.col("id") * 2.0),
                          ["id"], 4, touched)
    got = {r["id"]: r["score"] for r in store.read("b").collect()}
    fresh = {r["id"] for r in store.read_buckets("b", touched).collect()}
    assert set(got) == set(range(16)) and fresh
    assert all(got[i] == (i * 2.0 if i in fresh else None) for i in got)


def test_table_reads_as_one_relation_equal_to_per_dir_union(spark, tmp_path):
    """A replace dir and several append dirs, one of them with an added
    column, read as ONE parquet relation (no Union in the plan) with
    the same rows as a ``unionByName`` of one read per dir."""
    store = TxnStateStore(spark, str(tmp_path / "s"))
    store.overwrite("t", spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, s string"))
    store.append("t", spark.createDataFrame([(3, "c")], "id long, s string"))
    store.append("t", spark.createDataFrame(
        [(4, "d", 9.5), (5, None, None)], "id long, s string, score double"))
    store.append("t", spark.createDataFrame([(6, "f")], "id long, s string"))
    tab = store.snapshot().tables["t"]
    dirs = [tab["replace"]] + tab["appends"]
    assert len(dirs) == 4
    union = None
    for d in dirs:
        one = store._parquet(tab, [d], [store._abs(d)])
        union = one if union is None else \
            union.unionByName(one, allowMissingColumns=True)
    got = store.read("t")
    assert "Union" not in got._jdf.queryExecution().optimizedPlan().toString()
    assert got.columns == union.columns == ["id", "s", "score"]
    assert sorted(map(repr, got.collect())) == \
        sorted(map(repr, union.collect()))
    assert got.filter("score IS NULL").count() == 5


def test_never_written_table_plans_as_empty_local_relation(spark, tmp_path):
    """A never-written table reads as an empty LocalRelation, so a
    merge_replace into it plans no join and no union: Catalyst prunes
    the anti-join against the empty side."""
    from obmp_psql_spark.operators.rollup import merge_replace

    store = TxnStateStore(spark, str(tmp_path / "s"))
    cur = store.read("ip_rib")
    plan = cur._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation <empty>"), plan
    fresh = spark.range(3).selectExpr(
        "CAST('2024-01-01' AS TIMESTAMP) AS interval_time",
        "CAST(id AS STRING) AS peer_hash_id", "id AS v4_prefixes",
        "id AS v6_prefixes")
    cur = store.read("t_new", fresh.schema)
    merged = merge_replace(cur, fresh, ["interval_time", "peer_hash_id"])
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Union" not in plan, plan
    assert merged.count() == 3
