"""Scheduled maintenance/aggregation jobs — the cron layer
(reference: psql cron calls to update_chg_stats, update_global_ip_rib
& co., 2_aggregations.sql; retention policies 1_base.sql:367-377).

Each job reads from / writes to the state store and keeps its own
incremental watermark (the reference derives it from
``SELECT max(timestamp) FROM global_ip_rib`` — 2_aggregations.sql:
189-190; here it rides in the commit record's metadata, so the
watermark becomes visible atomically WITH the data it describes —
the same guarantee Postgres gives the reference's transactional cron
functions). Orchestrate with any scheduler (cron/Airflow) or the
Structured Streaming ``availableNow`` trigger.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .operators import global_rib as G
from .session import empty_df
from .operators import rollup as R
from .state import TxnStateStore, bucket_of, stage_concurrently, with_bucket


class JobRunner:
    def __init__(self, store: TxnStateStore):
        self.store = store

    # -- watermark bookkeeping (O2 / SURVEY §7 known-hard #4) ----------
    def get_watermark(self, job: str) -> dt.datetime | None:
        v = self.store.get_meta(f"watermark_{job}")
        return dt.datetime.fromisoformat(v) if v else None

    # -- jobs ----------------------------------------------------------
    def run_chg_stats(self, now: dt.datetime | None = None,
                      window: dt.timedelta = dt.timedelta(minutes=5)) -> None:
        """update_chg_stats equivalent (2_aggregations.sql:87-133):
        recompute the trailing window and merge-replace by bucket key.

        The log is scanned once: the union of the 1-min and 2-min
        windows is sliced and materialized, and the three stats
        tables aggregate that slice (each re-applies its own window)
        and stage concurrently."""
        now = now or dt.datetime.utcnow()
        log = self.store.read("ip_rib_log").filter(
            R.window_pred(now, window, 60) | R.window_pred(now, window, 120)
        ).localCheckpoint()
        merged = []
        for table, fresh, keys in (
            ("stats_chg_bypeer", R.chg_stats_bypeer(log, now, window),
             ["interval_time", "peer_hash_id"]),
            ("stats_chg_byasn", R.chg_stats_byasn(log, now, window),
             ["interval_time", "peer_hash_id", "origin_as"]),
            ("stats_chg_byprefix", R.chg_stats_byprefix(log, now, window),
             ["interval_time", "peer_hash_id", "prefix"]),
        ):
            cur = self.store.read(table, fresh.schema)
            merged.append((table, R.merge_replace(cur, fresh, keys)))
        # one transaction for all three stats tables: a crash cannot
        # leave bypeer updated but byasn stale (the reference's
        # update_chg_stats is likewise one plpgsql transaction)
        with self.store.transaction() as txn:
            stage_concurrently(*(
                lambda t=t, df=df: txn.replace(t, df) for t, df in merged))

    def _replace_keep_layout(self, txn, table: str, df) -> None:
        """Replace a table without silently de-bucketing it."""
        spec = self.store.bucket_spec(table)
        if spec:
            txn.replace_bucketed(table, df, *spec)
        else:
            txn.replace(table, df)

    GLOBAL_KEY = ["prefix", "recv_origin_as"]

    # full_sync is the explicit semantic resync, not a performance
    # lever: direct measurement (2M and 20M rib, churn from 0.5% to
    # 100% of the key space, BENCH_churn_auto.json) found no churn
    # shape where the full rebuild is cheaper than the incremental
    # merge. The slice-only aggregate drifts per-prefix counts until a
    # rebuild; the reference schedules sync_global_ip_rib as its own
    # cron (2_aggregations.sql:280-353).
    def run_global_rib(self, now: dt.datetime | None = None,
                       max_interval: dt.timedelta = dt.timedelta(hours=2),
                       buckets: int | str | None = None,
                       full_sync: bool = False) -> None:
        """update_global_ip_rib equivalent with persisted watermark
        (2_aggregations.sql:181-275).

        ``buckets`` (or an already-bucketed table): incremental merge
        path — consolidate only the watermark slice, read only the
        state buckets its keys touch, re-enrich that subset, commit a
        partial bucket merge. ``buckets="auto"`` sizes the count by
        the constant-bucket law (``state.suggest_buckets`` over the
        current global table's footer rows; an already-bucketed table
        keeps its committed count — bucket count is layout, changed
        only by an explicit migration). The reference's UPDATE ... WHERE
        timestamp >= start does exactly this row-pruned work inside
        Postgres; at 100 TB the bucketed merge keeps the job O(churn)
        instead of O(global table).

        ``full_sync``: True forces the full rebuild — the EXPLICIT
        semantic resync (slice-only aggregates drift per-prefix
        counts until a rebuild; the reference schedules
        sync_global_ip_rib as its own cron for the same reason).
        False (default) takes the incremental path."""
        now = now or dt.datetime.utcnow()
        spec = self.store.bucket_spec("global_ip_rib")
        if isinstance(buckets, str) and buckets != "auto":
            # only the exact sentinel is meaningful; a typo ("Auto")
            # or a numeric string from config would otherwise flow
            # into bucket_of() and fail late inside Spark or commit a
            # bogus layout
            raise ValueError(
                f"buckets must be an int or the string 'auto', "
                f"got {buckets!r}")
        if buckets == "auto":
            from .state import suggest_buckets
            # an already-bucketed table keeps its committed count
            # (layout changes only by explicit migration); a FRESH
            # table must size from the SOURCE footprint — the target
            # global table is empty before the first consolidation,
            # so sizing from it alone would freeze the floor count
            # (4) forever regardless of how large the first fold-in is
            buckets = (spec[1] if spec else
                       suggest_buckets(
                           max(self.store.table_rows("global_ip_rib"),
                               self.store.table_rows("ip_rib"))))
        n = buckets or (spec[1] if spec else None)
        # any truthy value forces the rebuild (callers pass 1 / numpy
        # bools; `is True` would silently demote them to the
        # incremental path and the documented drift-reset would never
        # run)
        if full_sync:
            # sync_global_ip_rib (2_aggregations.sql:280-353): rebuild
            # from the whole RIB, ignoring the watermark; layout kept
            out = G.update_global_ip_rib(
                empty_df(self.store.spark,
                         self.store.read("global_ip_rib").schema),
                self.store.read("ip_rib"),
                info_route=self.store.read("info_route"),
                rpki=self.store.read("rpki_validator"),
                now=now, last_query_time=None,
                max_interval=dt.timedelta(days=365 * 100))
            with self.store.transaction() as txn:
                if n:
                    txn.replace_bucketed("global_ip_rib", out,
                                         self.GLOBAL_KEY, n)
                else:
                    txn.replace("global_ip_rib", out)
                txn.set_meta("watermark_global_ip_rib", now.isoformat())
            return
        if n is None:
            out = G.update_global_ip_rib(
                self.store.read("global_ip_rib"),
                self.store.read("ip_rib"),
                info_route=self.store.read("info_route"),
                rpki=self.store.read("rpki_validator"),
                now=now,
                last_query_time=self.get_watermark("global_ip_rib"),
                max_interval=max_interval,
            )
            with self.store.transaction() as txn:
                txn.replace("global_ip_rib", out)
                # watermark commits atomically with its data
                txn.set_meta("watermark_global_ip_rib", now.isoformat())
            return

        if self.store.table_layout("global_ip_rib")["replace"] is not None:
            # one-time migration: fold the monolithic snapshot into
            # the bucketed layout with a full (but final) rewrite
            out = G.update_global_ip_rib(
                self.store.read("global_ip_rib"), self.store.read("ip_rib"),
                info_route=self.store.read("info_route"),
                rpki=self.store.read("rpki_validator"), now=now,
                last_query_time=self.get_watermark("global_ip_rib"),
                max_interval=max_interval)
            with self.store.transaction() as txn:
                txn.replace_bucketed("global_ip_rib", out,
                                     self.GLOBAL_KEY, n)
                txn.set_meta("watermark_global_ip_rib", now.isoformat())
            return
        start = G.select_start_time(
            now, self.get_watermark("global_ip_rib"), max_interval)
        # the incremental slice is small (churn since watermark):
        # materialize it once — it feeds the merge and the enrichment
        # passes — and observe, in that same job, the state buckets its
        # keys touch (at most n of them) for bucket pruning
        obs = Observation()
        fresh = G.consolidate(self.store.read("ip_rib"), start).observe(
            obs, F.collect_set(bucket_of(self.GLOBAL_KEY, n)).alias("b")
        ).localCheckpoint()
        touched = sorted(obs.get["b"])
        out = G.enrich_irr(
            G.merge_global(
                self.store.read_buckets("global_ip_rib", touched), fresh),
            self.store.read("info_route"), start)
        # one shuffle by bucket: the RPKI aggregate clusters on it and
        # merge_buckets writes it without another
        out = G.enrich_rpki(
            with_bucket(out, self.GLOBAL_KEY, n, max(len(touched), 1)),
            self.store.read("rpki_validator"), start)
        with self.store.transaction() as txn:
            txn.merge_buckets("global_ip_rib", out, self.GLOBAL_KEY,
                              n, touched)
            txn.set_meta("watermark_global_ip_rib", now.isoformat())

    def run_peer_rib_counts(self, now: dt.datetime | None = None) -> None:
        """update_peer_rib_counts (15-min snapshot, A7)."""
        now = now or dt.datetime.utcnow()
        fresh = R.peer_rib_counts(self.store.read("ip_rib"), now)
        cur = self.store.read("stats_peer_rib", fresh.schema)
        self.store.overwrite(
            "stats_peer_rib",
            R.merge_replace(cur, fresh, ["interval_time", "peer_hash_id"]))

    def run_origin_stats(self, now: dt.datetime | None = None) -> None:
        """update_origin_stats (hourly, A6) over the global RIB."""
        now = now or dt.datetime.utcnow()
        fresh = R.origin_stats(self.store.read("global_ip_rib"), now)
        cur = self.store.read("stats_ip_origins", fresh.schema)
        self.store.overwrite(
            "stats_ip_origins",
            R.merge_replace(cur, fresh, ["interval_time", "asn"]))

    def run_compaction(self, table: str = "ip_rib_log",
                       target_partitions: int = 8) -> None:
        """Small-file compaction for append-heavy logs (every
        micro-batch appends a few files; Delta OPTIMIZE equivalent).
        Delegates to ``TxnStateStore.optimize``, which picks the
        layout-preserving rewrite: bucketed tables re-stage through
        ``replace_bucketed`` with their committed key/bucket spec
        (never silently de-bucketed), chunked log tables re-cluster
        by range on their recorded chunk column (min/max pruning
        survives compaction), everything else coalesces."""
        self.store.optimize(table, num_files=target_partitions)
        # fold the commit-log prefix into a checkpoint record so log
        # replay stays O(recent) under continuous micro-batching
        self.store.checkpoint_log()

    @staticmethod
    def needs_compaction(info: dict, threshold: int) -> bool:
        """THE compaction predicate — one definition so the stats
        report, the inline hook, and the maintenance cycle can never
        disagree about what was compacted."""
        return info["appends"] >= threshold

    def run_store_stats(self, compact_when_appends: int | None = None
                        ) -> list[dict]:
        """The ``show_table_info()`` ops report (5_functions.sql:13-35)
        over the txn store — per-table live files / footer rows / bytes
        / appends-since-replace — and, when ``compact_when_appends`` is
        set, the compaction-cadence decision it exists to feed: any
        table for which ``needs_compaction`` holds is compacted in
        place through the layout-preserving ``optimize``
        (BENCH_compaction: 149x scan tax when this is missed; log
        folding is left to the vacuum/maintenance cadence). Returns
        the stats as measured BEFORE compaction."""
        stats = self.store.table_info()
        if compact_when_appends is not None:
            for info in stats:
                if self.needs_compaction(info, compact_when_appends):
                    self.store.optimize(info["table_name"])
        return stats

    def run_vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Reclaim unreferenced data dirs (crash orphans, GC'd
        history) and fold the commit log — the VACUUM + checkpoint
        maintenance pair every lakehouse deployment schedules."""
        removed = self.store.vacuum(min_age_seconds=min_age_seconds)
        self.store.checkpoint_log()
        return removed

    def run_maintenance(self, compact_when_appends: int = 8,
                        vacuum_age_seconds: float = 3600.0) -> dict:
        """One-call operational cycle, the cron entry a deployment
        schedules between ingest triggers: measure (store stats, the
        show_table_info report), act (threshold compaction for any
        table whose append backlog crossed the line — the 149x scan
        tax guard), reclaim (age-gated vacuum), fold (commit-log
        checkpoint, via run_vacuum). Returns what it saw and did so
        the run is auditable: {'stats': [...], 'compacted': [...],
        'vacuumed': [...]}."""
        stats = self.run_store_stats(
            compact_when_appends=compact_when_appends)
        compacted = [i["table_name"] for i in stats
                     if self.needs_compaction(i, compact_when_appends)]
        removed = self.run_vacuum(min_age_seconds=vacuum_age_seconds)
        return {"stats": stats, "compacted": compacted,
                "vacuumed": removed}

    # every add_retention_policy in the reference schema, as
    # (table, timestamp column, window) — 1_base.sql:236,261,369,
    # 539,635,698; 2_aggregations.sql:28,54,81,161,414,464;
    # 10_l3vpn.sql:75,175,206,232
    RETENTION_POLICIES: tuple[tuple[str, str, dt.timedelta], ...] = (
        ("ip_rib_log", "timestamp", dt.timedelta(days=60)),
        ("l3vpn_rib_log", "timestamp", dt.timedelta(days=60)),
        ("peer_event_log", "timestamp", dt.timedelta(days=120)),
        ("stat_reports", "timestamp", dt.timedelta(weeks=8)),
        ("ls_nodes_log", "timestamp", dt.timedelta(weeks=8)),
        ("ls_links_log", "timestamp", dt.timedelta(weeks=8)),
        ("ls_prefixes_log", "timestamp", dt.timedelta(weeks=8)),
        ("stats_chg_bypeer", "interval_time", dt.timedelta(weeks=4)),
        ("stats_chg_byasn", "interval_time", dt.timedelta(weeks=4)),
        ("stats_chg_byprefix", "interval_time", dt.timedelta(weeks=4)),
        ("stats_ip_origins", "interval_time", dt.timedelta(weeks=4)),
        ("stats_peer_rib", "interval_time", dt.timedelta(weeks=4)),
        ("stats_peer_update_counts", "interval_time", dt.timedelta(weeks=4)),
        ("stats_l3vpn_chg_bypeer", "interval_time", dt.timedelta(weeks=4)),
        ("stats_l3vpn_chg_byprefix", "interval_time", dt.timedelta(weeks=4)),
        ("stats_l3vpn_chg_byrd", "interval_time", dt.timedelta(weeks=4)),
    )

    def _purge_table(self, txn, table: str, ts_col: str,
                     horizon: dt.datetime) -> None:
        """drop_chunks for one table: when it consists purely of
        hour-partitioned append dirs (the streaming layout), a
        METADATA drop of the wholly-expired dirs — O(1) per chunk, no
        data read, boundary chunks survive until fully expired
        (Timescale chunk-granularity semantics). Otherwise (compacted
        base present / unpartitioned appends) an exact filter
        rewrite. Absent/empty tables are skipped."""
        layout = self.store.table_layout(table)
        if layout["replace"] is None and not layout["appends"]:
            return  # table never written
        parts = self.store.append_partitions(table)

        def hour_expired(v: str) -> bool:
            try:
                return dt.datetime.fromisoformat(v) \
                    + dt.timedelta(hours=1) <= horizon
            except ValueError:  # hive null partition etc.
                return False

        if layout["replace"] is None and layout["all_partitioned"]:
            expired = [
                d for d in layout["appends"]
                if parts[d] and all(hour_expired(v) for v in parts[d])
            ]
            if expired:
                txn.drop_appends(table, expired)
        else:
            df = self.store.read(table)
            txn.replace(table, df.filter(F.col(ts_col) >= F.lit(horizon)))

    def run_retention(self, now: dt.datetime | None = None,
                      withdrawn_age: dt.timedelta = dt.timedelta(hours=4),
                      policies=None) -> None:
        """Retention purges (P10): every log/stats hypertable trims to
        its reference retention window (RETENTION_POLICIES above);
        global_ip_rib additionally drops stale withdrawn rows
        (2_aggregations.sql:166-175). One transaction: a crash cannot
        leave some windows trimmed and others stale."""
        now = now or dt.datetime.utcnow()
        with self.store.transaction() as txn:
            for table, ts_col, window in (policies or self.RETENTION_POLICIES):
                self._purge_table(txn, table, ts_col, now - window)
            self._replace_keep_layout(
                txn, "global_ip_rib",
                G.purge_global_ip_rib(self.store.read("global_ip_rib"), now,
                                      withdrawn_age))
