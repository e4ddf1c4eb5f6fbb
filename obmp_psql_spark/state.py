"""Transactional parquet state store — the MERGE sink for mutable
tables, with a Delta-protocol-style commit log.

The reference maintains mutable Postgres tables (UPSERTs at 3k
rows/300ms, WriterRunnable.java:77-176) where each bulk statement is
one ACID transaction and the AFTER-UPDATE triggers (9_triggers.sql)
append change-log rows *inside that same transaction*. The Spark
-native equivalent is Delta/Iceberg ``MERGE INTO``; this container
has no lakehouse jars, so this module implements the same commit
protocol directly on parquet + a JSON transaction log:

* data files are STAGED first (written to fresh directories no reader
  resolves), then a single commit record in ``_txn_log/`` makes every
  action in the transaction visible atomically — crash before the
  commit record leaves the store at the previous snapshot, with only
  orphaned staging dirs (reclaimed by ``vacuum``);
* a commit may carry a ``txn`` action ``{app, version}`` — exactly
  Delta's idempotent-writer action — so a replayed ``foreachBatch``
  (same batch_id) is a no-op even if the previous attempt crashed
  after data was staged;
* commit visibility uses ``os.link`` (create-exclusive): two racing
  committers cannot both claim the same log version — the loser
  retries against the new snapshot (optimistic concurrency, the
  Delta protocol's conflict rule with the trivial resolution that
  our pipelines write disjoint tables per stream);
* commit records can carry ``meta`` key/values (job watermarks), so
  "data + the watermark describing it" commit together — the
  reference gets this for free from Postgres transactional cron
  functions (2_aggregations.sql:189-201);
* every staging action records the schema it wrote (Delta's
  ``metaData.schemaString``), so reads hand Spark the schema instead
  of running a parquet footer-inference job per read root.

Scale notes: at 100 TB the commit log stays tiny (one small JSON per
micro-batch; checkpoint/compact periodically like Delta does), state
tables are partitioned (ip_rib by peer_hash_id bucket; logs by hour)
and a real lakehouse MERGE touches only matched files. The staging
-then-commit discipline here is storage-layout-compatible with that:
the operator layer is pure (DataFrame in -> DataFrame out) and the
pipeline calls one ``transaction()`` per micro-batch, so swapping
this store for Delta changes one class.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import empty_df

from .schemas import TABLE_SCHEMAS

_LOG_DIR = "_txn_log"
_PAD = 20  # zero-padded commit numbers sort lexicographically


def _has_parquet(path: str) -> bool:
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _read_schema(dtype: T.DataType) -> T.DataType:
    """The schema Spark's parquet reader infers for data written as
    ``dtype``: the same types with every field, array element and map
    value nullable (the file source's ``asNullable``)."""
    if isinstance(dtype, T.StructType):
        return T.StructType([
            T.StructField(f.name, _read_schema(f.dataType), True, f.metadata)
            for f in dtype.fields])
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_read_schema(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(_read_schema(dtype.keyType),
                         _read_schema(dtype.valueType), True)
    return dtype


def _schema_string(df: DataFrame) -> str:
    return _read_schema(df.schema).json()


def bucket_of(key_cols: list[str], n_buckets: int):
    """Stable bucket id for a merge key: Murmur3 (Spark's own hash
    partitioner function, identical across sessions) mod N. Used for
    both routing batch rows and pruning state buckets, so the two
    sides always agree."""
    from pyspark.sql import functions as F
    return F.pmod(F.hash(*key_cols), F.lit(n_buckets))


def with_bucket(df: DataFrame, key_cols: list[str], n_buckets: int,
                parts: int) -> DataFrame:
    """``df`` with its ``_bucket`` column, hash-partitioned on it into
    ``parts`` partitions: the shape a bucketed write stages, one file
    per bucket instead of (tasks x buckets) small files. A caller that
    builds this shape early (to cluster an aggregate on it) hands it
    to ``merge_buckets`` as is, and the write adds no second shuffle."""
    return df.withColumn("_bucket", bucket_of(key_cols, n_buckets)) \
        .repartition(parts, "_bucket")


# Constant-SIZE buckets, count grows with state — the law every churn
# probe runs under (BENCH_churn*: 50k-row buckets at probe scale) and
# the shape real deployments size to (~1 GB of parquet per bucket so a
# partial merge's per-bucket read/write stays a few tasks). The target
# here is rows because the state store sizes layouts before writing;
# at ip_rib's ~100 B/row, 10M rows ≈ 1 GB.
BUCKET_TARGET_ROWS = 10_000_000
BUCKET_COUNT_FLOOR = 4


def suggest_buckets(n_rows: int,
                    target_rows: int = BUCKET_TARGET_ROWS) -> int:
    """Volume-derived bucket count (finding 44's sizing discipline
    applied to the layout knob): ceil(rows / target) with a floor.
    Callers that know their batch shape can still pass an explicit
    count to replace_bucketed/BmpStreamingIngest — this is the
    default-sizing law, not a cap."""
    return max(BUCKET_COUNT_FLOOR, -(-max(n_rows, 0) // target_rows))


def _present_buckets(staged_dir: str) -> list[int]:
    """Bucket ids that actually received files in a staged bucketed
    write (empty buckets write no directory)."""
    out = []
    for name in os.listdir(staged_dir):
        if name.startswith("_bucket=") and _has_parquet(
                os.path.join(staged_dir, name)):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def stage_concurrently(*thunks) -> None:
    """Run the independent staging writes of ONE transaction in
    parallel threads. Staging writes target different tables and all
    land BEFORE the single commit record links in, so atomicity is
    untouched (the Transaction guards its metadata with a lock, and
    if either thunk raises the executor still waits for the other
    before the exception aborts the txn). Overlapping them hides one
    write's task-scheduling + commit latency behind the other's I/O
    — measured ~10-15% off the durable micro-batch on the BMP sink.
    Inputs shared by the thunks must be materialized (persist fill /
    localCheckpoint) BEFORE the call: two concurrent jobs racing a
    cold cache would each recompute the shared stage. A single thunk
    has nothing to overlap and runs in the caller's thread, keeping
    its thread-local job group."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
    for f in futures:
        f.result()


# The compaction law of the incremental indexes: compact a band table
# when its live parquet-file count exceeds this multiple of the
# session's shuffle partitions. Derived from the measured law (SURVEY
# finding 32): per-batch wall grows ~18 ms per accumulated append FILE,
# and compaction at ~100 files (≈3 batches of 32-partition appends)
# held the streaming decade probe flat at ~1.5x the compacted floor.
AUTO_OPTIMIZE_FILE_MULT = 3


def _compaction_limit(spark) -> int:
    """The law's live-file limit. The law needs an integer shuffle
    partition count; vendor distros / AQE configs can set the conf to
    a non-integer string (e.g. "auto"), which must fail before a
    batch commits, never after."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return AUTO_OPTIMIZE_FILE_MULT * int(raw)
    except (TypeError, ValueError):
        raise ValueError(
            "the compaction law requires an integer "
            f"spark.sql.shuffle.partitions; session has {raw!r}") from None


def index_step(store: "TxnStateStore", app: str, batch_id: int, build, *,
               compact: str | None = None) -> None:
    """One micro-batch of an incremental index — the idempotent
    ``foreachBatch`` sink every streaming index shares:

    1. a ``batch_id`` already committed under ``app`` returns before
       any compute (the Delta ``txn`` action; exactly-once under
       at-least-once delivery);
    2. ``build(keep)`` returns the batch's appends as ``(table, df)``
       pairs; an input several appends share goes through ``keep``,
       which persists it;
    3. each kept input is filled with ONE ``noop`` job, so the
       concurrent staging writes never race a cold cache (each would
       recompute the shared stage);
    4. the appends are staged concurrently in one transaction keyed by
       ``(app, batch_id)``;
    5. after the commit, the ``compact`` table is compacted when its
       live file count exceeds AUTO_OPTIMIZE_FILE_MULT x shuffle
       partitions (a commit-log + listing check, no data scan).
       Compaction is its own atomic commit, so replay semantics are
       untouched; a crash between the two defers it to the next batch;
    6. kept inputs are unpersisted whatever happened: a long-running
       stream must not accumulate one cached block per batch."""
    if store.last_txn_version(app) >= batch_id:
        return
    limit = _compaction_limit(store.spark) if compact else None
    kept: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        kept.append(df.persist())
        return kept[-1]

    try:
        appends = build(keep)
        for df in kept:
            df.write.format("noop").mode("overwrite").save()
        with store.transaction(app, batch_id) as txn:
            stage_concurrently(*(lambda t=t, df=df: txn.append(t, df)
                                 for t, df in appends))
        if compact and store.live_file_count(compact) > limit:
            store.optimize(compact)
    finally:
        for df in kept:
            df.unpersist()


class _Snapshot:
    """Materialized view of the commit log at one version."""

    __slots__ = ("version", "tables", "txns", "meta")

    def __init__(self) -> None:
        self.version = -1
        # table -> {"replace": dir|None, "appends": [dir, ...],
        #           "history": [superseded dirs, newest last],
        #           "n_buckets": int|None, "buckets": {bucket: dir},
        #           "schemas": {live dir: recorded schema JSON}, ...}
        self.tables: dict[str, dict] = {}
        self.txns: dict[str, int] = {}   # app -> highest committed version
        self.meta: dict[str, str] = {}

    @staticmethod
    def _new_tab() -> dict:
        return {"replace": None, "appends": [], "history": [],
                "n_buckets": None, "buckets": {}, "key_cols": None,
                "append_parts": {},  # append dir -> partition values
                "partition_col": None,  # the recorded chunk column
                "schemas": {}}  # live dir -> schema JSON it was written with

    @staticmethod
    def _retire(tab: dict, dirs) -> None:
        """Move superseded dirs to history; their schemas leave the
        live map (time travel replays its own snapshot)."""
        for d in dirs:
            tab["history"].append(d)
            tab["schemas"].pop(d, None)

    @staticmethod
    def _record_schema(tab: dict, act: dict, d: str) -> None:
        if act.get("schema"):
            tab["schemas"][d] = act["schema"]

    def apply(self, version: int, commit: dict) -> None:
        self.version = version
        for act in commit.get("actions", []):
            tab = self.tables.setdefault(act["table"], self._new_tab())
            if act["kind"] == "replace":
                if tab["replace"] is not None:
                    self._retire(tab, [tab["replace"]])
                # appends before a replace are superseded (the replace
                # result was computed FROM them); keep for lazy readers
                self._retire(tab, tab["appends"])
                self._retire(tab, sorted(set(tab["buckets"].values())))
                tab["appends"] = []
                tab["append_parts"] = {}  # chunk metadata of superseded appends
                tab["buckets"] = {}
                tab["n_buckets"] = None
                tab["replace"] = act["dir"] if act.get("has_files") else None
                if tab["replace"]:
                    self._record_schema(tab, act, tab["replace"])
                # a checkpoint's folded replace carries the recorded
                # chunk column so range-preserving compaction survives
                # log folding even when no append action remains live
                if act.get("partition_col"):
                    tab["partition_col"] = act["partition_col"]
            elif act["kind"] == "replace_bucketed":
                self._retire(tab, tab["appends"])
                self._retire(tab, sorted(set(tab["buckets"].values())))
                if tab["replace"] is not None:
                    self._retire(tab, [tab["replace"]])
                tab["appends"] = []
                tab["append_parts"] = {}
                tab["replace"] = None
                tab["n_buckets"] = int(act["n_buckets"])
                tab["key_cols"] = act.get("key_cols")
                tab["buckets"] = {int(k): act["dir"] for k in act["present"]}
                if tab["buckets"]:
                    self._record_schema(tab, act, act["dir"])
            elif act["kind"] == "merge_buckets":
                tab["n_buckets"] = int(act["n_buckets"])
                tab["key_cols"] = act.get("key_cols") or tab["key_cols"]
                present = {int(k) for k in act["present"]}
                before = set(tab["buckets"].values())
                for k in (int(k) for k in act["touched"]):
                    if k in present:
                        tab["buckets"][k] = act["dir"]
                    else:
                        tab["buckets"].pop(k, None)  # bucket emptied
                # dirs that no longer serve any bucket are superseded
                after = set(tab["buckets"].values())
                self._retire(tab, sorted(before - after))
                if act["dir"] in after:
                    self._record_schema(tab, act, act["dir"])
            elif act["kind"] == "checkpoint_buckets":
                # emitted only by checkpoint_log: verbatim bucket map
                tab["n_buckets"] = int(act["n_buckets"])
                tab["key_cols"] = act.get("key_cols")
                tab["buckets"] = {int(k): d
                                  for k, d in act["buckets"].items()}
                tab["schemas"].update(act.get("schemas") or {})
            elif act["kind"] == "append":
                if act.get("has_files"):
                    tab["appends"].append(act["dir"])
                    self._record_schema(tab, act, act["dir"])
                    if act.get("partitions"):
                        tab["append_parts"][act["dir"]] = act["partitions"]
                    if act.get("partition_col"):
                        tab["partition_col"] = act["partition_col"]
            elif act["kind"] == "drop_appends":
                # retention metadata-drop: whole expired append dirs
                # leave the snapshot without any data rewrite (the
                # hypertable drop_chunks equivalent, 1_base.sql:369)
                dropped = set(act["dirs"])
                tab["appends"] = [a for a in tab["appends"]
                                  if a not in dropped]
                for a in dropped:
                    tab["append_parts"].pop(a, None)
                self._retire(tab, sorted(dropped))
        txn = commit.get("txn")
        if txn:
            prev = self.txns.get(txn["app"], -1)
            self.txns[txn["app"]] = max(prev, int(txn["version"]))
        for app, v in commit.get("txns", {}).items():  # checkpoint record
            self.txns[app] = max(self.txns.get(app, -1), int(v))
        self.meta.update(commit.get("meta", {}))


class Transaction:
    """Collects staged actions; committed atomically by the store.

    Writes happen eagerly (data must be durable before the commit
    record), visibility happens at commit. Use via
    ``with store.transaction(...) as txn:``.
    """

    def __init__(self, store: "TxnStateStore", app: str | None,
                 version: int | None):
        self.store = store
        self.app = app
        self.version = version
        self.actions: list[dict] = []
        self.meta: dict[str, str] = {}
        self._staged_dirs: list[str] = []
        # table -> partition_by reserved at CHECK time, so two
        # concurrent appends to the same table with different chunk
        # columns can't both pass the conflict guard while neither has
        # recorded its action yet (the action lands only after the
        # Spark write, in a later lock section)
        self._part_reservations: dict[str, str] = {}
        # staging methods may run CONCURRENTLY (independent tables of
        # one txn overlap their Spark write jobs — see
        # stage_concurrently); the lock guards the action/staged-dir
        # metadata, never the write itself
        self._lock = threading.Lock()

    def replace(self, table: str, df: DataFrame,
                write_options: dict | None = None) -> None:
        """Stage a full new snapshot of ``table`` (the result of a
        MERGE computed by the operator layer). ``write_options``
        passes parquet writer options through (bloom filters, page
        sizes) — layout is a property of the staged files, so it
        rides the same atomic commit as the data."""
        d = self.store._stage_dir(table, "v")
        w = df.write.mode("overwrite")
        for k, v in (write_options or {}).items():
            w = w.option(k, v)
        w.parquet(d)
        with self._lock:
            self._staged_dirs.append(d)
            self.actions.append({"table": table, "kind": "replace",
                                 "dir": self.store._rel(d),
                                 "has_files": _has_parquet(d),
                                 "schema": _schema_string(df)})

    def append(self, table: str, df: DataFrame,
               partition_by: str | None = None) -> None:
        """Stage an append (change logs). ``partition_by`` names the
        chunk column — the hypertable-chunk equivalent
        (1_base.sql:367).

        Chunking is METADATA, not directory layout: the distinct
        chunk values are computed from the batch and recorded in the
        commit (that is all retention's drop_appends needs — it drops
        whole append dirs, never sub-chunks), while the data itself
        is written FLAT, range-clustered on the chunk column so each
        file covers a contiguous value range and parquet min/max
        stats prune time predicates at read. A hive dir per hour
        value writes one tiny file + committer rename per hour (~9 s
        for a ~500-hour batch at sf0.1, vs 0.5 s flat); at real scale
        a chunk dir is fine, but flat+stats prunes just as well and
        never degenerates when chunks outnumber rows-per-chunk."""
        d = self.store._stage_dir(table, "a")
        act = {"table": table, "kind": "append",
               "dir": self.store._rel(d), "schema": _schema_string(df)}
        if partition_by:
            # the chunk column is table-level metadata (last writer
            # wins in the snapshot): a second writer appending with a
            # DIFFERENT column would silently re-cluster optimize()
            # on whichever column landed last — refuse instead
            with self._lock:
                recorded = (self.store.snapshot().tables.get(table)
                            or {}).get("partition_col")
                for a in self.actions:  # earlier appends in this txn
                    if a["table"] == table and a.get("partition_col"):
                        recorded = a["partition_col"]
                # concurrent appends: an in-flight append's column is
                # visible here even though its action record lands
                # only after its Spark write finishes
                recorded = recorded or self._part_reservations.get(table)
                if recorded is not None and recorded != partition_by:
                    raise ValueError(
                        f"append to {table!r} partitioned by "
                        f"{partition_by!r}, but the table's recorded "
                        f"chunk column is {recorded!r} — one chunk "
                        f"column per table")
                self._part_reservations[table] = partition_by
            act["partition_col"] = partition_by
            act["partitions"] = sorted(
                r[0] for r in df.select(
                    F.col(partition_by).cast("string"))
                .where(F.col(partition_by).isNotNull())
                .distinct().collect())
            df = (df.repartitionByRange(F.col(partition_by))
                  .sortWithinPartitions(partition_by))
        df.write.mode("overwrite").parquet(d)
        with self._lock:
            self._staged_dirs.append(d)
            act["has_files"] = _has_parquet(d)
            self.actions.append(act)

    def drop_appends(self, table: str, dirs: list[str]) -> None:
        """Metadata-only retention: remove whole committed append
        dirs from the snapshot (files reclaimed by GC/vacuum). The
        Timescale drop_chunks equivalent — O(1) per expired chunk."""
        with self._lock:
            self.actions.append({"table": table, "kind": "drop_appends",
                                 "dirs": sorted(dirs)})

    def replace_bucketed(self, table: str, df: DataFrame,
                         key_cols: list[str], n_buckets: int,
                         write_options: dict | None = None) -> None:
        """Stage a full snapshot hash-bucketed on the merge key.
        Subsequent ``merge_buckets`` commits rewrite only touched
        buckets — the file-level pruning a lakehouse MERGE does
        (Delta matched-file rewrite), O(batch) not O(table).
        ``write_options`` passes parquet writer options through
        (bloom filters on the merge key compose with bucketing:
        the bucket prunes to one dir, the bloom prunes row groups
        inside it)."""
        d = self.store._stage_dir(table, "b")
        # at real scale, size n_buckets so a bucket is ~1 GB
        w = with_bucket(df, key_cols, n_buckets, n_buckets) \
            .write.partitionBy("_bucket").mode("overwrite")
        for k, v in (write_options or {}).items():
            w = w.option(k, v)
        w.parquet(d)
        with self._lock:
            self._staged_dirs.append(d)
            self.actions.append({
                "table": table, "kind": "replace_bucketed",
                "dir": self.store._rel(d), "n_buckets": n_buckets,
                "key_cols": list(key_cols),
                "present": _present_buckets(d),
                "schema": _schema_string(df)})

    def merge_buckets(self, table: str, df: DataFrame,
                      key_cols: list[str], n_buckets: int,
                      touched: list[int]) -> None:
        """Stage the merged state of ONLY the touched buckets; all
        other buckets keep their current files. ``df`` must contain
        exclusively rows whose keys hash into ``touched`` (guaranteed
        when it was merged from ``read_buckets(table, touched)`` plus
        a batch whose keys selected ``touched``). A ``df`` that already
        carries ``_bucket`` (``with_bucket``) is written as it is
        partitioned."""
        tab = self.store.snapshot().tables.get(table, {})
        cur_n = tab.get("n_buckets")
        if cur_n is not None and cur_n != n_buckets:
            raise ValueError(
                f"{table}: bucket count {n_buckets} != committed {cur_n}")
        if tab.get("replace") is not None:
            raise ValueError(
                f"{table}: has a monolithic snapshot; migrate with "
                "replace_bucketed before partial merges (a bucket "
                "overlay on top of it would double-count rows)")
        d = self.store._stage_dir(table, "m")
        if "_bucket" in df.columns:
            staged, df = df, df.drop("_bucket")
        else:
            staged = with_bucket(df, key_cols, n_buckets,
                                 max(len(touched), 1))
        staged.write.partitionBy("_bucket").mode("overwrite").parquet(d)
        with self._lock:
            self._staged_dirs.append(d)
            self.actions.append({
                "table": table, "kind": "merge_buckets",
                "dir": self.store._rel(d), "n_buckets": n_buckets,
                "key_cols": list(key_cols),
                "touched": sorted(int(b) for b in touched),
                "present": _present_buckets(d),
                "schema": _schema_string(df)})

    def set_meta(self, key: str, value: str) -> None:
        """Commit-scoped metadata (e.g. a job watermark) — becomes
        visible atomically with the data actions."""
        self.meta[key] = value

    def abort(self) -> None:
        for d in self._staged_dirs:
            shutil.rmtree(os.path.join(self.store.root, d)
                          if not os.path.isabs(d) else d, ignore_errors=True)
        self.actions = []


class TxnStateStore:
    """Multi-table parquet store with an atomic commit log."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        self._snap = _Snapshot()
        self._replayed = 0  # commits consumed by self._snap
        # (table, snapshot version) -> footer row count, so repeated
        # table_rows calls (e.g. one per auto consolidation cycle)
        # don't re-walk every live file's footer between commits
        self._rows_cache: dict[str, tuple[int, int]] = {}

    # -- paths ---------------------------------------------------------
    def _rel(self, path: str) -> str:
        return os.path.relpath(path, self.root)

    def _abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def _stage_dir(self, table: str, prefix: str) -> str:
        d = os.path.join(self.root, table,
                         f"{prefix}_{uuid.uuid4().hex[:12]}")
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def _log_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:0{_PAD}d}.json")

    # -- snapshot resolution -------------------------------------------
    def _commit_files(self) -> list[str]:
        d = os.path.join(self.root, _LOG_DIR)
        return sorted(n for n in os.listdir(d)
                      if n.endswith(".json") and not n.startswith("."))

    def snapshot(self) -> _Snapshot:
        """Replay any commits newer than the cached snapshot.
        Tmp/partial files are invisible by construction (visibility =
        the os.link'ed final name), so a crashed committer leaves
        nothing here to skip."""
        files = self._commit_files()
        for name in files[self._replayed:]:
            with open(os.path.join(self.root, _LOG_DIR, name)) as f:
                commit = json.load(f)
            self._snap.apply(int(name[:-5]), commit)
        self._replayed = len(files)
        return self._snap

    def snapshot_at(self, version: int) -> _Snapshot:
        """The snapshot as of commit ``version`` (time travel /
        VERSION AS OF). Only versions whose data dirs are still
        retained are fully readable: eager GC keeps one superseded
        generation per table and vacuum prunes the rest — the same
        retention contract Delta time travel has."""
        snap = _Snapshot()
        for name in self._commit_files():
            v = int(name[:-5])
            if v > version:
                break
            with open(os.path.join(self.root, _LOG_DIR, name)) as f:
                snap.apply(v, json.load(f))
        if snap.version < version:
            raise ValueError(f"version {version} not in the commit log "
                             f"(latest is {snap.version})")
        return snap

    # -- read ----------------------------------------------------------
    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """Current committed state: last replace dir + later appends,
        or an empty typed DataFrame if never written."""
        tab = self.snapshot().tables.get(table)
        return self._read_tab(tab, table, schema)

    def read_at(self, table: str, version: int,
                schema: T.StructType | None = None) -> DataFrame:
        """Time-travel read: ``table`` as of commit ``version``.
        Raises if the version's data files were already GC'd/vacuumed
        (retention window exceeded)."""
        tab = self.snapshot_at(version).tables.get(table)
        missing = [p for p in self._paths(tab) if not os.path.isdir(p)]
        if missing:
            raise ValueError(
                f"{table}@v{version}: data files GC'd (retention "
                f"exceeded): {missing[:3]}")
        return self._read_tab(tab, table, schema)

    def _parquet(self, tab: dict, dirs: list[str],
                 paths: list[str]) -> DataFrame:
        """Read ``paths`` (under the committed ``dirs``) with the
        schema their commit actions recorded — no footer-inference
        job. Several dirs with different recorded schemas (a column
        added between bucket generations or appends) read as the union
        of their fields, as parquet schema merging would; a file
        without a field reads it as null. A dir committed without a
        recorded schema (an older log) is inferred, merging footers."""
        recorded = [tab["schemas"].get(d) for d in dict.fromkeys(dirs)]
        if not all(recorded):
            return self.spark.read.option("mergeSchema", "true") \
                .parquet(*paths)
        fields: dict[str, T.StructField] = {}
        for js in dict.fromkeys(recorded):
            for f in T.StructType.fromJson(json.loads(js)).fields:
                fields.setdefault(f.name, f)
        return self.spark.read.schema(
            T.StructType(list(fields.values()))).parquet(*paths)

    def _read_tab(self, tab: dict | None,
                  table: str, schema: T.StructType | None) -> DataFrame:
        """Assemble a snapshot DataFrame from a table's commit entry:
        ONE multi-root parquet relation over the replace dir, the live
        bucket leaves (``<dir>/_bucket=k``) and every append dir, read
        with the union of their recorded schemas (``_parquet``). Every
        root is a flat leaf (appends record their chunk column as
        metadata, not as hive dirs), so multi-root partition discovery
        finds no partition columns to disagree on. One relation keeps
        planning flat in the root count (``ip_rib_log`` gains an append
        dir per micro-batch until compaction); a ``unionByName`` branch
        per root grew plan analysis with it (a 32-bucket table took ~7 s
        to assemble at sf0.1, ~0.2 s as one read). A never-written
        table reads as ``empty_df`` of
        ``schema`` (default: its ``TABLE_SCHEMAS`` entry), which
        Catalyst can prune."""
        paths = self._paths(tab)
        if paths:
            dirs = ([tab["replace"]] if tab["replace"] else []) \
                + [d for _, d in sorted(tab["buckets"].items())] \
                + tab["appends"]
            return self._parquet(tab, dirs, paths)
        return empty_df(self.spark, schema or TABLE_SCHEMAS[table])

    def read_buckets(self, table: str, buckets: list[int],
                     schema: T.StructType | None = None) -> DataFrame:
        """State of ONLY the given buckets — the pruned read side of
        a partial merge (every other bucket's files are untouched, so
        the merge never scans them)."""
        tab = self.snapshot().tables.get(table)
        live = [k for k in buckets if k in tab["buckets"]] if tab else []
        if live:
            dirs = [tab["buckets"][k] for k in live]
            return self._parquet(tab, dirs, [
                os.path.join(self._abs(d), f"_bucket={k}")
                for k, d in zip(live, dirs)])
        return empty_df(self.spark, schema or TABLE_SCHEMAS[table])

    def bucket_map(self, table: str) -> dict[int, str]:
        """bucket id -> committed dir (relative); for tests/ops."""
        tab = self.snapshot().tables.get(table)
        return dict(tab["buckets"]) if tab else {}

    def bucket_spec(self, table: str) -> tuple[list[str], int] | None:
        """(key_cols, n_buckets) of a bucketed table, else None —
        lets maintenance jobs rewrite without de-bucketing. Gated on
        the recorded ``n_buckets``, NOT the bucket map: a committed
        bucketed table whose current snapshot is empty (present=[])
        has buckets={} but is still bucketed — optimize() must keep
        the bucketed rewrite or a later merge_buckets would find a
        monolithic snapshot."""
        tab = self.snapshot().tables.get(table)
        if tab and tab["n_buckets"] and tab["key_cols"]:
            return list(tab["key_cols"]), tab["n_buckets"]
        return None

    def append_partitions(self, table: str) -> dict[str, list[str]]:
        """Committed append dir (relative) -> its recorded partition
        values; dirs written without partition_by are absent."""
        tab = self.snapshot().tables.get(table)
        return {d: list(v) for d, v in tab["append_parts"].items()} \
            if tab else {}

    def table_layout(self, table: str) -> dict:
        """Introspection for jobs: replace dir, append dirs,
        partitioned-append coverage."""
        tab = self.snapshot().tables.get(table)
        if not tab:
            return {"replace": None, "appends": [], "all_partitioned": True}
        return {"replace": tab["replace"], "appends": list(tab["appends"]),
                "all_partitioned": all(a in tab["append_parts"]
                                       for a in tab["appends"])}

    def _paths(self, tab: dict | None) -> list[str]:
        """A table entry's data dirs (replace dir or bucket subdirs,
        + later appends), absolute. Empty if never written."""
        if not tab:
            return []
        out = [self._abs(tab["replace"])] if tab["replace"] else []
        out.extend(os.path.join(self._abs(d), f"_bucket={k}")
                   for k, d in sorted(tab["buckets"].items()))
        out.extend(self._abs(p) for p in tab["appends"])
        return out

    def current_paths(self, table: str) -> list[str]:
        """Committed data dirs for ``table``, absolute."""
        return self._paths(self.snapshot().tables.get(table))

    def live_file_count(self, table: str) -> int:
        """Number of live parquet data files for ``table`` — commit
        log + directory listing only, no footer reads. The input to
        the incremental indexes' compaction law (``index_step``):
        per-batch wall grows with accumulated FILES (driver listing +
        task scheduling), not rows (SURVEY finding 32)."""
        n = 0
        for root in self.current_paths(table):
            for _, _, fnames in os.walk(root):
                n += sum(f.endswith(".parquet") for f in fnames)
        return n

    def table_rows(self, table: str) -> int:
        """Footer-only live row count for ONE table (the single-table
        slice of ``table_info``): parquet footer ``num_rows`` summed
        over live files — O(files) metadata reads, no data scan. Cost
        input for the churn-census sink-shape choice (a lakehouse
        catalog serves this from its manifest). Memoized per table at
        the CURRENT snapshot version only — a stale entry is replaced
        when the version moves, so a long-running streaming driver
        calling this once per commit cycle holds one entry per table,
        not one per (table, commit)."""
        import pyarrow.parquet as pq

        version = self.snapshot().version
        hit = self._rows_cache.get(table)
        if hit is not None and hit[0] == version:
            return hit[1]
        rows = 0
        for root in self.current_paths(table):
            for dirpath, _, fnames in os.walk(root):
                for f in fnames:
                    if f.endswith(".parquet"):
                        rows += pq.ParquetFile(
                            os.path.join(dirpath, f)).metadata.num_rows
        self._rows_cache[table] = (version, rows)
        return rows

    def table_info(self) -> list[dict]:
        """Operational stats per table — the ``show_table_info`` ops
        report (reference database/5_functions.sql:13-35: per-table
        row estimate + total/index/toast bytes out of pg_class). The
        Spark-native equivalent reads parquet FOOTERS + the commit
        log — no data scan, exactly like Postgres serving catalog
        estimates — and is the input an OPTIMIZE decision
        needs (BENCH_compaction: a 149x scan tax when appends
        accumulate uncompacted).

        One dict per table: layout (flat|bucketed), live file /
        row-group / byte / row totals from footers, appends since the
        last replace generation, distinct recorded chunk values,
        bucket count, and the snapshot version. At 100 TB this walks
        file metadata only (a lakehouse catalog serves the same
        numbers from its manifest); row counts come from footer
        ``num_rows`` so cost is O(files), not O(rows)."""
        import pyarrow.parquet as pq

        snap = self.snapshot()
        out = []
        for table in sorted(snap.tables):
            tab = snap.tables[table]
            files: list[str] = []
            for root in self.current_paths(table):
                for dirpath, _, fnames in os.walk(root):
                    files.extend(os.path.join(dirpath, f)
                                 for f in fnames if f.endswith(".parquet"))
            rows = groups = nbytes = 0
            for f in sorted(files):
                md = pq.ParquetFile(f).metadata
                rows += md.num_rows
                groups += md.num_row_groups
                nbytes += os.path.getsize(f)
            chunks: set[str] = set()
            for vals in tab["append_parts"].values():
                chunks.update(vals)
            out.append({
                "table_name": table,
                # n_buckets, not the bucket map: an empty bucketed
                # snapshot is still a bucketed table
                "layout": "bucketed" if tab["n_buckets"] else "flat",
                "files": len(files),
                "row_groups": groups,
                "bytes": nbytes,
                "rows": rows,
                "appends": len(tab["appends"]),
                "chunks": len(chunks),
                "n_buckets": int(tab["n_buckets"] or 0),
                "version": snap.version,
            })
        return out

    def get_meta(self, key: str, default: str | None = None) -> str | None:
        return self.snapshot().meta.get(key, default)

    def last_txn_version(self, app: str) -> int:
        """Highest batch version committed under ``app`` (-1 if none)
        — the idempotent-replay check for foreachBatch handlers."""
        return self.snapshot().txns.get(app, -1)

    # -- write ---------------------------------------------------------
    def transaction(self, app: str | None = None,
                    version: int | None = None) -> "_TxnContext":
        """Open a transaction. If (app, version) is given and that
        version is already committed, the body is SKIPPED entirely
        (exactly-once under foreachBatch retry, Delta txn action)."""
        return _TxnContext(self, app, version)

    def _commit(self, txn: Transaction) -> bool:
        if txn.app is not None and txn.version is not None \
                and self.last_txn_version(txn.app) >= txn.version:
            txn.abort()  # lost an idempotency race: drop staged data
            return False
        record = {"actions": txn.actions, "meta": txn.meta,
                  "ts": time.time()}
        if txn.app is not None and txn.version is not None:
            record["txn"] = {"app": txn.app, "version": txn.version}
        tmp = os.path.join(self.root, _LOG_DIR,
                           f".tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            while True:
                target = self._log_path(self.snapshot().version + 1)
                try:
                    os.link(tmp, target)  # atomic + create-exclusive
                    break
                except FileExistsError:
                    # another committer won this version: re-resolve
                    # the snapshot (and re-check idempotency) and retry
                    if txn.app is not None and txn.version is not None \
                            and self.last_txn_version(txn.app) >= txn.version:
                        txn.abort()
                        return False
        finally:
            os.unlink(tmp)
        self.snapshot()
        self._gc(txn.actions)
        return True

    def _gc(self, actions: list[dict]) -> None:
        """Eager GC after a replace: keep the last 2 generations per
        table (Spark plans are lazy — a DataFrame derived from the
        previous snapshot may execute after this commit; Delta solves
        this with snapshot retention + VACUUM, same policy here)."""
        snap = self._snap
        for act in actions:
            if act["kind"] not in ("replace", "replace_bucketed",
                                   "merge_buckets"):
                continue
            tab = snap.tables.get(act["table"])
            if not tab:
                continue
            keep_tail = 1  # previous generation stays readable
            dead, tab["history"] = \
                tab["history"][:-keep_tail], tab["history"][-keep_tail:]
            for rel in dead:
                shutil.rmtree(self._abs(rel), ignore_errors=True)

    # -- convenience single-action transactions (back-compat API) ------
    def overwrite(self, table: str, df: DataFrame) -> None:
        with self.transaction() as txn:
            txn.replace(table, df)

    def append(self, table: str, df: DataFrame,
               partition_by: str | None = None) -> None:
        with self.transaction() as txn:
            txn.append(table, df, partition_by=partition_by)

    # -- maintenance ---------------------------------------------------
    def optimize(self, table: str, num_files: int = 8,
                 zorder: Column | None = None,
                 bloom_cols: list[str] | None = None,
                 bloom_ndv: int = 1_000_000) -> None:
        """Compact a table's current snapshot — replace dir plus all
        accumulated appends — into ``num_files`` range-clustered
        files as ONE atomic replace commit (Delta's ``OPTIMIZE``;
        with ``zorder`` a Morton-code Column from
        ``operators.layout.z_value``, Delta's ``OPTIMIZE ZORDER
        BY``). The small-files problem is the operational tax of
        frequent micro-batch appends: thousands of KB-sized files
        make every scan open/footers-bound. Compaction is
        metadata-atomic here exactly like any other commit — readers
        pinned to an older version keep their files (time-travel
        contract), and the superseded dirs are reclaimed later by
        ``vacuum``, never inline.

        Bucketed tables keep their layout: compaction re-stages the
        full snapshot through ``replace_bucketed`` with the SAME key
        columns and bucket count, collapsing the per-bucket dir
        fan-out that accumulates across merge_buckets generations
        into one clean bucket map (``zorder``/``num_files`` don't
        apply — the bucket hash IS the layout co-located merges
        rely on).

        ``bloom_cols`` writes a parquet bloom filter per named column
        (``bloom_ndv`` expected distinct values per file): the
        point-lookup complement to z-order's range pruning — an
        equality predicate on a high-cardinality key (``hash_id``,
        where dictionary pages fall back to plain encoding and stop
        pruning) skips whole row groups on the bloom instead of
        scanning (measured 27% warm at 4M rows; the win is IO at
        scale, BENCH_bloom.json).
        """
        if not self.current_paths(table):
            # nothing to compact; also keeps an EMPTY bucketed table
            # bucketed (a flat rewrite would need a schema and would
            # de-bucket the layout)
            return
        bloom_opts = {}
        for c in bloom_cols or ():
            bloom_opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            bloom_opts[f"parquet.bloom.filter.expected.ndv#{c}"] = \
                str(bloom_ndv)
        spec = self.bucket_spec(table)
        if spec is not None:
            if zorder is not None:
                raise ValueError(
                    f"{table} is bucketed; its layout is the bucket "
                    f"map — zorder does not apply")
            key_cols, n_buckets = spec
            with self.transaction() as txn:
                txn.replace_bucketed(table, self.read(table),
                                     key_cols=key_cols,
                                     n_buckets=n_buckets,
                                     write_options=bloom_opts or None)
            return
        df = self.read(table)
        part_col = (self.snapshot().tables.get(table) or {}) \
            .get("partition_col")
        if zorder is not None:
            from .operators.layout import cluster_by_zorder
            df = cluster_by_zorder(df, zorder, num_files)
        elif part_col is not None and part_col in df.columns:
            # chunked log tables: a hash repartition would DESTROY the
            # range clustering the append path established (each file
            # covering a contiguous chunk range is what lets parquet
            # min/max stats prune time predicates, finding #21's same
            # mechanism) — compact by range on the recorded chunk
            # column so pruning survives compaction
            df = df.repartitionByRange(num_files, F.col(part_col)) \
                .sortWithinPartitions(part_col)
        else:
            df = df.repartition(num_files)
        with self.transaction() as txn:
            txn.replace(table, df, write_options=bloom_opts or None)

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Remove data dirs not referenced by the current snapshot:
        crash-orphaned staging dirs and GC'd history. Age-gated so an
        in-flight (staged, uncommitted) transaction isn't destroyed —
        same contract as Delta VACUUM's retention check. Returns the
        removed dirs."""
        snap = self.snapshot()
        live: set[str] = set()
        for tab in snap.tables.values():
            if tab["replace"]:
                live.add(tab["replace"])
            live.update(tab["buckets"].values())
            live.update(tab["appends"])
            live.update(tab["history"])
        removed = []
        now = time.time()
        for table in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, table)
            if table == _LOG_DIR or not os.path.isdir(tdir):
                continue
            for sub in sorted(os.listdir(tdir)):
                rel = os.path.join(table, sub)
                full = os.path.join(tdir, sub)
                if rel in live or not os.path.isdir(full):
                    continue
                if now - os.path.getmtime(full) >= min_age_seconds:
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
        return removed

    def checkpoint_log(self, keep: int = 10) -> None:
        """Compact the commit log: fold everything older than the
        last ``keep`` commits into one snapshot record (Delta's
        checkpoint files). Keeps log replay O(recent) forever."""
        files = self._commit_files()
        if len(files) <= keep:
            return
        base = _Snapshot()
        cut = len(files) - keep
        for name in files[:cut]:
            with open(os.path.join(self.root, _LOG_DIR, name)) as f:
                base.apply(int(name[:-5]), json.load(f))
        actions = []
        for table, tab in base.tables.items():
            schemas = tab["schemas"]
            if tab["replace"]:
                act = {"table": table, "kind": "replace",
                       "dir": tab["replace"], "has_files": True,
                       "schema": schemas.get(tab["replace"])}
                if tab["partition_col"]:
                    act["partition_col"] = tab["partition_col"]
                actions.append(act)
            if tab["buckets"]:
                actions.append({"table": table, "kind": "checkpoint_buckets",
                                "n_buckets": tab["n_buckets"],
                                "key_cols": tab["key_cols"],
                                "buckets": {str(k): d for k, d
                                            in tab["buckets"].items()},
                                "schemas": {d: schemas[d] for d in
                                            set(tab["buckets"].values())
                                            if d in schemas}})
            for d in tab["appends"]:
                act = {"table": table, "kind": "append",
                       "dir": d, "has_files": True,
                       "schema": schemas.get(d)}
                if d in tab["append_parts"]:
                    act["partitions"] = tab["append_parts"][d]
                if tab["partition_col"]:
                    act["partition_col"] = tab["partition_col"]
                actions.append(act)
        record = {"actions": actions, "meta": base.meta, "ts": time.time(),
                  "checkpoint_of": base.version,
                  "txns": base.txns}
        # rewrite the oldest kept slot's predecessor as the checkpoint
        ckpt_path = os.path.join(self.root, _LOG_DIR, files[cut - 1])
        tmp = ckpt_path + ".ck"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, ckpt_path)
        for name in files[:cut - 1]:
            os.unlink(os.path.join(self.root, _LOG_DIR, name))
        # force full replay on next access (the folded prefix is gone)
        self._snap = _Snapshot()
        self._replayed = 0


class _TxnContext:
    def __init__(self, store: TxnStateStore, app: str | None,
                 version: int | None):
        self.store = store
        self.app = app
        self.version = version
        self.txn: Transaction | None = None

    @property
    def skipped(self) -> bool:
        return self.txn is None

    def __enter__(self) -> Transaction:
        if self.app is not None and self.version is not None \
                and self.store.last_txn_version(self.app) >= self.version:
            # already applied: hand back an inert transaction whose
            # writes are aborted at exit (nothing commits)
            self.txn = None
            inert = Transaction(self.store, self.app, self.version)
            self._inert = inert
            return inert
        self.txn = Transaction(self.store, self.app, self.version)
        return self.txn

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self.txn is None:
            self._inert.abort()
            return False
        if exc_type is not None:
            self.txn.abort()
            return False  # propagate; nothing became visible
        self.store._commit(self.txn)
        return False
