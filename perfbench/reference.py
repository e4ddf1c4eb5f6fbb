"""DuckDB reference for the rib workloads, and the result comparisons.

The reference re-derives, from the generated messages alone, what the
program's committed tables must hold:

- ``ip_rib`` / ``ip_rib_log``: per micro-batch, drop prefix_len > 128,
  keep the latest message per (peer, prefix hash), then the merge of
  UnicastPrefixQuery.java:35-40 (a withdraw keeps the previous attr
  and origin) and the AFTER UPDATE log trigger (9_triggers.sql:121-126);
- ``base_attrs``: per batch, the earliest message per key, inserted
  only if absent (BaseAttributeQuery.java:33);
- the global RIB peer counts (2_aggregations.sql:210-233) and the
  one-minute change stats (2_aggregations.sql:91-102) of a cron cycle.

Batch composition matters to the merge (an advertise and a withdraw in
one batch are deduplicated; in two batches the withdraw is logged), so
the rib reference takes the batches as the stream actually formed them,
read from the stream checkpoint's source log.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import duckdb
import pyarrow as pa

TS_FMT = "%Y-%m-%d %H:%M:%S.%f"

RIB_COLS = ("hash_id", "peer_hash_id", "base_attr_hash_id", "is_ipv4",
            "origin_as", "prefix", "prefix_len", "timestamp",
            "first_added_timestamp", "is_withdrawn", "path_id", "labels",
            "is_pre_policy", "is_adj_rib_in")
LOG_COLS = ("is_withdrawn", "prefix", "prefix_len", "base_attr_hash_id",
            "peer_hash_id", "origin_as", "timestamp")
ATTR_COLS = ("hash_id", "peer_hash_id", "origin", "as_path",
             "as_path_count", "origin_as", "next_hop", "med", "local_pref",
             "timestamp")


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={threads}")
    return con


def batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> source files it read, from the file-source log of a
    stream checkpoint (plain and ``.compact`` entries)."""
    out: dict[int, set] = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                path = e["path"].removeprefix("file://")
                out.setdefault(int(e["batchId"]), set()).add(
                    os.path.basename(path))
    return {b: sorted(fs) for b, fs in sorted(out.items())}


def commit_times(store_root: str) -> dict[tuple, float]:
    """(txn app, version) -> the moment its commit record became
    visible (inode ctime of the hard link ``os.link`` created)."""
    out = {}
    for f in glob.glob(os.path.join(store_root, "_txn_log", "*.json")):
        with open(f) as fh:
            rec = json.load(fh)
        txn = rec.get("txn")
        if txn:
            out[(txn["app"], int(txn["version"]))] = os.stat(f).st_ctime
    return out


class RibReference:
    """Expected ip_rib / ip_rib_log / base_attrs, batch by batch."""

    def __init__(self, con: duckdb.DuckDBPyConnection | None = None):
        self.con = con or connect()
        c = self.con
        c.execute("""CREATE OR REPLACE TABLE rib (
            hash_id VARCHAR, peer_hash_id VARCHAR, base_attr_hash_id VARCHAR,
            is_ipv4 BOOLEAN, origin_as BIGINT, prefix VARCHAR,
            prefix_len SMALLINT, "timestamp" TIMESTAMP,
            first_added_timestamp TIMESTAMP, is_withdrawn BOOLEAN,
            path_id BIGINT, labels VARCHAR, is_pre_policy BOOLEAN,
            is_adj_rib_in BOOLEAN)""")
        c.execute("""CREATE OR REPLACE TABLE rib_log (
            is_withdrawn BOOLEAN, prefix VARCHAR, prefix_len SMALLINT,
            base_attr_hash_id VARCHAR, peer_hash_id VARCHAR,
            origin_as BIGINT, "timestamp" TIMESTAMP)""")
        c.execute("""CREATE OR REPLACE TABLE attrs (
            hash_id VARCHAR, peer_hash_id VARCHAR, origin VARCHAR,
            as_path BIGINT[], as_path_count INTEGER, origin_as BIGINT,
            next_hop VARCHAR, med BIGINT, local_pref BIGINT,
            "timestamp" TIMESTAMP)""")
        self.rows_in = 0
        self.rows_rejected = 0
        self.rows_deduped = 0

    def _load(self, msgs: list) -> None:
        self.con.register("raw_in", pa.table(
            {"v": [v for _, v in msgs]}))
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE raw AS "
            "SELECT string_split(v, chr(9)) AS f FROM raw_in")
        self.con.unregister("raw_in")

    def apply_unicast(self, msgs: list) -> None:
        c = self.con
        self._load(msgs)
        c.execute(f"""CREATE OR REPLACE TEMP TABLE parsed AS SELECT
            f[2] AS hash_id, f[3] AS peer_hash_id,
            nullif(f[4], '') AS base_attr_hash_id,
            f[5] = '1' AS is_ipv4, CAST(f[6] AS BIGINT) AS origin_as,
            f[7] AS prefix, CAST(f[8] AS SMALLINT) AS prefix_len,
            strptime(f[14], '{TS_FMT}') AS "timestamp",
            (f[9] = '1' OR lower(f[1]) = 'del') AS is_withdrawn,
            CAST(f[10] AS BIGINT) AS path_id, f[11] AS labels,
            f[12] = '1' AS is_pre_policy, f[13] = '1' AS is_adj_rib_in
            FROM raw""")
        n_in = c.execute("SELECT count(*) FROM parsed").fetchone()[0]
        c.execute("""CREATE OR REPLACE TEMP TABLE src AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY peer_hash_id, hash_id
                ORDER BY "timestamp" DESC) AS rn
              FROM parsed WHERE prefix_len <= 128) WHERE rn = 1""")
        n_ok = c.execute(
            "SELECT count(*) FROM parsed WHERE prefix_len <= 128").fetchone()[0]
        n_src = c.execute("SELECT count(*) FROM src").fetchone()[0]
        self.rows_in += n_in
        self.rows_rejected += n_in - n_ok
        self.rows_deduped += n_src
        c.execute("""INSERT INTO rib_log SELECT
            s.is_withdrawn, s.prefix, s.prefix_len,
            CASE WHEN s.is_withdrawn THEN t.base_attr_hash_id
                 ELSE s.base_attr_hash_id END,
            s.peer_hash_id,
            CASE WHEN s.is_withdrawn THEN t.origin_as ELSE s.origin_as END,
            s."timestamp"
            FROM src s JOIN rib t USING (peer_hash_id, hash_id)
            WHERE s.is_withdrawn != t.is_withdrawn
               OR ((NOT s.is_withdrawn)
                   AND s.base_attr_hash_id != t.base_attr_hash_id)""")
        pick = lambda col: (f"CASE WHEN s.hash_id IS NOT NULL "
                            f"THEN s.{col} ELSE t.{col} END")
        keep = lambda col: (
            f"CASE WHEN s.hash_id IS NOT NULL AND t.hash_id IS NOT NULL "
            f"AND s.is_withdrawn THEN t.{col} ELSE {pick(col)} END")
        c.execute(f"""CREATE OR REPLACE TABLE rib AS SELECT
            {pick('hash_id')} AS hash_id,
            {pick('peer_hash_id')} AS peer_hash_id,
            {keep('base_attr_hash_id')} AS base_attr_hash_id,
            {pick('is_ipv4')} AS is_ipv4, {keep('origin_as')} AS origin_as,
            {pick('prefix')} AS prefix, {pick('prefix_len')} AS prefix_len,
            {pick('"timestamp"')} AS "timestamp",
            CASE WHEN t.hash_id IS NOT NULL THEN t.first_added_timestamp
                 ELSE s."timestamp" END AS first_added_timestamp,
            {pick('is_withdrawn')} AS is_withdrawn,
            {pick('path_id')} AS path_id, {pick('labels')} AS labels,
            {pick('is_pre_policy')} AS is_pre_policy,
            {pick('is_adj_rib_in')} AS is_adj_rib_in
            FROM src s FULL OUTER JOIN rib t
              ON s.peer_hash_id = t.peer_hash_id AND s.hash_id = t.hash_id""")

    def apply_attrs(self, msgs: list) -> None:
        c = self.con
        self._load(msgs)
        c.execute(f"""INSERT INTO attrs SELECT * EXCLUDE (rn) FROM (
            SELECT f[1] AS hash_id, f[2] AS peer_hash_id, f[3] AS origin,
              CASE WHEN length(trim(f[4])) > 0 THEN list_transform(
                string_split_regex(trim(f[4]), '\\s+'),
                x -> CAST(x AS BIGINT)) ELSE []::BIGINT[] END AS as_path,
              CAST(f[5] AS INTEGER) AS as_path_count,
              CAST(f[6] AS BIGINT) AS origin_as, f[7] AS next_hop,
              CAST(f[8] AS BIGINT) AS med, CAST(f[9] AS BIGINT) AS local_pref,
              strptime(f[18], '{TS_FMT}') AS "timestamp",
              row_number() OVER (PARTITION BY f[2], f[1]
                                 ORDER BY strptime(f[18], '{TS_FMT}')) AS rn
            FROM raw) n
            WHERE rn = 1 AND NOT EXISTS (
              SELECT 1 FROM attrs a WHERE a.hash_id = n.hash_id
                AND a.peer_hash_id = n.peer_hash_id)""")


def _parquet_list(paths: list[str]) -> str:
    files = []
    for p in paths:
        files.extend(glob.glob(os.path.join(p, "**", "*.parquet"),
                               recursive=True))
    return "[" + ", ".join(f"'{f}'" for f in sorted(files)) + "]"


def mismatches(con, expected_sql: str, paths: list[str],
               cols: tuple[str, ...]) -> int:
    """Rows in the symmetric multiset difference between the expected
    relation and the committed parquet files at ``paths``."""
    sel = ", ".join(f'"{c}"' for c in cols)
    flist = _parquet_list(paths)
    if flist == "[]":
        actual = f"SELECT {sel} FROM ({expected_sql}) WHERE false"
    else:
        actual = (f"SELECT {sel} FROM read_parquet({flist}, "
                  f"hive_partitioning=false, union_by_name=true)")
    exp = f"SELECT {sel} FROM ({expected_sql})"
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({exp} EXCEPT ALL {actual})) + "
        f"(SELECT count(*) FROM ({actual} EXCEPT ALL {exp}))").fetchone()[0]


def check_rib(ref: RibReference, store, tables=("ip_rib", "ip_rib_log",
                                               "base_attrs")) -> dict:
    """table -> mismatching rows, committed store vs reference."""
    src = {"ip_rib": ("rib", RIB_COLS), "ip_rib_log": ("rib_log", LOG_COLS),
           "base_attrs": ("attrs", ATTR_COLS)}
    out = {}
    for t in tables:
        rel, cols = src[t]
        out[t] = mismatches(ref.con, f"SELECT * FROM {rel}",
                            store.current_paths(t), cols)
    return out


# -- rib_analytics: global RIB and change stats ---------------------------

GLOBAL_COLS = ("prefix", "recv_origin_as", "prefix_len", "is_withdrawn",
               "num_peers", "advertising_peers", "withdrawn_peers")
CHG_COLS = ("interval_time", "peer_hash_id", "updates", "withdraws")


class AnalyticsReference:
    """The cron cycle's outputs re-derived from the reference rib: the
    global RIB's first consolidation (all rows changed since
    ``now - 2 h``, AS_TRANS excluded, 2_aggregations.sql:210-233) and
    the one-minute change stats of the window before ``now``
    (2_aggregations.sql:91-102)."""

    def __init__(self, ref: RibReference):
        self.con = ref.con
        self.slice_rows = 0    # (prefix, origin) rows the slice yields
        self.changed_rows = 0  # ip_rib rows changed since the slice start

    def check(self, store, now: dt.datetime) -> dict:
        from obmp_psql_spark.operators.global_rib import select_start_time
        from obmp_psql_spark.operators.rollup import floor_ts

        c = self.con
        start = select_start_time(now, None, dt.timedelta(hours=2))
        changed = """FROM rib WHERE "timestamp" >= ?
            OR first_added_timestamp >= ?"""
        self.changed_rows = c.execute(f"SELECT count(*) {changed}",
                                      [start, start]).fetchone()[0]
        c.execute(f"""CREATE OR REPLACE TABLE global_rib AS SELECT
            prefix, origin_as AS recv_origin_as,
            max(prefix_len) AS prefix_len,
            bool_and(is_withdrawn) AS is_withdrawn,
            count(DISTINCT peer_hash_id) AS num_peers,
            count(DISTINCT peer_hash_id) FILTER (WHERE NOT is_withdrawn)
              AS advertising_peers,
            count(DISTINCT peer_hash_id) FILTER (WHERE is_withdrawn)
              AS withdrawn_peers
            FROM (SELECT * {changed}) WHERE origin_as != 23456
            GROUP BY prefix, origin_as""", [start, start])
        self.slice_rows = c.execute(
            "SELECT count(*) FROM global_rib").fetchone()[0]
        hi = floor_ts(now, 60)
        chg = f"""SELECT time_bucket(INTERVAL 1 MINUTE, "timestamp")
              AS interval_time, peer_hash_id,
              count(*) FILTER (WHERE NOT is_withdrawn) AS updates,
              count(*) FILTER (WHERE is_withdrawn) AS withdraws
            FROM rib_log WHERE "timestamp" >= TIMESTAMP '{hi - dt.timedelta(minutes=5)}'
              AND "timestamp" < TIMESTAMP '{hi}'
            GROUP BY 1, 2"""
        return {
            "global_ip_rib": mismatches(
                c, "SELECT * FROM global_rib",
                store.current_paths("global_ip_rib"), GLOBAL_COLS),
            "stats_chg_bypeer": mismatches(
                c, chg, store.current_paths("stats_chg_bypeer"), CHG_COLS),
        }
