"""Core operator demonstrations (SURVEY.md §2.2-§2.6, §2.10) over the
driver tables, each with a DuckDB oracle.

The BMP-domain implementations of these operators live in
``obmp_psql_spark.operators`` and are exercised on synthetic BMP
fixtures in tests/; the queries here express the same operator
shapes on the shared benchmark tables so the driver can hash-compare
them against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import register
from .session import load_tables

# Exact decimal accumulation for double sums: SUM(double) is
# order-dependent; DECIMAL is exact, so Spark and DuckDB agree after
# the final cast back to double. The sum is rounded to scale 4 before
# the cast so its integer representation stays < 2^53 — DuckDB casts
# decimal->double as (double)int128 / 10^scale (two roundings at
# scale 10), Spark via BigDecimal (one); below 2^53 both are a single
# correct rounding and bit-identical.
DEC = "decimal(38,10)"


def _dsum(col):
    return F.round(F.sum(col.cast(DEC)), 4).cast("double")


# events.ts is TIMESTAMP(NANOS) in the driver parquet; Spark reads at
# µs, so oracles view the table through a µs-truncating CTE.
EV = "ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def _ev(sql: str) -> str:
    return f"WITH {EV}\n{sql}"


# ---------------------------------------------------------------------------
# A6: conditional sums (update_origin_stats shape)
# ---------------------------------------------------------------------------

@register(
    "q_conditional_sums",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END AS DECIMAL(38,10))), 4) AS DOUBLE) AS qty_open,
           CAST(ROUND(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END AS DECIMAL(38,10))), 4) AS DOUBLE) AS qty_final,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
           CAST(SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_taxed,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey_ref="A6 (2_aggregations.sql:360-388)",
    doc="family()-style conditional sums per key",
)
def q_conditional_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            _dsum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0)).alias("qty_open"),
            _dsum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0)).alias("qty_final"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
            F.sum(F.when(F.col("l_tax") > 0.04, 1).otherwise(0)).alias("n_taxed"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# J2 + P4: left join with name fallback
# ---------------------------------------------------------------------------

@register(
    "q_left_join_names",
    oracle="""
    SELECT c_custkey,
           CASE WHEN n_name IS NOT NULL AND length(n_name) > 0
                THEN n_name ELSE CAST(c_nationkey AS VARCHAR) END AS nation_name,
           r_name AS region_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
    survey_ref="J2 (8_views.sql:28-29), P4/F1 (8_views.sql:11 length()-guarded name fallback)",
    doc="broadcast left joins to dims with CASE fallback",
)
def q_left_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .select(
            "c_custkey",
            F.when(F.col("n_name").isNotNull() & (F.length("n_name") > 0), F.col("n_name"))
             .otherwise(F.col("c_nationkey").cast("string")).alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join: every event enriched with the peer
# state in effect when it arrived. DuckDB's native ASOF JOIN is the
# differential oracle for our union-window implementation.
# ---------------------------------------------------------------------------

@register(
    "q_asof_enrich",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    m AS (SELECT user_id, ts + to_microseconds(CAST(event_id AS BIGINT)) AS mts,
                 event_id, value FROM ev),
    quotes AS (
      SELECT user_id, mts,
             CASE WHEN value < 5 THEN 'down' ELSE 'up' END AS state
      FROM m WHERE event_id % 10 = 0
    ),
    probes AS (
      SELECT user_id, mts AS ts, event_id, value
      FROM m WHERE event_id % 10 <> 0
    )
    SELECT p.user_id, p.ts, p.event_id, p.value,
           q.mts AS __asof_ts, q.state AS state
    FROM probes p ASOF LEFT JOIN quotes q
      ON p.user_id = q.user_id AND p.ts >= q.mts
    """,
    survey_ref="custom operator Spark lacks: backward as-of join "
               "(point-in-time dimension lookup the reference does "
               "per-row at trigger time, 9_triggers.sql:43-85)",
    doc="union-window as-of join (one shuffle, no range-join blowup) "
        "vs DuckDB native ASOF JOIN",
)
def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    m = ev.select(
        "user_id",
        F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
         .alias("mts"),
        "event_id", "value")
    quotes = (m.filter(F.col("event_id") % 10 == 0)
              .select("user_id", F.col("mts"),
                      F.when(F.col("value") < 5, "down").otherwise("up")
                       .alias("state")))
    probes = (m.filter(F.col("event_id") % 10 != 0)
              .select("user_id", F.col("mts").alias("ts"),
                      "event_id", "value"))
    return asof_join(probes, quotes, on=["user_id"],
                     left_ts="ts", right_ts="mts")


# ---------------------------------------------------------------------------
# T7/P7/P8: last-writer-wins MERGE with timestamp guard (batch emulation)
# ---------------------------------------------------------------------------

@register(
    "q_lww_merge",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
         state AS (SELECT * FROM ev WHERE event_id % 2 = 0),
         batch AS (SELECT * FROM ev WHERE event_id % 2 = 1),
         unioned AS (SELECT *, 0 AS src FROM state UNION ALL SELECT *, 1 AS src FROM batch)
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, src DESC, event_id DESC) AS rn
      FROM unioned
    ) WHERE rn = 1
    """,
    survey_ref="T7/P7 (UnicastPrefixQuery.java:35-40), W2/A9/T2 (WriterRunnable.java:140-153 last-write-wins state compression), merge-upsert emulation",
    doc="MERGE WHEN MATCHED with newer-timestamp guard, as DataFrame algebra",
)
def q_lww_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import upsert_latest
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    state = ev.filter(F.col("event_id") % 2 == 0)
    batch = ev.filter(F.col("event_id") % 2 == 1)
    merged = upsert_latest(state, batch, keys=["user_id"], ts_col="ts",
                           tiebreak=[F.col("event_id").desc()])
    return merged.select("event_id", "ts", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# P9: time-guarded delete (peer-up flush shape)
# ---------------------------------------------------------------------------

@register(
    "q_time_guard_flush",
    oracle=_ev("""
    SELECT e.event_id, e.user_id, e.ts
    FROM ev e
    JOIN (SELECT user_id, max(ts) AS max_ts FROM ev GROUP BY user_id) m
      ON e.user_id = m.user_id
    WHERE e.ts >= m.max_ts - INTERVAL 1 HOUR
    """),
    survey_ref="P9 (PeerQuery.java:121-153 DELETE ... WHERE ts < peer_up_ts)",
    doc="delete-older-than-watermark per key, expressed as survivor set",
)
def q_time_guard_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    m = ev.groupBy("user_id").agg(F.max("ts").alias("max_ts"))
    return (
        ev.join(m, "user_id")
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 1 HOUR"))
        .select("event_id", "user_id", "ts")
    )


# ---------------------------------------------------------------------------
# P10: retention purge
# ---------------------------------------------------------------------------

@register(
    "q_retention_purge",
    oracle=_ev("""
    SELECT event_id, ts, user_id
    FROM ev
    WHERE ts >= (SELECT max(ts) FROM ev) - INTERVAL 4 HOUR
    """),
    survey_ref="P10 (2_aggregations.sql:166-175; 1_base.sql:369)",
    doc="retention window relative to high-watermark",
)
def q_retention_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    hi = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(F.broadcast(hi))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 4 HOUR"))
        .select("event_id", "ts", "user_id")
    )


# ---------------------------------------------------------------------------
# G3: trigger-CDC changelog (state transitions with old/new values)
# ---------------------------------------------------------------------------

@register(
    "q_cdc_changelog",
    oracle=_ev("""
    SELECT user_id, ts, event_type AS new_state, prev_type AS old_state
    FROM (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM ev
    )
    WHERE prev_type IS NOT NULL AND prev_type <> event_type
    """),
    survey_ref="G3/J4 (9_triggers.sql:89-126 t_ip_rib_update change log; 8_views.sql:97-102 history view join)",
    doc="emit change-log rows only when tracked columns changed",
)
def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "ts", F.col("event_type").alias("new_state"),
                F.col("prev_type").alias("old_state"))
    )


# ---------------------------------------------------------------------------
# P6/F14: regex + LIKE filters
# ---------------------------------------------------------------------------

@register(
    "q_regex_filter",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE regexp_matches(p_type, '^(ECONOMY|STANDARD)$')
      AND p_name NOT LIKE '%green%'
    """,
    survey_ref="P6/F14 (8_views.sql:122 pseudo-node exclusion)",
    doc="regex match + NOT LIKE exclusion",
)
def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir, ("part",))["part"]
    return (
        p.filter(F.col("p_type").rlike("^(ECONOMY|STANDARD)$")
                 & ~F.col("p_name").like("%green%"))
        .select("p_partkey", "p_name", "p_type")
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-threshold sessions via lag + running sum — the
# standard OLAP pattern (guide: lag(ts) + cumsum on gap>threshold);
# batch equivalent of streaming session_window(ts, gap)
# ---------------------------------------------------------------------------

@register(
    "q_sessionize",
    oracle=f"""
    WITH {EV}, g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY 1, 2
    """,
    survey_ref="OLAP sessionization (running-frame window; batch session_window), W3 (lag-gap detection, 5_functions.sql:98-120)",
    doc="30-min-gap sessions: lag -> cumsum frame -> per-session agg",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull()
               | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
               1).otherwise(0))
    s = g.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"))
    return (
        s.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
    )


# ---------------------------------------------------------------------------
# Pivot: orderstatus columns per priority (groupBy.pivot with a fixed
# value list so the schema stays static)
# ---------------------------------------------------------------------------

@register(
    "q_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_final,
           CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_partial
    FROM orders GROUP BY o_orderpriority
    """,
    survey_ref="OLAP pivot (guide: pivot/unpivot)",
    doc="pivot with explicit value list -> static schema",
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_final"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
        )
    )


@register(
    "q_rolling_window",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_10min,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))) OVER w, 4) AS DOUBLE) AS sum_10min
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
    """,
    survey_ref="W-family completion: time-RANGE window frames (rolling "
               "per-key aggregates over an event-time interval — the "
               "sliding analog of A1's fixed buckets)",
    doc="per-user rolling 10-minute count/sum via rangeBetween on "
        "event-time micros; one shuffle on the partition key",
)
def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames need a numeric ordering in Spark — order by
    unix_micros(ts) with a -600s*1e6 lower bound, which is exactly
    DuckDB's INTERVAL frame on the timestamp. Scale: one hash
    shuffle on user_id; the frame scan is a per-partition
    two-pointer sweep, no self-join."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = (W.partitionBy("user_id").orderBy(F.unix_micros("ts"))
         .rangeBetween(-600_000_000, 0))
    return ev.select(
        "event_id", "user_id", "ts",
        F.count(F.lit(1)).over(w).alias("n_10min"),
        F.round(F.sum(F.col("value").cast("decimal(38,10)")).over(w), 4)
         .cast("double").alias("sum_10min"))


@register(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value,
           MIN(user_id) AS min_user,
           MAX(user_id) AS max_user
    FROM events GROUP BY 1
    """,
    survey_ref="skew mitigation (SURVEY §4): two-phase salted aggregation — "
               "a hot key spreads over n_salt reducers in phase 1, "
               "recombines in phase 2; results identical to a plain groupBy",
    doc="salted_agg over event_type (5 hot keys, the skew shape a plain "
        "groupBy would bottleneck on one reducer per key) vs plain SQL "
        "GROUP BY — proving phase composition is exact",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL accumulation makes the two-phase sum bit-identical to
    the single-phase oracle (double addition would be order-dependent
    across salt groups)."""
    from .operators.skew import salted_agg

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    rows = ev.select("event_type", "user_id",
                     F.col("value").cast("decimal(38,10)").alias("dval"))
    out = salted_agg(
        rows, ["event_type"],
        {"n_events": ("user_id", "count"),
         "sum_value": ("dval", "sum"),
         "min_user": ("user_id", "min"),
         "max_user": ("user_id", "max")},
        n_salt=16)
    return out.select("event_type",
                      F.col("n_events").cast("long").alias("n_events"),
                      F.col("sum_value").cast("double").alias("sum_value"),
                      "min_user", "max_user")


@register(
    "q_stats_moments",
    oracle="""
    SELECT event_type,
           CAST(ROUND(avg(value), 6) AS DOUBLE) AS mean_v,
           CAST(ROUND(stddev_samp(value), 6) AS DOUBLE) AS sd_v,
           CAST(ROUND(var_samp(value), 6) AS DOUBLE) AS var_v,
           CAST(ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS DOUBLE) AS cov_vu,
           CAST(ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS DOUBLE) AS corr_vu,
           -- DuckDB skewness is the bias-corrected sample G1; Spark's
           -- is the population g1 = m3/m2^1.5. Convert: g1 = G1 * (n-2)
           -- / sqrt(n*(n-1)).
           CAST(ROUND(skewness(value) * (COUNT(value) - 2)
                      / sqrt(COUNT(value) * (COUNT(value) - 1.0)), 6) AS DOUBLE) AS skew_v
    FROM events GROUP BY 1
    """,
    survey_ref="statistical-moment aggregate family (avg/stddev/var/covar/"
               "corr/skewness — single-pass mergeable moment sketches)",
    doc="per-type second/third moments + cross-covariance/correlation vs "
        "DuckDB; rounded to 6dp to absorb engine-order float noise",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = F.col("user_id").cast("double")
    return (ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).cast("double").alias("mean_v"),
        F.round(F.stddev_samp("value"), 6).cast("double").alias("sd_v"),
        F.round(F.var_samp("value"), 6).cast("double").alias("var_v"),
        F.round(F.covar_samp(F.col("value"), u), 6).cast("double").alias("cov_vu"),
        F.round(F.corr(F.col("value"), u), 6).cast("double").alias("corr_vu"),
        F.round(F.skewness("value"), 6).cast("double").alias("skew_v")))


# ---------------------------------------------------------------------------
# semi-structured JSON extraction over the event stream
# ---------------------------------------------------------------------------

@register(
    "q_events_json",
    oracle="""
    WITH j AS (
      SELECT event_type,
             -- TRY_CAST over the *string* extraction: malformed values
             -- ({"k": "oops"}, {"k": 1.5}) must degrade to NULL exactly
             -- like Spark's get_json_object + try_cast does, instead of
             -- aborting the oracle run
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
    FROM j GROUP BY event_type
    """,
    survey_ref="semi-structured columns: JSON path extraction inside the "
               "scan projection (every event feed carries a props blob; "
               "the reference stores them as jsonb-ish text columns)",
    doc="get_json_object('$.k') -> typed column -> per-type aggregate; "
        "extraction stays JVM-side in the scan stage, one shuffle for "
        "the aggregate",
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the JSON parse is a per-row projection fused into
    the scan (whole-stage codegen, no UDF); only (event_type, k)
    survive to the exchange, so shuffle bytes are two columns no
    matter how wide the props blob gets."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # try_cast, not cast: under ANSI mode (Spark 4 default) a single
    # malformed blob ({"k": "oops"}) would otherwise abort the whole
    # query — broken values must degrade to NULL like missing keys do
    j = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_distinct_k"))


# ---------------------------------------------------------------------------
# data-quality audit: constraint checks as a single multi-metric scan
# ---------------------------------------------------------------------------

@register(
    "q_dq_audit",
    oracle="""
    WITH o AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS dup_keys,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS null_custkey,
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS nonpositive_price
      FROM orders
    ), l AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc_range
      FROM lineitem
    ), orphans AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem li
      LEFT JOIN orders oo ON li.l_orderkey = oo.o_orderkey
      WHERE oo.o_orderkey IS NULL
    )
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'dup_pk' AS violation, dup_keys AS n,
             n_rows FROM o
      UNION ALL
      SELECT 'orders', 'null_custkey', null_custkey, n_rows FROM o
      UNION ALL
      SELECT 'orders', 'nonpositive_totalprice', nonpositive_price,
             n_rows FROM o
      UNION ALL
      SELECT 'lineitem', 'quantity_out_of_range', qty_range, n_rows FROM l
      UNION ALL
      SELECT 'lineitem', 'discount_out_of_range', disc_range, n_rows FROM l
      UNION ALL
      SELECT 'lineitem', 'orphan_orderkey', orphans.n, l.n_rows
      FROM orphans, l
    )
    """,
    survey_ref="data-quality audit: PK uniqueness, null, range, and "
               "referential-integrity constraints as one multi-metric pass "
               "(the validation stage every ingest/training pipeline runs "
               "before trusting a snapshot)",
    doc="one aggregate scan per table + one anti-join for orphans; "
        "violations reported as (tbl, violation, n, n_rows) rows",
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each table contributes ONE full scan aggregated
    map-side into a handful of counters (no row survives the scan
    stage), and the referential check is a hash anti-join that the
    runtime bloom filter prunes at production fact sizes. Constraints
    compose as additional conditional-sum columns at zero extra scan
    cost."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o = t["orders"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .alias("dup_keys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long").alias("null_custkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long").alias("nonpositive_price"))
    li = t["lineitem"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when((F.col("l_quantity") <= 0)
                     | (F.col("l_quantity") > 50), 1).otherwise(0))
        .cast("long").alias("qty_range"),
        F.sum(F.when((F.col("l_discount") < 0)
                     | (F.col("l_discount") > 1), 1).otherwise(0))
        .cast("long").alias("disc_range"))
    orphans = (t["lineitem"].select("l_orderkey")
               .join(t["orders"].select("o_orderkey"),
                     F.col("l_orderkey") == F.col("o_orderkey"),
                     "left_anti")
               .agg(F.count(F.lit(1)).alias("n")))

    # unpivot each 1-row aggregate with explode(map) so every table is
    # scanned exactly ONCE (a union of per-violation branches would
    # re-run the aggregate per branch)
    def unpivot(agg_df, tbl, mapping):
        m = F.create_map(*[x for k, c in mapping
                           for x in (F.lit(k), F.col(c).cast("long"))])
        return (agg_df.select("n_rows", F.explode(m))
                .select(F.lit(tbl).alias("tbl"),
                        F.col("key").alias("violation"),
                        F.col("value").alias("n"),
                        F.col("n_rows").cast("long").alias("n_rows")))

    o_rows = unpivot(o, "orders", [
        ("dup_pk", "dup_keys"),
        ("null_custkey", "null_custkey"),
        ("nonpositive_totalprice", "nonpositive_price")])
    li_rows = unpivot(li, "lineitem", [
        ("quantity_out_of_range", "qty_range"),
        ("discount_out_of_range", "disc_range")])
    orphan_row = (orphans.crossJoin(li.select("n_rows"))
                  .select(F.lit("lineitem").alias("tbl"),
                          F.lit("orphan_orderkey").alias("violation"),
                          F.col("n").cast("long").alias("n"),
                          F.col("n_rows").cast("long").alias("n_rows")))
    return o_rows.unionByName(li_rows).unionByName(orphan_row)


# ---------------------------------------------------------------------------
# approximate count-distinct, driver-gated via the handshake pattern
# ---------------------------------------------------------------------------

def _hll_aux(sf_dir: str) -> str:
    import os as _os
    root = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "spark-warehouse", "aux")
    tag = _os.path.basename(_os.path.normpath(sf_dir))
    return _os.path.join(root, f"q_approx_distinct_{tag}")


def _hll_oracle(sf_dir: str) -> str:
    return f"""
    WITH ap AS (
      SELECT event_type, CAST(approx_n AS BIGINT) AS approx_n
      FROM read_parquet('{_hll_aux(sf_dir)}/*.parquet')
    ), ex AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
      FROM events GROUP BY event_type
    )
    SELECT event_type, exact_n, approx_n,
           -- nullif guard: a group whose user_id values are all NULL has
           -- exact_n = 0 (count distinct ignores NULLs) and must yield
           -- NULL err_ppm, not a divide-by-zero error (same on Spark)
           CAST(abs(approx_n - exact_n) * 1000000
                // nullif(exact_n, 0) AS BIGINT) AS err_ppm
    FROM ex JOIN ap USING (event_type)
    """


@register(
    "q_approx_distinct_gate",
    oracle=_hll_oracle,
    survey_ref="A5/A10 scale path: HLL++ approx count-distinct with a "
               "driver-gated error bound — the recall-handshake pattern "
               "generalized to approximate aggregates (SURVEY known-hard "
               "#4: exact countDistinct on 100 TB is shuffle-heavy; the "
               "sketch is mergeable/map-side-combinable, and this gate "
               "PROVES its deviation instead of documenting it)",
    doc="Spark computes HLL++ estimates, dumps them to a parquet "
        "handoff, and returns integer err-ppm vs its own exact count; "
        "DuckDB recomputes the exact side independently and must land "
        "on identical err-ppm rows (HLL++ is deterministic: hash-based, "
        "merge-order-independent)",
)
def q_approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_n"))
    aux = _hll_aux(sf_dir)
    from .queries_text import publish_aux
    publish_aux(approx, aux)
    ap = spark.read.parquet(aux)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_n"))
    return (exact.join(ap, "event_type")
            .select("event_type",
                    F.col("exact_n").cast("long").alias("exact_n"),
                    F.col("approx_n").cast("long").alias("approx_n"),
                    # nullif: all-NULL user_id group => exact_n 0 => NULL
                    # err_ppm instead of an ANSI divide-by-zero abort
                    F.expr("abs(approx_n - exact_n) * 1000000L "
                           "div nullif(exact_n, 0)").alias("err_ppm")))


# ---------------------------------------------------------------------------
# dead-letter split over the real wire parser
# ---------------------------------------------------------------------------

@register(
    "q_dead_letter",
    oracle=_ev("""
    SELECT CASE WHEN event_id % 17 = 0 AND event_id % 13 = 0
                  THEN 'null:ts,asn'
                WHEN event_id % 17 = 0 THEN 'null:ts'
                WHEN event_id % 13 = 0 THEN 'null:asn'
                ELSE 'valid' END AS reason,
           CAST(count(*) AS BIGINT) AS n
    FROM ev GROUP BY 1
    """),
    survey_ref="S2 + ingest robustness: dead-letter quarantine — wire "
               "rows whose required fields fail to parse are split out "
               "with a reason instead of aborting the batch (ANSI-safe "
               "parser) or silently vanishing",
    doc="events rendered to TSV wire strings with a deterministic "
        "corruption pattern (every 17th ts, every 13th asn), pushed "
        "through the REAL parser, then split; the oracle derives the "
        "expected quarantine counts from the corruption rule alone — a "
        "differential test of the parser's actual null behavior",
)
def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.types as T

    from .sources.tsv import parse_tsv, split_dead_letter

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    wire_schema = T.StructType([
        T.StructField("action", T.StringType()),
        T.StructField("hash", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("asn", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])
    wire = ev.select(F.concat_ws(
        "\t",
        F.lit("add"),
        F.concat(F.lit("h"), F.col("user_id").cast("string")),
        F.when(F.col("event_id") % 17 == 0, F.lit("garbage"))
         .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")),
        F.when(F.col("event_id") % 13 == 0, F.lit("XX"))
         .otherwise((65000 + F.col("user_id") % 50).cast("string")),
        (F.col("event_id") % 100).cast("string"),
    ).alias("value"))
    parsed = parse_tsv(wire, wire_schema)
    valid, dead = split_dead_letter(parsed, required=("ts", "asn"))
    return (valid.select(F.lit("valid").alias("reason"))
            .unionByName(dead.select(F.col("dl_reason").alias("reason")))
            .groupBy("reason").agg(F.count(F.lit(1)).alias("n")))


@register(
    "q_stream_dead_letter",
    oracle=_ev("""
    SELECT CASE WHEN event_id % 17 = 0 AND event_id % 13 = 0
                  THEN 'null:ts,asn'
                WHEN event_id % 17 = 0 THEN 'null:ts'
                WHEN event_id % 13 = 0 THEN 'null:asn'
                ELSE 'valid' END AS reason,
           CAST(count(*) AS BIGINT) AS n
    FROM ev GROUP BY 1
    """),
    survey_ref="S2/T5 x robustness: dead-letter quarantine through the "
               "transactional store — per-batch parse + split committed "
               "atomically (valid rows can never publish without their "
               "quarantine siblings), replayed batches no-op",
    doc="wire rows arrive in two micro-batches with the q_dead_letter "
        "corruption pattern; each batch parses once, splits, and "
        "commits both tables in one txn; batch 0 is replayed and must "
        "no-op — the accumulated counts must equal the batch-derived "
        "oracle exactly",
)
def q_stream_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.types as T

    from .queries_bmp import _cached_pipeline
    from .sources.tsv import ingest_with_dead_letter

    wire_schema = T.StructType([
        T.StructField("action", T.StringType()),
        T.StructField("hash", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("asn", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="dl_"))
        ev = load_tables(spark, sf_dir, ("events",))["events"]
        wire = ev.select("event_id", F.concat_ws(
            "\t",
            F.lit("add"),
            F.concat(F.lit("h"), F.col("user_id").cast("string")),
            F.when(F.col("event_id") % 17 == 0, F.lit("garbage"))
             .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")),
            F.when(F.col("event_id") % 13 == 0, F.lit("XX"))
             .otherwise((65000 + F.col("user_id") % 50).cast("string")),
            (F.col("event_id") % 100).cast("string"),
        ).alias("value"))
        for bid in (0, 1, 0):  # third call replays batch 0: must no-op
            batch = wire.filter(F.col("event_id") % 2 == bid) \
                        .select("value")
            ingest_with_dead_letter(store, batch, wire_schema,
                                    required=("ts", "asn"), batch_id=bid)
        return (store.read("wire_valid"), store.read("wire_dead"))

    valid, dead = _cached_pipeline("deadletter", spark, sf_dir, build)
    return (valid.select(F.lit("valid").alias("reason"))
            .unionByName(dead.select(F.col("dl_reason").alias("reason")))
            .groupBy("reason").agg(F.count(F.lit(1)).alias("n")))
