"""Warehouse-modeling / OLAP-report operators, round-7 batch 3:

- multi-level ROLLUP and explicit GROUPING SETS reports (the
  subtotal/grand-total report shapes every BI layer emits — the
  reference's per-peer/per-ASN/global aggregation ladder in
  `database/2_aggregations.sql:87-492` is exactly a hand-unrolled
  rollup; here the engine plans all levels in one pass);
- SCD-2 interval build from an append-only event log (the
  dimension-history compaction the reference's CDC triggers feed —
  `database/9_triggers.sql` writes the change rows, this builds the
  valid_from/valid_to timeline from them);
- blocked fuzzy (edit-distance) match — the entity-resolution join:
  block on a cheap key, band on length, pay levenshtein only inside
  the block (same O(N x W) -> O(N) move as the LPM /8 buckets);
- per-group linear trend from integer sufficient statistics (slope
  and intercept via (n, Sx, Sy, Sxy, Sxx) — the only cross-engine
  hash-stable way to regress: float accumulation order never enters);
- chi-square independence scan (event mix vs day-of-week) with
  per-cell integer micro-unit rounding before the sum.

Oracle conventions follow registry.py: identical aliases both sides,
DECIMAL accumulation for money, integer micro/ppm units for every
fraction entering the hash, per-cell rounding BEFORE cross-cell sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import register
from .session import empty_df, fan_out, load_tables, normalize_ts, tiny_df

_EV = "ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"
_DEC = "decimal(38,10)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_ts(load_tables(spark, sf_dir, ("events",))["events"])


# ---------------------------------------------------------------------------
# linear per-key prefix scans (EWMA / Holt-Winters recurrences)
# ---------------------------------------------------------------------------
# The original implementations ran these recurrences inside an
# ``F.aggregate`` fold that appended each step's output with
# ``F.concat(acc.arr, array(x))`` — every step copies the whole
# accumulated array, so an L-element series costs O(L^2) element
# copies in INTERPRETED expression evaluation (higher-order functions
# have no codegen), evaluated once per field extracted from the fold
# struct. Measured at sf0.1 (L ~ 8,900 minutes per peer): 26.5 cpu_s
# for the single-array EWMA fold, 36.6 cpu_s for the two-array
# Holt-Winters fold. The scans below are the guide §4.2 move: Spark
# handles grouping/distribution, one Arrow-batched pandas UDF walks
# each series once in O(L) exact integer arithmetic. Python ints and
# ``//`` reproduce ``F.floor((3*e + x)/4)`` bit-for-bit (the operands
# stay far below 2^53, where the double division by 4 or 8 is exact,
# and both ``//`` and F.floor round toward -inf), so the outputs are
# identical — the driver oracle re-proves it every round.
# Module-level defs so shipped workers can reuse state (guide §4.5).

import pandas as pd  # noqa: E402

from pyspark.sql import types as T  # noqa: E402

# return types as DataType OBJECTS, not DDL strings: pandas_udf
# parses a string return type through the active SparkContext at
# DECORATION (import) time, so a string here would make the module
# unimportable before a session exists (the driver imports the entry
# module first)
_EWMA_RET = T.StructType([
    T.StructField("e", T.LongType()),
    T.StructField("eps", T.ArrayType(T.LongType())),
])
_HW_RET = T.StructType([
    T.StructField("fs", T.ArrayType(T.LongType())),
    T.StructField("ts", T.ArrayType(T.LongType())),
])


@F.pandas_udf(_EWMA_RET)
def _ewma_scan(init: pd.Series, cs: pd.Series) -> pd.DataFrame:
    """Seeded EWMA prefix scan: e' = (3e + x) div 4, emitting the
    PRE-update e per element (None while unseeded, i.e. e < 0)."""
    es, epss = [], []
    for e0, arr in zip(init, cs):
        e = int(e0)
        eps: list = []
        for x in arr:
            x = int(x)
            if e < 0:
                eps.append(None)
                e = x
            else:
                eps.append(e)
                e = (3 * e + x) // 4
        es.append(e)
        epss.append(eps)
    return pd.DataFrame({"e": es, "eps": epss})


@F.pandas_udf(_HW_RET)
def _hw_scan(cs_milli: pd.Series) -> pd.DataFrame:
    """Holt-Winters (level+trend) prefix scan in milli-units:
    lev' = (3*(lev+tr) + x) div 4, tr' = (lev' - lev + 7*tr) div 8,
    emitting the PRE-update forecast (lev+tr) and trend per element
    (None for the first element of a series)."""
    fss, tss = [], []
    for arr in cs_milli:
        seen = False
        lev = tr = 0
        fs: list = []
        ts: list = []
        for x in arr:
            x = int(x)
            if not seen:
                fs.append(None)
                ts.append(None)
                lev, tr, seen = x, 0, True
            else:
                fs.append(lev + tr)
                ts.append(tr)
                new_lev = (3 * (lev + tr) + x) // 4
                tr = (new_lev - lev + 7 * tr) // 8
                lev = new_lev
        fss.append(fs)
        tss.append(ts)
    return pd.DataFrame({"fs": fss, "ts": tss})


# ---------------------------------------------------------------------------
# explicit GROUPING SETS report (disjoint pivot margins)
# ---------------------------------------------------------------------------

@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    survey_ref="OLAP reports: explicit GROUPING SETS — both one-way "
               "margins plus the grand total without the full cube's "
               "cross cells; the report shape of the reference's "
               "origin_stats (by-ASN and by-prefix margins, "
               "2_aggregations.sql:87-178) planned in one pass",
    doc="GROUPING SETS ((status), (priority), ()) via the SQL "
        "surface with templated DataFrame binding (no temp-view "
        "global state); GROUPING markers + counts + cents totals",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same Expand + single-aggregate plan as the rollup, but with a
    hand-picked level set — the margins a pivot report needs without
    the |A| x |B| cross cells a cube would add. Uses spark.sql's
    DataFrame template binding so no session-global temp view is
    created (concurrent runs can't collide)."""
    t = load_tables(spark, sf_dir, ("orders",))["orders"]
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               CAST(count(1) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS decimal(38,10))), 2) * 100
                    AS BIGINT) AS total_cents
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """, orders=t)


# ---------------------------------------------------------------------------
# SCD-2 interval build from the append-only event log
# ---------------------------------------------------------------------------

@register(
    "q_scd2_intervals",
    oracle=f"""
    WITH {_EV},
    marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ),
    grouped AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(version AS BIGINT) AS version, event_type,
             min(ts) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, version, event_type
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                IS NULL AS BOOLEAN) AS is_current,
           n_events
    FROM grouped
    """,
    survey_ref="warehouse modeling: SCD-2 dimension build — collapse "
               "the append-only event log into per-key "
               "(valid_from, valid_to] state intervals with an "
               "is_current marker; the timeline the reference's CDC "
               "triggers (9_triggers.sql) feed and its `*_log` "
               "tables store row-by-row, built set-wise",
    doc="lag-change detection -> running change-count as version -> "
        "per-run min(ts)/count -> lead(valid_from) closes each "
        "interval; open interval = current state",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three window passes share the (user_id) partitioning, so
    the plan is ONE hash exchange followed by in-partition sorts —
    the groupBy on (user_id, version) is partial-aggregated within
    the same partitioning. The (ts, event_id) tie-break makes run
    boundaries engine-identical. At 100 TB the log would be
    bucketed by user_id and even that one exchange disappears."""
    ev = fan_out(_events(spark, sf_dir), spark)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
               1).otherwise(0).alias("chg"))
    runs = marked.select(
        "user_id", "event_type", "ts",
        F.sum("chg").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("version"))
    grouped = (runs.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("version").cast("long").alias("version"), "event_type")
        .agg(F.min("ts").alias("valid_from"),
             F.count(F.lit(1)).cast("long").alias("n_events")))
    lead_w = W.partitionBy("user_id").orderBy("version")
    return grouped.select(
        "user_id", "version", "event_type", "valid_from",
        F.lead("valid_from").over(lead_w).alias("valid_to"),
        F.lead("valid_from").over(lead_w).isNull().alias("is_current"),
        "n_events")


# ---------------------------------------------------------------------------
# blocked fuzzy match (edit-distance entity resolution)
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 2


_FUZZY_BLOCK_CAP = 128


def _shard_blocks(p: DataFrame, cap: int | None) -> tuple[DataFrame,
                                                          list[str]]:
    """THE noun-block shard assignment: when ``cap`` is set, each
    noun block is hash-sharded into ceil(block_size / cap) sub-shards
    by ``p_partkey % n_shards``. Single definition shared by
    fuzzy_blocked_pairs and q_er_em_weights (and mirrored by both
    oracles via _SHARDED_PARTS_SQL) so the blocked-ER family can
    never silently diverge on its blocking scheme."""
    keys = ["noun"]
    if cap is not None:
        bsz = p.groupBy("noun").agg(F.count(F.lit(1)).alias("__bsz"))
        p = (p.join(F.broadcast(bsz), "noun")
             .withColumn("__shard",
                         F.pmod(F.col("p_partkey"),
                                F.expr(f"(__bsz + {cap - 1}) "
                                       f"div {cap}")))
             .drop("__bsz"))
        keys = ["noun", "__shard"]
    return p, keys


def _sharded_parts_sql(cap: int, cols: str = "") -> str:
    """DuckDB mirror of _shard_blocks over part: CTEs p0 (noun token
    + ``cols`` extras) / sz / p (with shard)."""
    return f"""
    p0 AS (
      SELECT p_partkey, p_name{cols},
             string_split(p_name, ' ')[2] AS noun
      FROM part
    ),
    sz AS (SELECT noun, count(*) AS bsz FROM p0 GROUP BY noun),
    p AS (
      SELECT p0.*, p0.p_partkey % ((sz.bsz + {cap - 1})
                                   // {cap}) AS shard
      FROM p0 JOIN sz USING (noun)
    )"""


def fuzzy_blocked_pairs(t: DataFrame,
                        cap: int | None = _FUZZY_BLOCK_CAP) -> DataFrame:
    """Blocked edit-distance pair histogram over part names.

    Block on the noun token; when ``cap`` is set, each block is
    hash-sharded (``_shard_blocks``) and pairs form only WITHIN a
    shard — bounding pair work at ~N x cap/2 even when the block key
    is degenerate (the lsh_topk bucket-cap move in the string domain;
    recall is traded deterministically, identically on both
    engines). ``cap=None`` is the unguarded quadratic variant the
    scale probe measures."""
    p = t.select(
        "p_partkey", "p_name",
        F.split("p_name", " ").getItem(1).alias("noun"),
        F.length("p_name").alias("nlen"))
    p, keys = _shard_blocks(p, cap)
    a, b = p.alias("a"), p.alias("b")
    cond = (F.col("a.p_partkey") < F.col("b.p_partkey")) \
        & (F.abs(F.col("a.nlen") - F.col("b.nlen")) <= _FUZZY_MAX_DIST)
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    pairs = (a.join(b, cond)
             .select(F.col("a.noun").alias("noun"),
                     F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
                     .alias("dist"))
             .filter(F.col("dist") <= _FUZZY_MAX_DIST))
    return (pairs.groupBy("noun", F.col("dist").cast("int").alias("dist"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))


@register(
    "q_fuzzy_match",
    oracle=f"""
    WITH {_sharded_parts_sql(_FUZZY_BLOCK_CAP,
                             cols=", length(p_name) AS nlen")},
    pairs AS (
      SELECT a.noun, levenshtein(a.p_name, b.p_name) AS dist
      FROM p a JOIN p b
        ON a.noun = b.noun AND a.shard = b.shard
       AND a.p_partkey < b.p_partkey
       AND abs(a.nlen - b.nlen) <= {_FUZZY_MAX_DIST}
      WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    )
    SELECT noun, CAST(dist AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY noun, dist
    """,
    survey_ref="entity resolution: blocked fuzzy join — block on the "
               "cheap key (noun token), band on length difference, "
               "pay levenshtein only inside the block; blocks above "
               f"{_FUZZY_BLOCK_CAP} rows hash-shard (p_partkey mod "
               "ceil(size/cap)) so a degenerate block key stays "
               "N x cap/2 bounded — measured quadratic without it "
               "(BENCH_er_sketch.json, 104x pairs per decade)",
    doc=f"parts self-joined on (noun, shard) with length-band "
        f"residual, edit distance <= {_FUZZY_MAX_DIST}; "
        f"(noun, dist) pair histogram; cap={_FUZZY_BLOCK_CAP}",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block key turns the all-pairs problem into an equi-join
    Catalyst hash-partitions; the length band is a free residual
    predicate that skips most levenshtein calls (an edit distance
    cannot beat the length difference); only survivors pay the
    O(len^2) DP, JVM-side via the built-in levenshtein. The shard
    cap is the 100 TB guard the scale probe motivated: this corpus'
    8 noun blocks grow linearly with the table, so uncapped pair
    counts grow QUADRATICALLY (measured 104x per decade); capped,
    the join is N x cap bounded like the LSH bucket shards and the
    SemDeDup cluster shards. Recall within a block drops to
    ~1/n_shards — the deterministic trade a real pipeline would
    take before switching to sorted-neighborhood (q_fuzzy_sorted)."""
    # fan_out at the load site: part.parquet is one row group and the
    # planner broadcasts the build side, so without the exchange the
    # whole levenshtein pair scan runs as ONE task (measured 2.4 s of
    # the query's 3.3 s wall in a single task at sf0.1)
    t = fan_out(load_tables(spark, sf_dir, ("part",))["part"], spark)
    return fuzzy_blocked_pairs(t, cap=_FUZZY_BLOCK_CAP)


# ---------------------------------------------------------------------------
# per-group linear trend from integer sufficient statistics
# ---------------------------------------------------------------------------

@register(
    "q_group_trend",
    oracle=f"""
    WITH {_EV},
    daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
             CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY event_type, epoch_us(ts) // 86400000000
    ),
    centered AS (
      SELECT event_type,
             day_idx - min(day_idx) OVER (PARTITION BY event_type) AS x,
             n AS y
      FROM daily
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM centered GROUP BY event_type
    )
    SELECT event_type, n_days, sy AS total_events,
           CAST(round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                      / CAST(n_days * sxx - sx * sx AS DOUBLE)
                      * 1000000) AS BIGINT) AS slope_micro,
           CAST(round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                      / CAST(n_days * sxx - sx * sx AS DOUBLE)
                      * 1000000) AS BIGINT) AS intercept_micro
    FROM stats
    """,
    survey_ref="statistics: per-group least-squares trend (slope + "
               "intercept of daily volume) computed from INTEGER "
               "sufficient statistics (n, Sx, Sy, Sxy, Sxx) — the "
               "only cross-engine hash-stable regression: the five "
               "sums are exact, one double division each at the end "
               "(regr_slope's float accumulation order would not "
               "survive the hash gate); the trend alarm the "
               "reference's peer update-rate stats feed",
    doc="daily counts -> per-group min-day centering -> five integer "
        "sums -> slope/intercept in integer micro-units",
)
def q_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregations sharing the event_type key (daily counts,
    then the five sums) plus a per-group min window between them —
    all on one partitioning. Centering x at the group's first day
    keeps every product within int64 at any timescale. The final
    arithmetic is one IEEE division per coefficient on exact
    integer operands — bit-identical across engines."""
    ev = fan_out(_events(spark, sf_dir), spark)
    daily = (ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day_idx"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")))
    centered = daily.select(
        "event_type",
        (F.col("day_idx")
         - F.min("day_idx").over(W.partitionBy("event_type"))).alias("x"),
        F.col("n").alias("y"))
    stats = (centered.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                  F.sum("x").cast("long").alias("sx"),
                  F.sum("y").cast("long").alias("sy"),
                  F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
                  F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx")))
    den = (F.col("n_days") * F.col("sxx")
           - F.col("sx") * F.col("sx")).cast("double")
    slope = (F.col("n_days") * F.col("sxy")
             - F.col("sx") * F.col("sy")).cast("double") / den
    intercept = (F.col("sy") * F.col("sxx")
                 - F.col("sx") * F.col("sxy")).cast("double") / den
    return stats.select(
        "event_type", "n_days", F.col("sy").alias("total_events"),
        F.round(slope * 1_000_000).cast("long").alias("slope_micro"),
        F.round(intercept * 1_000_000).cast("long").alias("intercept_micro"))


# ---------------------------------------------------------------------------
# chi-square independence scan (event mix vs day-of-week)
# ---------------------------------------------------------------------------

@register(
    "q_chisq_mix",
    oracle=f"""
    WITH {_EV},
    cells AS (
      SELECT event_type, epoch_us(ts) // 86400000000 % 7 AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM ev GROUP BY event_type, epoch_us(ts) // 86400000000 % 7
    ),
    ex AS (
      SELECT event_type, dow, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
               * CAST(sum(o) OVER (PARTITION BY dow) AS DOUBLE)
               / CAST(sum(o) OVER () AS DOUBLE) AS e,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT)
               AS row_total
      FROM cells
    )
    SELECT event_type, row_total,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(round((o - e) * (o - e) / e * 1000000)
                         AS BIGINT)) AS BIGINT) AS chi2_micro
    FROM ex GROUP BY event_type, row_total
    """,
    survey_ref="statistics: chi-square independence scan — is the "
               "event mix uniform across day-of-week slots? Per-cell "
               "(o-e)^2/e rounded to integer micro-units BEFORE the "
               "sum (the q_doc_unigram_ppl rule: integer sums are "
               "order-independent, float sums are not); the "
               "drift/anomaly screen run over any categorical pair "
               "before trusting a mix-based sampler",
    doc="5x7 contingency cells -> expected from the three marginal "
        "windows -> per-cell micro-rounded contribution -> integer "
        "per-type chi-square",
)
def q_chisq_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contingency table is tiny by construction (|types| x 7),
    so the three marginal windows run over a tens-of-rows frame —
    the heavy lift is the single map-side-combined count shuffle
    underneath. Day-of-week via epoch-day mod 7 (locale-free,
    engine-identical). The deliberately-global third window is safe
    because it sees only the aggregated cells, never raw events."""
    ev = fan_out(_events(spark, sf_dir), spark)
    cells = (ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000 % 7").alias("dow"))
        .agg(F.count(F.lit(1)).cast("long").alias("o")))
    e = (F.sum("o").over(W.partitionBy("event_type")).cast("double")
         * F.sum("o").over(W.partitionBy("dow")).cast("double")
         / F.sum("o").over(W.partitionBy()).cast("double"))
    ex = cells.select(
        "event_type", "o", e.alias("e"),
        F.sum("o").over(W.partitionBy("event_type")).cast("long")
        .alias("row_total"))
    contrib = F.round((F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                      / F.col("e") * 1_000_000).cast("long")
    return (ex.select("event_type", "row_total", contrib.alias("c"))
            .groupBy("event_type", "row_total")
            .agg(F.count(F.lit(1)).cast("long").alias("n_cells"),
                 F.sum("c").cast("long").alias("chi2_micro")))


# ---------------------------------------------------------------------------
# OHLC bars (open/high/low/close per series per day)
# ---------------------------------------------------------------------------

@register(
    "q_ohlc_bars",
    oracle=f"""
    WITH {_EV},
    ranked AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx, value,
             row_number() OVER (PARTITION BY event_type,
                                epoch_us(ts) // 86400000000
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type,
                                epoch_us(ts) // 86400000000
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM ev
    )
    SELECT event_type, CAST(day_idx AS BIGINT) AS day_idx,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM ranked GROUP BY event_type, day_idx
    """,
    survey_ref="timeseries: OHLC candle bars per (series, day) — "
               "open/close are first/last by (ts, event_id), high/low "
               "plain extremes; pure value SELECTION (no float "
               "arithmetic), so doubles hash bit-identically; the "
               "downsampling shape every monitoring/market store "
               "serves",
    doc="two row_number passes (asc/desc) sharing one (type, day) "
        "partitioning -> conditional max in a single group-agg",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both window specs and the final groupBy share the same
    (event_type, day) key, so the plan is one exchange, two
    in-partition sorts, one partial-aggregated hash agg. Open and
    close come out as conditional maxes over the rank-1 rows —
    selection, never arithmetic, which is what keeps raw doubles
    hashable across engines. The deterministic (ts, event_id)
    tie-break defines which trade 'opens' a bar when timestamps
    collide."""
    ev = fan_out(_events(spark, sf_dir), spark)
    day = F.expr("unix_micros(ts) div 86400000000")
    wa = W.partitionBy("event_type", "day_idx").orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", "day_idx") \
        .orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = (ev.withColumn("day_idx", day.cast("long"))
              .select("event_type", "day_idx", "value",
                      F.row_number().over(wa).alias("rn_a"),
                      F.row_number().over(wd).alias("rn_d")))
    return (ranked.groupBy("event_type", "day_idx")
            .agg(F.max(F.when(F.col("rn_a") == 1, F.col("value")))
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("value")))
                 .alias("close"),
                 F.count(F.lit(1)).cast("long").alias("volume")))


# ---------------------------------------------------------------------------
# time-weighted average (irregular-sample integration)
# ---------------------------------------------------------------------------

@register(
    "q_twap",
    oracle=f"""
    WITH {_EV},
    seq AS (
      SELECT event_type, value, epoch_us(ts) AS tus,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS nxt
      FROM ev
    ),
    seg AS (
      SELECT event_type, value, (nxt - tus) // 1000 AS dur_ms
      FROM seq WHERE nxt IS NOT NULL
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(dur_ms) AS BIGINT) AS total_ms,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)) * dur_ms), 3)
                  * 1000 AS BIGINT) AS vt_milli
      FROM seg GROUP BY event_type
    )
    SELECT event_type, n_segments, total_ms,
           CAST(round(CAST(vt_milli AS DOUBLE) / CAST(total_ms AS DOUBLE)
                      * 1000) AS BIGINT) AS twap_micro
    FROM agg
    """,
    survey_ref="timeseries: time-weighted average per series — each "
               "sample holds until the next one, weight = held "
               "duration (the irregular-sampling integral; an "
               "arithmetic mean over-weights bursts); value x "
               "duration accumulates in DECIMAL, converts ONCE to "
               "integer milli-units, one IEEE division at the end",
    doc="lead(ts) per series -> (value, dur_ms) segments -> DECIMAL "
        "sum(value*dur) -> twap in integer micro-units",
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One (event_type) exchange shared by the lead window and the
    final agg. The last sample of each series has no successor and
    drops (an explicit horizon would close it — semantics choice,
    same on both engines). DECIMAL keeps the value-time integral
    exact and associative at any partitioning; the milli-unit scale
    keeps the integer within double-exact range at every sf (the
    integral per series is bounded by max_value x series span,
    independent of row count)."""
    ev = fan_out(_events(spark, sf_dir), spark)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "value",
        F.expr("unix_micros(ts)").alias("tus"),
        F.lead(F.expr("unix_micros(ts)")).over(w).alias("nxt"))
    seg = (seq.filter(F.col("nxt").isNotNull())
           .select("event_type", "value",
                   F.expr("(nxt - tus) div 1000").alias("dur_ms")))
    agg = (seg.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n_segments"),
                F.sum("dur_ms").cast("long").alias("total_ms"),
                (F.round(F.sum(F.col("value").cast(_DEC)
                               * F.col("dur_ms")), 3) * 1000)
                .cast("long").alias("vt_milli")))
    twap = F.round(F.col("vt_milli").cast("double")
                   / F.col("total_ms").cast("double") * 1000).cast("long")
    return agg.select("event_type", "n_segments", "total_ms",
                      twap.alias("twap_micro"))


# ---------------------------------------------------------------------------
# sorted-neighborhood fuzzy match (the linear-scaling ER variant)
# ---------------------------------------------------------------------------

_SN_WINDOW = 6


@register(
    "q_fuzzy_sorted",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    ),
    pairs AS (
      SELECT levenshtein(a.p_name, b.p_name) AS dist
      FROM p a JOIN p b
        ON b.rn > a.rn AND b.rn <= a.rn + {_SN_WINDOW}
      WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    )
    SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY dist
    """,
    survey_ref="entity resolution: sorted-neighborhood fuzzy match — "
               "sort all names once, compare each row only to its w "
               "successors; O(N log N + N*w) total versus blocking's "
               "O(sum of block^2), the variant that stays linear when "
               "a block key is degenerate; rank comes from the "
               "two-pass range-sort global_rank operator "
               "(operators/rank.py), NOT a single-partition window",
    doc=f"global_rank on (p_name, p_partkey) -> explode offsets "
        f"1..{_SN_WINDOW} -> equi-join rn+off = rn (never a range "
        f"theta join) -> edit-distance histogram",
)
def q_fuzzy_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle states the rank-range theta join; the Spark plan
    runs an EQUI-join: each row explodes into w (rank+offset) probes
    that hash-join against the rank column. The rank itself is the
    distributed two-pass pattern (range shuffle + bucket-size prefix
    sums), so no stage ever funnels the corpus through one task —
    the piece a naive ORDER BY row_number() gets wrong at 100 TB."""
    from .operators.rank import global_rank

    t = load_tables(spark, sf_dir, ("part",))["part"]
    ranked = global_rank(t.select("p_partkey", "p_name"),
                         ["p_name", "p_partkey"])
    probes = (ranked.select(
        "p_name", "rn",
        F.explode(F.sequence(F.lit(1), F.lit(_SN_WINDOW))).alias("off"))
        .select("p_name", (F.col("rn") + F.col("off")).alias("rn2")))
    right = ranked.select(F.col("rn").alias("rn2"),
                          F.col("p_name").alias("p_name_b"))
    pairs = (probes.join(right, "rn2")
             .select(F.levenshtein("p_name", "p_name_b").alias("dist"))
             .filter(F.col("dist") <= _FUZZY_MAX_DIST))
    return (pairs.groupBy(F.col("dist").cast("int").alias("dist"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage: EM over agreement patterns
# ---------------------------------------------------------------------------

_EM_ITERS = 8
_EM_NAME_DIST = 4
_EM_INIT = (100000, 900000, 100000)  # lambda, m_k, u_k in micro-units


def _em_pat_sql() -> str:
    """Candidate pairs (THE q_fuzzy_match blocking, via
    _sharded_parts_sql) reduced to agreement-PATTERN counts: gamma =
    (brand equal, type equal, name edit-distance <= dist). EM never
    needs the pairs again — 2^3 pattern rows carry the full
    likelihood."""
    return f"""
    {_sharded_parts_sql(_FUZZY_BLOCK_CAP, cols=", p_brand, p_type")},
    pat AS (
      SELECT CAST(a.p_brand = b.p_brand AS INT) AS g1,
             CAST(a.p_type = b.p_type AS INT) AS g2,
             CAST(levenshtein(a.p_name, b.p_name) <= {_EM_NAME_DIST}
                  AS INT) AS g3,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM p a JOIN p b
        ON a.noun = b.noun AND a.shard = b.shard
       AND a.p_partkey < b.p_partkey
      GROUP BY g1, g2, g3
    )"""


def _em_ab_sql(src: str) -> str:
    """a = lambda * prod(m-term), b = (1-lambda) * prod(u-term) —
    left-associated multiply order matches the Python fold exactly."""
    mterms = " * ".join(
        f"(CASE WHEN g{k} = 1 THEN m{k} / 1000000.0 "
        f"ELSE 1.0 - m{k} / 1000000.0 END)" for k in (1, 2, 3))
    uterms = " * ".join(
        f"(CASE WHEN g{k} = 1 THEN u{k} / 1000000.0 "
        f"ELSE 1.0 - u{k} / 1000000.0 END)" for k in (1, 2, 3))
    return (f"SELECT pat.*, lam, m1, m2, m3, u1, u2, u3, "
            f"lam / 1000000.0 * {mterms} AS a, "
            f"(1.0 - lam / 1000000.0) * {uterms} AS b "
            f"FROM pat CROSS JOIN {src}")


def _em_iter_sql(i: int) -> str:
    clamp = "GREATEST(1, LEAST(999999, {}))"
    lam = clamp.format(
        "CAST(floor(CAST(GREATEST(sum(sw), 1) AS DOUBLE)"
        " / sum(n_pairs) + 0.5) AS BIGINT)")
    ms = ", ".join(clamp.format(
        f"CAST(floor(CAST(sum(CASE WHEN g{k} = 1 THEN sw ELSE 0 END)"
        f" AS DOUBLE) / CAST(GREATEST(sum(sw), 1) AS DOUBLE)"
        f" * 1000000.0 + 0.5) AS BIGINT)") + f" AS m{k}"
        for k in (1, 2, 3))
    us = ", ".join(clamp.format(
        f"CAST(floor(CAST(sum(CASE WHEN g{k} = 1 THEN su ELSE 0 END)"
        f" AS DOUBLE) / CAST(GREATEST(sum(su), 1) AS DOUBLE)"
        f" * 1000000.0 + 0.5) AS BIGINT)") + f" AS u{k}"
        for k in (1, 2, 3))
    return f"""
    e{i} AS (
      SELECT n_pairs, g1, g2, g3,
             CAST(floor(n_pairs * (a / (a + b)) * 1000000.0 + 0.5)
               AS BIGINT) AS sw,
             CAST(floor(n_pairs * (1.0 - a / (a + b)) * 1000000.0 + 0.5)
               AS BIGINT) AS su
      FROM ({_em_ab_sql(f"it{i - 1}")})
    ),
    it{i} AS (
      SELECT {lam} AS lam, {ms}, {us} FROM e{i}
    )"""


def _em_oracle() -> str:
    lam0, m0, u0 = _EM_INIT
    init = (f"it0 AS (SELECT CAST({lam0} AS BIGINT) AS lam, "
            + ", ".join(f"CAST({m0} AS BIGINT) AS m{k}" for k in (1, 2, 3))
            + ", "
            + ", ".join(f"CAST({u0} AS BIGINT) AS u{k}" for k in (1, 2, 3))
            + ")")
    iters = ",".join(_em_iter_sql(i) for i in range(1, _EM_ITERS + 1))
    pm = " * ".join(
        f"(CASE WHEN g{k} = 1 THEN m{k} / 1000000.0 "
        f"ELSE 1.0 - m{k} / 1000000.0 END)" for k in (1, 2, 3))
    pu = " * ".join(
        f"(CASE WHEN g{k} = 1 THEN u{k} / 1000000.0 "
        f"ELSE 1.0 - u{k} / 1000000.0 END)" for k in (1, 2, 3))
    return f"""
    WITH {_em_pat_sql()},
    {init},{iters}
    SELECT g1, g2, g3, n_pairs,
           lam AS lam_micro,
           m1 AS m1_micro, m2 AS m2_micro, m3 AS m3_micro,
           u1 AS u1_micro, u2 AS u2_micro, u3 AS u3_micro,
           CAST(floor((a / (a + b)) * 1000000.0 + 0.5) AS BIGINT)
             AS posterior_micro,
           CAST(floor(log2(({pm}) / ({pu})) * 1000000.0 + 0.5) AS BIGINT)
             AS weight_micro
    FROM ({_em_ab_sql(f"it{_EM_ITERS}")})
    """


def _em_fit(rows: list[tuple[int, int, int, int]]):
    """Driver-side EM on the <=8 pattern counts, arithmetically
    IDENTICAL to the generated DuckDB CTE chain: left-associated
    double products, per-pattern micro-rounding of the expected
    match/unmatch mass BEFORE the (integer, order-independent) sums,
    micro-rounded + [1, 999999]-clamped parameters each iteration."""
    import math

    def clamp(v: int) -> int:
        return max(1, min(999999, v))

    lam, (m, u) = _EM_INIT[0], ([_EM_INIT[1]] * 3, [_EM_INIT[2]] * 3)
    n_total = sum(n for *_, n in rows)
    for _ in range(_EM_ITERS):
        sw_t = su_t = 0
        swg, sug = [0, 0, 0], [0, 0, 0]
        for g1, g2, g3, n in rows:
            gs = (g1, g2, g3)
            a = lam / 1000000.0
            b = 1.0 - lam / 1000000.0
            for k in range(3):
                a *= (m[k] / 1000000.0 if gs[k] == 1
                      else 1.0 - m[k] / 1000000.0)
                b *= (u[k] / 1000000.0 if gs[k] == 1
                      else 1.0 - u[k] / 1000000.0)
            sw = math.floor(n * (a / (a + b)) * 1000000.0 + 0.5)
            su = math.floor(n * (1.0 - a / (a + b)) * 1000000.0 + 0.5)
            sw_t += sw
            su_t += su
            for k in range(3):
                if gs[k] == 1:
                    swg[k] += sw
                    sug[k] += su
        sw_t, su_t = max(sw_t, 1), max(su_t, 1)
        lam = clamp(math.floor(sw_t / n_total + 0.5))
        m = [clamp(math.floor(swg[k] / sw_t * 1000000.0 + 0.5))
             for k in range(3)]
        u = [clamp(math.floor(sug[k] / su_t * 1000000.0 + 0.5))
             for k in range(3)]
    return lam, m, u


@register(
    "q_er_em_weights",
    oracle=_em_oracle(),
    survey_ref="entity resolution: Fellegi-Sunter probabilistic "
               "record linkage — EM-estimated m/u probabilities and "
               "log2 match weights per agreement pattern (the Splink/"
               "Dedupe model); upgrades the threshold fuzzy joins "
               "(q_fuzzy_match/q_fuzzy_sorted) to calibrated match "
               "posteriors without labeled data",
    doc=f"blocked candidate pairs -> 2^3 agreement-pattern counts "
        f"(brand, container, name edit<= {_EM_NAME_DIST}) -> "
        f"{_EM_ITERS} EM iterations with micro-rounded parameters "
        f"each step (both engines walk the identical integer "
        f"trajectory) -> per-pattern posterior + log2 weight",
)
def q_er_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM needs only the agreement-pattern HISTOGRAM, so the heavy
    lifting is one blocked pair join + one groupBy producing <= 2^3
    rows; the iterations run driver-side on those counts (the
    q_quality_classifier pattern — distributed aggregate, tiny
    driver model update) and are byte-replicated by the oracle's
    unrolled CTE chain. At 100 TB the pair stage is the same
    N x cap-bounded shape as q_fuzzy_match; EM cost is independent
    of corpus size. Final weights are computed from the collected
    pattern rows (a <= 8-row local table), not a distributed map."""
    import math

    # fan_out at the load site: part.parquet is one row group, so the
    # levenshtein pair stage otherwise runs on ONE core (the planner
    # broadcasts the build side, so no exchange restores parallelism —
    # the q_fuzzy_match finding applied to the EM pair stage)
    t = fan_out(load_tables(spark, sf_dir, ("part",))["part"], spark)
    p = t.select("p_partkey", "p_name", "p_brand", "p_type",
                 F.split("p_name", " ").getItem(1).alias("noun"))
    p, keys = _shard_blocks(p, _FUZZY_BLOCK_CAP)
    a, b = p.alias("a"), p.alias("b")
    cond = F.col("a.p_partkey") < F.col("b.p_partkey")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    pairs = a.join(b, cond)
    pat = (pairs.select(
        (F.col("a.p_brand") == F.col("b.p_brand")).cast("int").alias("g1"),
        (F.col("a.p_type") == F.col("b.p_type")).cast("int")
         .alias("g2"),
        (F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
         <= _EM_NAME_DIST).cast("int").alias("g3"))
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    rows = sorted((r.g1, r.g2, r.g3, r.n_pairs) for r in pat.collect())
    lam, m, u = _em_fit(rows)

    out = []
    for g1, g2, g3, n in rows:
        gs = (g1, g2, g3)
        av = lam / 1000000.0
        bv = 1.0 - lam / 1000000.0
        pm = pu = 1.0
        for k in range(3):
            tm = (m[k] / 1000000.0 if gs[k] == 1
                  else 1.0 - m[k] / 1000000.0)
            tu = (u[k] / 1000000.0 if gs[k] == 1
                  else 1.0 - u[k] / 1000000.0)
            av *= tm
            bv *= tu
            pm *= tm
            pu *= tu
        out.append((g1, g2, g3, n, lam, m[0], m[1], m[2],
                    u[0], u[1], u[2],
                    math.floor(av / (av + bv) * 1000000.0 + 0.5),
                    math.floor(math.log2(pm / pu) * 1000000.0 + 0.5)))
    return tiny_df(
        spark, out,
        schema="g1 int, g2 int, g3 int, n_pairs bigint, "
               "lam_micro bigint, m1_micro bigint, m2_micro bigint, "
               "m3_micro bigint, u1_micro bigint, u2_micro bigint, "
               "u3_micro bigint, posterior_micro bigint, "
               "weight_micro bigint")


# ---------------------------------------------------------------------------
# Z-order layout: Morton codes for multi-dimensional data skipping
# ---------------------------------------------------------------------------

_Z_BITS = 8  # query-gate grid; the layout operator defaults to 16


def _z_sql(xe: str, ye: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({xe} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({ye} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZQ_X = "user_id % 256"
_ZQ_Y = ("least(greatest(CAST(floor(value / 561.0 * 256) AS BIGINT), 0), "
         "255)")


@register(
    "q_zorder_cluster",
    oracle=f"""
    WITH {_EV},
    z AS (
      SELECT CAST({_z_sql(f'({_ZQ_X})', f'({_ZQ_Y})', _Z_BITS)} AS BIGINT)
               AS zv
      FROM ev
    )
    SELECT CAST(zv // 256 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(zv) AS BIGINT) AS min_z,
           CAST(max(zv) AS BIGINT) AS max_z
    FROM z GROUP BY zv // 256
    """,
    survey_ref="data layout: Z-order (Morton) clustering key — "
               "quantize (user_id, value) onto a 2^8 grid and "
               "bit-interleave into one integer whose range-sort "
               "gives BOTH dimensions row-group locality (the "
               "Delta/Iceberg OPTIMIZE ZORDER BY primitive); pruning "
               "payoff measured in BENCH_zorder.json via parquet "
               "footer stats",
    doc="pure-integer bit interleave (2 x 8 shift/mask terms, "
        "whole-stage codegen) -> per-z-bucket histogram pins the "
        "code against the SQL re-derivation",
)
def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-value is a plain expression column — no UDF, no shuffle
    until the histogram. Clustering itself (cluster_by_zorder) is
    one range shuffle at write time; this gate pins the Morton math
    bit-for-bit so the layout the probe measures is the layout the
    oracle can reason about."""
    from .operators.layout import quantize, z_value

    ev = fan_out(_events(spark, sf_dir), spark)
    x = F.pmod(F.col("user_id"), F.lit(256)).cast("long")
    y = quantize(F.col("value"), 0.0, 561.0, _Z_BITS)
    z = z_value(x, y, _Z_BITS)
    return (ev.select(z.alias("zv"))
            .groupBy(F.expr("zv div 256").alias("z_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.min("zv").cast("long").alias("min_z"),
                 F.max("zv").cast("long").alias("max_z")))


# ---------------------------------------------------------------------------
# exact global percentile rank (distributed, no single-partition window)
# ---------------------------------------------------------------------------

@register(
    "q_percentile_rank",
    oracle=f"""
    WITH {_EV},
    r AS (
      SELECT event_id, event_type, value,
             row_number() OVER (ORDER BY value, event_id) AS rn,
             count(*) OVER () AS n
      FROM ev
    )
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           CAST((rn - 1) * 1000000 // (n - 1) AS BIGINT) AS pct_ppm
    FROM r
    WHERE event_id % 100 = 0
    """,
    survey_ref="window analytics at scale: exact global percentile "
               "rank per row — percent_rank() semantics, but computed "
               "on the distributed two-pass global_rank operator "
               "instead of the single-partition global window the "
               "SQL form implies (the operators/rank.py payoff "
               "generalized from sorted-neighborhood to scoring)",
    doc="global_rank on (value, event_id) -> pct_ppm = "
        "(rn-1)*1e6 div (N-1); output sampled to event_id % 100 = 0 "
        "(ranks are computed for ALL rows)",
)
def q_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle's row_number() OVER (ORDER BY ...) funnels the
    table through one task; the Spark plan range-partitions, ranks
    within buckets, and adds bucket-size prefix sums — identical
    output, every stage parallel. N comes from the same bucket-size
    collect the rank needs (no extra pass). The unique (value,
    event_id) order makes percentile ties impossible, so both
    engines emit identical ppm."""
    from .operators.rank import global_rank

    ev = fan_out(_events(spark, sf_dir), spark)
    ranked = global_rank(ev.select("event_id", "event_type", "value"),
                         ["value", "event_id"])
    # max(rn) == N; runs over the persisted range buckets global_rank
    # already filled, so this is a cached-scan aggregate, not a re-sort
    total = ranked.agg(F.max("rn")).collect()[0][0]
    return (ranked.filter(F.col("event_id") % 100 == 0)
            .select(F.col("event_id").cast("long").alias("event_id"),
                    "event_type",
                    F.expr(f"(rn - 1) * 1000000L div {total - 1}")
                    .alias("pct_ppm")))


# ---------------------------------------------------------------------------
# relational set operators (INTERSECT / EXCEPT / UNION)
# ---------------------------------------------------------------------------

@register(
    "q_set_ops",
    oracle=f"""
    WITH {_EV},
    s AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'signup'),
    e AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'error')
    SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n_users
    FROM (SELECT user_id FROM s INTERSECT SELECT user_id FROM e)
    UNION ALL
    SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n_users
    FROM (SELECT user_id FROM s EXCEPT SELECT user_id FROM e)
    UNION ALL
    SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n_users
    FROM (SELECT user_id FROM s UNION SELECT user_id FROM e)
    """,
    survey_ref="set operators (SURVEY 2.6): INTERSECT / EXCEPT / "
               "UNION DISTINCT through Spark's dedicated physical "
               "operators (left-semi / left-anti hash joins and "
               "union+distinct) — the audience-overlap /-exclusion "
               "report every cohort analysis runs",
    doc="distinct signup vs error user sets -> intersect / except / "
        "union cardinalities as one 3-row report",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame intersect()/exceptAll-distinct/union().distinct()
    compile to semi/anti hash joins on the shared user_id key — each
    is one co-partitioned shuffle at 100 TB, never a full sort. The
    counts-per-operator shape keeps the gate row stable while still
    executing all three physical operators."""
    ev = fan_out(_events(spark, sf_dir), spark)
    s = (ev.filter(F.col("event_type") == "signup")
         .select("user_id").distinct())
    e = (ev.filter(F.col("event_type") == "error")
         .select("user_id").distinct())

    def cnt(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_users")) \
            .select(F.lit(op).alias("op"), "n_users")

    return (cnt(s.intersect(e), "intersect")
            .unionAll(cnt(s.exceptAll(e).distinct(), "except"))
            .unionAll(cnt(s.union(e).distinct(), "union")))


# ---------------------------------------------------------------------------
# EWMA rate anomalies: sequential per-key fold with integer arithmetic
# ---------------------------------------------------------------------------

# shared by the smoothing family (EWMA q_rate_anomaly +
# q_stream_rate_anomaly oracle, Holt-Winters q_holt_winters): ONE
# definition of the per-(peer, minute) count series so the forecasters
# can never silently diverge on their input grid
_PEER_MINUTE_CTES = """
    src AS (
      SELECT 'p' || CAST(user_id % 10 AS VARCHAR) AS peer,
             CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute_epoch
      FROM ev
    ),
    cnts AS (
      SELECT peer, minute_epoch, CAST(count(*) AS BIGINT) AS cnt
      FROM src GROUP BY peer, minute_epoch
    ),
    g AS (
      SELECT peer,
             list(minute_epoch ORDER BY minute_epoch) AS ms,
             list(cnt ORDER BY minute_epoch) AS cs
      FROM cnts GROUP BY peer
    )"""


def _peer_minute_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark half of _PEER_MINUTE_CTES: per peer, the minute-ordered
    (minute_epoch, cnt) array the sequential folds run over."""
    ev = _events(spark, sf_dir)
    src = ev.select(
        F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string"))
         .alias("peer"),
        F.expr("cast(ts as long) div 60").alias("minute_epoch"))
    cnts = (src.groupBy("peer", "minute_epoch")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    return cnts.groupBy("peer").agg(
        F.sort_array(F.collect_list(F.struct("minute_epoch", "cnt")))
         .alias("arr"))


_RATE_ANOMALY_ORACLE = f"""
    WITH {_EV},
{_PEER_MINUTE_CTES},
    folded AS (
      SELECT peer, ms, cs,
        string_split(string_split(
          list_reduce(
            list_prepend('-1#',
                         list_transform(cs, x -> CAST(x AS VARCHAR))),
            (acc, x) -> CASE
              WHEN CAST(split_part(acc, '#', 1) AS BIGINT) < 0
              THEN x || '#' || split_part(acc, '#', 2) || ',_'
              ELSE CAST((3 * CAST(split_part(acc, '#', 1) AS BIGINT)
                         + CAST(x AS BIGINT)) // 4 AS VARCHAR)
                   || '#' || split_part(acc, '#', 2) || ','
                   || split_part(acc, '#', 1)
            END),
          '#')[2], ',') AS parts
      FROM g
    )
    SELECT peer, ms[g.i] AS minute_epoch, cs[g.i] AS cnt,
           CASE WHEN parts[g.i + 1] = '_' THEN NULL
                ELSE CAST(parts[g.i + 1] AS BIGINT) END AS ewma_prev,
           CAST(CASE WHEN parts[g.i + 1] <> '_'
                      AND cs[g.i] > 2 * CAST(parts[g.i + 1] AS BIGINT)
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM folded, UNNEST(generate_series(1, len(cs))) AS g(i)
    """


@register(
    "q_rate_anomaly",
    oracle=_RATE_ANOMALY_ORACLE,
    survey_ref="ops analytics: EWMA rate-anomaly detection over the "
               "peer update-rate series (the monitoring layer on top "
               "of A8 update-rate stats) — sequential per-key "
               "exponential smoothing with all-integer arithmetic",
    doc="per-(peer, minute) counts -> per-key ordered fold "
        "ewma' = (3*ewma + x) div 4 carrying the PREVIOUS ewma per "
        "bucket -> flag cnt > 2*ewma_prev; integer floor division "
        "at every step so the flags are bit-identical on any engine",
)
def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA is inherently sequential per key, which windows cannot
    express — the same per-key ordered-fold shape as the BPE merge
    apply and the OHLC run-length patterns: ONE aggregation builds
    each key's ordered (minute, count) array (bounded by the series
    length per key, not the corpus), and the smoothing runs inside
    ``F.aggregate`` with integer floor division. At 100 TB the
    per-key series is the retention window's minute count (~40k rows
    per peer-month) — array-safe; the alternative per-row UDAF would
    serialize the same state with Python overhead."""
    g = _peer_minute_groups(spark, sf_dir)
    cs = F.transform("arr", lambda s: s["cnt"])
    # O(L) Arrow scan instead of the O(L^2) interpreted concat-fold
    # (see _ewma_scan); __e is a materialized column, so the zip
    # below never re-runs the scan
    g2 = g.select(
        "peer",
        F.transform("arr", lambda s: s["minute_epoch"]).alias("__m"),
        cs.alias("__c"),
        _ewma_scan(F.lit(-1).cast("long"), cs)["eps"].alias("__e"))
    z = g2.select(
        "peer",
        F.explode(F.arrays_zip("__m", "__c", "__e")).alias("r"))
    return z.select(
        "peer",
        F.col("r.__m").alias("minute_epoch"),
        F.col("r.__c").alias("cnt"),
        F.col("r.__e").alias("ewma_prev"),
        (F.col("r.__e").isNotNull()
         & (F.col("r.__c") > 2 * F.col("r.__e"))).cast("int")
        .alias("is_anomaly"))


# ---------------------------------------------------------------------------
# Holt-Winters double smoothing: level + trend forecast anomalies
# ---------------------------------------------------------------------------

_HW_ORACLE = f"""
    WITH {_EV},
{_PEER_MINUTE_CTES},
    folded AS (
      SELECT peer, ms, cs,
        string_split(split_part(
          list_reduce(
            list_prepend('0,0,0#',
                         list_transform(cs,
                                        x -> CAST(x * 1000 AS VARCHAR))),
            (acc, x) -> CASE
              WHEN split_part(split_part(acc, '#', 1), ',', 1) = '0'
              THEN '1,' || x || ',0#' || split_part(acc, '#', 2) || '_;'
              ELSE '1,'
                || CAST(CAST(floor((3 * (
                     CAST(split_part(split_part(acc, '#', 1), ',', 2)
                          AS BIGINT)
                     + CAST(split_part(split_part(acc, '#', 1), ',', 3)
                            AS BIGINT))
                     + CAST(x AS BIGINT)) / 4.0) AS BIGINT) AS VARCHAR)
                || ','
                || CAST(CAST(floor((
                     CAST(floor((3 * (
                       CAST(split_part(split_part(acc, '#', 1), ',', 2)
                            AS BIGINT)
                       + CAST(split_part(split_part(acc, '#', 1), ',', 3)
                              AS BIGINT))
                       + CAST(x AS BIGINT)) / 4.0) AS BIGINT)
                     - CAST(split_part(split_part(acc, '#', 1), ',', 2)
                            AS BIGINT)
                     + 7 * CAST(split_part(split_part(acc, '#', 1), ',', 3)
                                AS BIGINT)) / 8.0) AS BIGINT) AS VARCHAR)
                || '#' || split_part(acc, '#', 2)
                || CAST(CAST(split_part(split_part(acc, '#', 1), ',', 2)
                             AS BIGINT)
                        + CAST(split_part(split_part(acc, '#', 1), ',', 3)
                               AS BIGINT) AS VARCHAR)
                || '|'
                || split_part(split_part(acc, '#', 1), ',', 3) || ';'
            END),
          '#', 2), ';') AS parts
      FROM g
    )
    SELECT peer, ms[g.i] AS minute_epoch, cs[g.i] AS cnt,
           CASE WHEN parts[g.i] = '_' THEN NULL
                ELSE CAST(split_part(parts[g.i], '|', 1) AS BIGINT)
           END AS forecast_prev_milli,
           CASE WHEN parts[g.i] = '_' THEN NULL
                ELSE CAST(split_part(parts[g.i], '|', 2) AS BIGINT)
           END AS trend_prev_milli,
           CAST(CASE WHEN parts[g.i] <> '_'
                      AND cs[g.i] * 1000 > 2 * GREATEST(
                        CAST(split_part(parts[g.i], '|', 1) AS BIGINT),
                        1000)
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM folded, UNNEST(generate_series(1, len(cs))) AS g(i)
    """


@register(
    "q_holt_winters",
    oracle=_HW_ORACLE,
    survey_ref="ops analytics: Holt-Winters double exponential "
               "smoothing (level + trend) over the peer update-rate "
               "series — the ramp-aware forecaster next to the "
               "trendless EWMA (q_rate_anomaly): a steadily growing "
               "rate stays un-flagged because the trend term follows "
               "it, while the EWMA lags and false-alarms",
    doc="per-(peer, minute) counts -> ordered fold carrying (level, "
        "trend): level' = floor((3*(level+trend) + x) / 4), trend' = "
        "floor((level' - level + 7*trend) / 8) (alpha 1/4, beta 1/8); "
        "state in milli-units so the 1/8 trend step resolves below "
        "one count; flags cnt > 2*max(forecast, 1); floor division on BOTH "
        "engines so negative trends round identically",
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same one-aggregation-per-key shape as q_rate_anomaly (windows
    cannot express the coupled recurrence): the fold carries a
    (seen, level, trend, forecasts, trends) struct and appends the
    PRE-update forecast per bucket. All state is integer; the only
    float op is the /4.0 and /8.0 floor divisions, exact on
    integer-valued doubles — both engines produce bit-identical
    series, including negative trends (floor, not truncation,
    verified on both). At 100 TB: per-key series bounded by the
    retention window, the array fold is partition-local."""
    g = _peer_minute_groups(spark, sf_dir)
    cs = F.transform("arr", lambda s: s["cnt"])
    cs_milli = F.transform("arr", lambda s: s["cnt"] * 1000)
    # O(L) Arrow scan instead of the O(L^2) two-array interpreted
    # concat-fold — and ONE evaluation for both output series (the
    # fold was previously re-evaluated per extracted field)
    g2 = g.select(
        "peer",
        F.transform("arr", lambda s: s["minute_epoch"]).alias("__m"),
        cs.alias("__c"),
        _hw_scan(cs_milli).alias("__s"))
    z = g2.select(
        "peer",
        F.explode(F.arrays_zip(
            "__m", "__c",
            F.col("__s")["fs"].alias("__f"),
            F.col("__s")["ts"].alias("__t"))).alias("r"))
    return z.select(
        "peer",
        F.col("r.__m").alias("minute_epoch"),
        F.col("r.__c").alias("cnt"),
        F.col("r.__f").alias("forecast_prev_milli"),
        F.col("r.__t").alias("trend_prev_milli"),
        (F.col("r.__f").isNotNull()
         & (F.col("r.__c") * 1000
            > 2 * F.greatest(F.col("r.__f"), F.lit(1000))))
        .cast("int").alias("is_anomaly"))


# ---------------------------------------------------------------------------
# robust outliers: median / MAD via exact order statistics
# ---------------------------------------------------------------------------

@register(
    "q_mad_outliers",
    oracle=f"""
    WITH {_EV},
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM ev GROUP BY event_type),
    r1 AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn
      FROM ev
    ),
    med AS (
      SELECT r1.event_type, r1.value AS med
      FROM r1 JOIN n USING (event_type) WHERE rn = (n + 1) // 2
    ),
    d AS (
      SELECT ev.event_type, ev.event_id, med.med,
             abs(ev.value - med.med) AS dev
      FROM ev JOIN med USING (event_type)
    ),
    r2 AS (
      SELECT event_type, dev, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev, event_id) AS rn
      FROM d
    ),
    mad AS (
      SELECT r2.event_type, r2.dev AS mad
      FROM r2 JOIN n USING (event_type) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, n.n,
           CAST(floor(min(d.med) * 1000000.0 + 0.5) AS BIGINT)
             AS med_micro,
           CAST(floor(min(mad.mad) * 1000000.0 + 0.5) AS BIGINT)
             AS mad_micro,
           CAST(count(*) FILTER (WHERE d.dev > 3.0 * mad.mad) AS BIGINT)
             AS n_outliers
    FROM d JOIN mad USING (event_type) JOIN n USING (event_type)
    GROUP BY d.event_type, n.n
    """,
    survey_ref="ops analytics: robust outlier census — median/MAD "
               "(the estimator a heavy-tailed value column needs where "
               "mean/stddev are themselves dragged by the outliers); "
               "the robust-statistics member of the monitoring tier "
               "next to the EWMA rate anomalies and the PSI drift gate",
    doc="lower-median order statistic ((n+1) div 2-th by (value, "
        "event_id)) via row_number — NO percentile interpolation, so "
        "the statistic is an actual data element and engine-exact on "
        "doubles; MAD = same order statistic of |value - median|; "
        "flags strict > 3*MAD",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics need one per-group sort (two window
    passes); group count here is |event_type|, and each sort is
    partition-parallel across groups — the same bounded-group stance
    as q_doc_percentiles. The unbounded-group / single-pass path is
    the mergeable quantile sketch (operators/sketch.py) with rank
    error 3N/k; this query is the exact gate the sketch is scored
    against. Joins key on the groupBy key, so no extra shuffle."""
    ev = fan_out(_events(spark, sf_dir), spark).select(
        "event_type", "value", "event_id")
    n = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    w1 = W.partitionBy("event_type").orderBy("value", "event_id")
    r1 = ev.select("event_type", "value", "event_id",
                   F.row_number().over(w1).alias("rn"))
    med = (r1.join(n, "event_type")
           .filter(F.col("rn") == F.expr("(n + 1) div 2"))
           .select("event_type", F.col("value").alias("med")))
    d = (ev.join(med, "event_type")
         .select("event_type", "event_id", "med",
                 F.abs(F.col("value") - F.col("med")).alias("dev")))
    w2 = W.partitionBy("event_type").orderBy("dev", "event_id")
    r2 = d.select("event_type", "dev", F.row_number().over(w2).alias("rn"))
    mad = (r2.join(n, "event_type")
           .filter(F.col("rn") == F.expr("(n + 1) div 2"))
           .select("event_type", F.col("dev").alias("mad")))
    return (d.join(mad, "event_type").join(n, "event_type")
            .groupBy("event_type", "n")
            .agg(F.expr("cast(floor(min(med) * 1000000.0d + 0.5d) "
                        "as bigint)").alias("med_micro"),
                 F.expr("cast(floor(min(mad) * 1000000.0d + 0.5d) "
                        "as bigint)").alias("mad_micro"),
                 F.sum(F.when(F.col("dev") > 3.0 * F.col("mad"), 1)
                        .otherwise(0)).cast("long").alias("n_outliers")))


@register(
    "q_stream_rate_anomaly",
    oracle=_RATE_ANOMALY_ORACLE,
    survey_ref="ops analytics: STREAMING EWMA anomalies — per-peer "
               "smoothing state carried across micro-batches in the "
               "txn store (the monitoring member of the incremental "
               "family); gated against the IDENTICAL full-series "
               "oracle, so any batch-boundary seeding error breaks "
               "the hash",
    doc="minutes split into 3 consecutive time slices -> per batch: "
        "seed each peer's fold from the stored EWMA, flag anomalies, "
        "commit flags + new state atomically (replayed batch no-ops) "
        "-> accumulated flags must equal the single-pass fold",
)
def q_stream_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental == batch is the whole gate: EWMA is a left fold,
    so folding consecutive time slices seeded with the carried state
    must reproduce the full-series fold bit-for-bit. Each batch pays
    one aggregation over its OWN minutes plus a peer-count-sized
    state replace; history is never rescanned. A wrong seed (state
    read before commit, replay double-apply, missing peer carry)
    shifts every later ewma_prev and turns the driver row red."""
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        ev = _events(spark, sf_dir)
        src = (ev.select(
            F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string"))
             .alias("peer"),
            F.expr("cast(ts as long) div 60").alias("minute_epoch"))
            .groupBy("peer", "minute_epoch")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .localCheckpoint())
        lo, hi = src.agg(F.min("minute_epoch"),
                         F.max("minute_epoch")).collect()[0]
        width = (int(hi) - int(lo)) // 3 + 1
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="ewma_"))
        state_schema = "peer string, e long"
        for b in range(3):
            batch = src.filter(
                ((F.col("minute_epoch") - F.lit(int(lo))) / width)
                .cast("long") == b)
            state = store.read("ewma_state",
                               empty_df(spark, state_schema)
                               .schema)
            g = (batch.groupBy("peer")
                 .agg(F.sort_array(
                     F.collect_list(F.struct("minute_epoch", "cnt")))
                     .alias("arr"))
                 .join(state, "peer", "left"))
            cs = F.transform("arr", lambda s_: s_["cnt"])
            # seeded O(L) Arrow scan (see _ewma_scan): state carried
            # in from the store via the init argument; the scan runs
            # ONCE and both the new state and the per-bucket series
            # are extracted from the materialized struct column
            g1 = g.select(
                "peer",
                F.transform("arr",
                            lambda s_: s_["minute_epoch"]).alias("__m"),
                cs.alias("__c"),
                _ewma_scan(
                    F.coalesce(F.col("e"), F.lit(-1).cast("long")),
                    cs).alias("__s"))
            # materialize the scan output ONCE per batch: both txn
            # outputs (flags append + state replace) project from z,
            # which would otherwise each re-run the batch aggregation
            # + Arrow scan as separate write jobs (the finding-2
            # two-output barrier applied to this sink)
            z = g1.select("peer",
                          F.col("__s")["e"].alias("new_e"),
                          F.arrays_zip(
                              "__m", "__c",
                              F.col("__s")["eps"].alias("__e"))
                          .alias("z")).localCheckpoint()
            flags = (z.select("peer", F.explode("z").alias("r"))
                     .select("peer",
                             F.col("r.__m").alias("minute_epoch"),
                             F.col("r.__c").alias("cnt"),
                             F.col("r.__e").alias("ewma_prev"),
                             (F.col("r.__e").isNotNull()
                              & (F.col("r.__c") > 2 * F.col("r.__e")))
                             .cast("int").alias("is_anomaly")))
            new_state = (state.join(z.select("peer"), "peer",
                                    "left_anti")
                         .unionByName(z.select(
                             "peer", F.col("new_e").alias("e"))))
            # different target tables, both staged before the single
            # commit record links in — overlap them (the BMP sink's
            # stage_concurrently pattern)
            from .state import stage_concurrently
            with store.transaction("rate_anomaly", b) as txn:
                stage_concurrently(
                    lambda: txn.append("rate_flags", flags),
                    lambda: txn.replace("ewma_state", new_state))
        # replay batch 1 with REAL rows: if the txn guard failed,
        # these duplicates would land in rate_flags and break the hash
        replay = src.filter(
            ((F.col("minute_epoch") - F.lit(int(lo))) / width)
            .cast("long") == 1).select(
            "peer", "minute_epoch", "cnt",
            F.lit(0).cast("long").alias("ewma_prev"),
            F.lit(1).cast("int").alias("is_anomaly"))
        with store.transaction("rate_anomaly", 1) as txn:
            txn.append("rate_flags", replay)
        return (store.read("rate_flags"),)

    (flags,) = _cached_pipeline("ewmastream", spark, sf_dir, build)
    return flags.select("peer", "minute_epoch", "cnt", "ewma_prev",
                        "is_anomaly")
