"""Corpus-curation and product-analytics operators, round-7 batch 2:

- exact repeated-substring (k-token span) dedup — the Lee et al.
  "Deduplicating Training Data Makes Language Models Better" exact
  substring pass, re-expressed as a window-hash groupBy;
- int8 embedding quantization with reconstruction-error audit — the
  storage/serving compression step for 100 TB embedding tables;
- length-bucket batching economics — padding-waste accounting for
  bucketed training batches;
- weekly retention cohorts and ordered event funnels over the events
  stream — the product-analytics queries every event warehouse runs.

No obmp-psql analog for the corpus ops (BASELINE.json north star);
the events ops mirror the reference's rollup/report family
(obmp-psql `database/2_aggregations.sql` style time-bucketed stats)
applied to generic event logs.

Oracle conventions follow registry.py: identical aliases both sides,
integer-ppm for every fraction entering the hash, per-element
integer rounding BEFORE any cross-row or cross-element sum of
transcendental/float values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import graph
from .registry import register
from .session import fan_out, load_tables, normalize_ts, sized_session, tiny_df

_NORM = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"
_EV = "ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_ts(load_tables(spark, sf_dir, ("events",))["events"])


def _norm_col():
    return F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))


# ---------------------------------------------------------------------------
# exact repeated-substring dedup (k-token spans)
# ---------------------------------------------------------------------------

_SPAN_K = 8
# oracle-side fixed position grid (DuckDB generate_series can't take a
# lateral column bound); 2048 comfortably exceeds the max token count
# at the driver's sf0.01 oracle scale. The Spark side uses sequence()
# and has no such bound.
_SPAN_GRID = 2048
# winnowing fingerprint parameters (Schleimer et al. SIGMOD'03): the
# standalone q_doc_winnow gate was consolidated into this query r10 —
# the rolling-min-over-k-gram-hash algebra is the same window-hash
# family and stays oracle-gated through the n_winnow_fp column
_WINNOW_K, _WINNOW_W = 8, 4


@register(
    "q_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id, md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS h
      FROM toks, generate_series(1, {_SPAN_GRID}) s(i)
      WHERE i <= len(t) - {_SPAN_K - 1}
    ),
    dup AS (
      SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) > 1
    ),
    per AS (
      SELECT w.doc_id,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(count(dup.h) AS BIGINT) AS n_dup_windows
      FROM w LEFT JOIN dup ON w.h = dup.h
      GROUP BY w.doc_id
    ),
    wn AS (
      SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS wt
      FROM documents
    ),
    whash AS (
      SELECT doc_id, g.p,
             substr(md5(substr(wt, g.p, {_WINNOW_K})), 1, 12) AS h
      FROM wn, UNNEST(generate_series(1, len(wt) - {_WINNOW_K - 1})) AS g(p)
    ),
    wfp AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS fp
      FROM whash
    ),
    wcnt AS (
      SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_winnow_fp
      FROM wfp GROUP BY 1
    )
    SELECT CAST(per.doc_id AS BIGINT) AS doc_id, n_windows, n_dup_windows,
           CAST(n_dup_windows * 1000000 // n_windows AS BIGINT) AS dup_ppm,
           wcnt.n_winnow_fp
    FROM per JOIN wcnt ON per.doc_id = wcnt.doc_id
    WHERE n_dup_windows > 0
    """,
    survey_ref="training-data dedup: exact repeated-substring pass "
               "(Lee et al. 2022 'Deduplicating Training Data Makes "
               "Language Models Better') — k-token spans shared across "
               "documents, the pass that catches partial/boilerplate "
               "duplication that document-level hashing misses and "
               "MinHash only scores approximately",
    doc=f"sliding {_SPAN_K}-token window -> md5 span key -> groupBy "
        "finding cross-document spans -> per-doc duplicated-span ppm; "
        "plus the winnowed (rolling-min k-gram hash, MOSS scheme) "
        "fingerprint-set size per doc — the consolidated q_doc_winnow "
        "surface",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-first replacement for the paper's suffix array: every
    k-token window becomes a fixed-width 16-byte digest in the scan
    stage (sequence + transform + explode — no Python, whole-stage
    codegen), so the shuffle carries digests, never text, and the
    cross-document test is one map-side-combinable count-distinct.
    At 100 TB the dup-span side is proportional to the duplicated
    mass only; the join back is a hash join on the already-shuffled
    digest key. Suffix arrays need a global sort; this needs one
    hash shuffle."""
    # persisted fanned corpus: the digest scan and the winnow pass
    # below both read it (was: one scan + fan_out exchange each)
    d = _mg_docs(spark, sf_dir)
    toks = F.split(_norm_col(), " ")
    k = _SPAN_K
    # docs shorter than k tokens have no windows (mirrors the oracle's
    # i <= len - k + 1 bound); the filter also keeps sequence() ascending
    # (sequence(1, 0) in Spark counts DOWN — [1, 0] — and slice(_, 0, k)
    # is an error)
    w = (
        d.select(F.col("doc_id").cast("long").alias("doc_id"),
                 toks.alias("__t"))
        .filter(F.size("__t") >= k)
        .select(
            "doc_id",
            F.explode(F.expr(
                f"transform(sequence(1, size(__t) - {k - 1}), "
                f"i -> md5(concat_ws(' ', slice(__t, i, {k}))))"
            )).alias("h"),
        )
    )
    # one digest pass instead of two: the tokenize+md5 window scan is
    # the expensive stage, and the previous dup-side aggregate + join
    # re-executed it (event log: two ~40 task-second scans per run).
    # (h, doc_id) counts carry everything needed — rows are distinct
    # pairs, so the per-h row count IS the distinct-doc count, and the
    # per-doc window totals are sums of c. Shuffles move deduped pairs
    # (map-side combined), never the raw window rows.
    from pyspark.sql import Window as _W
    pairs = w.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("__c"))
    nd = F.count(F.lit(1)).over(_W.partitionBy("h"))
    per = (pairs.withColumn("__nd", nd)
           .groupBy("doc_id")
           .agg(F.sum("__c").alias("n_windows"),
                F.sum(F.when(F.col("__nd") > 1, F.col("__c"))
                      .otherwise(F.lit(0))).alias("n_dup_windows"))
           .filter(F.col("n_dup_windows") > 0))
    # consolidated winnow surface (r10): distinct rolling-min k-gram
    # fingerprints per doc — winnow_fingerprints already dedups
    # (doc, fp), so the count is a plain per-doc aggregate that reuses
    # the doc_id partitioning from its window stage
    from .operators.dedup import winnow_fingerprints
    wcnt = (winnow_fingerprints(
                d.select(F.col("doc_id").cast("long").alias("doc_id"),
                         "text"),
                "doc_id", "text", k=_WINNOW_K, window=_WINNOW_W)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_winnow_fp")))
    return per.join(wcnt, "doc_id").select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        F.expr("n_dup_windows * 1000000L div n_windows").alias("dup_ppm"),
        F.col("n_winnow_fp").cast("long").alias("n_winnow_fp"),
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization + reconstruction-error audit
# ---------------------------------------------------------------------------

@register(
    "q_int8_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, scale,
             CAST(len(emb) AS BIGINT) AS n_dims,
             list_transform(emb, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv,
             emb
      FROM s WHERE scale > 0
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id, n_dims,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_sum(list_transform(list_zip(emb, qv),
                p -> CAST(floor((p[1] - p[2] * scale) * (p[1] - p[2] * scale)
                                * 1000000000.0 + 0.5) AS BIGINT)))
                AS BIGINT) AS err_nano,
           CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_ppb
    FROM q
    """,
    survey_ref="training-data pipeline: symmetric per-vector int8 "
               "quantization of the embedding column (absmax / 127 "
               "scale) + reconstruction-error audit — the 4x "
               "storage/bandwidth compression applied before serving "
               "or ANN-indexing a 100 TB embedding table",
    doc="absmax-scale int8 quantize per vector; outputs integer L1 of "
        "the codes, per-vector reconstruction MSE in integer "
        "nano-units (per-element rounding before the sum keeps the "
        "hash stable), and the scale in ppb",
)
def q_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All expression-form (transform/zip_with/aggregate inside
    whole-stage codegen): one narrow scan projection per vector, no
    shuffle, no UDF, no driver collect. Per-element error terms are
    rounded to integer nano-units BEFORE summing, so the fold is an
    integer sum (order-independent, bit-stable across engines); the
    float ops that remain (x/scale, d*d) are per-element IEEE doubles,
    identical on both engines. At 100 TB this is the map stage of a
    write job — linear scan, output 1/4 the input width."""
    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"],
                spark)
    s = e.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    ).select(
        "vec_id", "emb",
        F.expr("array_max(transform(emb, x -> abs(x))) / 127.0d")
         .alias("scale"),
    ).filter(F.col("scale") > 0)
    q = s.select(
        "vec_id", "emb", "scale",
        F.size("emb").cast("long").alias("n_dims"),
        F.expr("transform(emb, x -> cast(floor(x / scale + 0.5d) as bigint))")
         .alias("qv"),
    )
    return q.select(
        "vec_id", "n_dims",
        F.expr("aggregate(qv, 0L, (a, x) -> a + abs(x))").alias("q_l1"),
        F.expr(
            "aggregate(zip_with(emb, qv, (x, qq) -> "
            "cast(floor((x - qq * scale) * (x - qq * scale) "
            "* 1000000000.0d + 0.5d) as bigint)), 0L, (a, x) -> a + x)"
        ).alias("err_nano"),
        F.expr("cast(floor(scale * 1000000000.0d + 0.5d) as bigint)")
         .alias("scale_ppb"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (Achlioptas ±1 matrix)
# ---------------------------------------------------------------------------

_JL_K, _JL_D = 8, 64


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix: the sign of entry (j, i) is
    the md5 parity of "jl-v1:j:i". No RNG at runtime — both engines
    inline the identical literal, and re-projection of a grown corpus
    never changes existing rows."""
    import hashlib
    return [[1 if int(hashlib.md5(f"jl-v1:{j}:{i}".encode())
                      .hexdigest()[:2], 16) % 2 == 0 else -1
             for i in range(_JL_D)] for j in range(_JL_K)]


def _jl_oracle() -> str:
    rows = _jl_signs()
    ys = ",\n           ".join(
        "CAST(list_sum(list_transform(list_zip(emb, ["
        + ", ".join(str(s) for s in row)
        + "]), p -> CAST(floor(p[1] * 1000000.0 + 0.5) AS BIGINT)"
        " * p[2])) AS BIGINT) AS y" + str(j) + "_micro"
        for j, row in enumerate(rows))
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings WHERE len(embedding) = {_JL_D}
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           {ys},
           CAST(list_sum(list_transform(emb,
                x -> CAST(floor(x * x * 1000000000.0 + 0.5) AS BIGINT)))
             AS BIGINT) AS norm2_nano
    FROM e
    """


@register(
    "q_jl_project",
    oracle=_jl_oracle(),
    survey_ref="training-data pipeline: dimensionality reduction via "
               "Johnson-Lindenstrauss random projection (Achlioptas "
               "2003 ±1 matrix) — the N-independent map stage that "
               "shrinks the embedding column 8x before ANN indexing "
               "or shipping; complements the trained q_pca_project "
               "with a zero-training, streamable alternative",
    doc="hash-derived ±1 sign matrix (k=8, d=64) inlined identically "
        "into both engines; per-element integer-micro rounding BEFORE "
        "the signed sum keeps the fold order-independent; emits the "
        "projected coordinates plus the input norm so consumers can "
        "audit the JL distortion (E[sum y_j^2] = k * ||x||^2)",
)
def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All expression-form inside whole-stage codegen: one narrow
    projection per vector, no shuffle, no UDF, no training pass
    (contrast operators/pca.py, which needs a Gram aggregation).
    Signs are multiplied AFTER the micro-rounding so every term is an
    exact integer on both engines. At 100 TB this is a linear scan
    emitting 1/8 the width — the preferred first stage before IVF/LSH
    when a trained PCA is too expensive to refresh."""
    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"],
                spark)
    base = (e.filter(F.size("embedding") == _JL_D)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.expr("transform(embedding, x -> cast(x as double))")
                     .alias("emb")))
    ys = [
        F.expr(
            "aggregate(zip_with(emb, array("
            + ", ".join(str(s) for s in row)
            + "), (x, s) -> cast(floor(x * 1000000.0d + 0.5d) as bigint)"
            " * s), 0L, (a, t) -> a + t)"
        ).alias(f"y{j}_micro")
        for j, row in enumerate(_jl_signs())]
    return base.select(
        "vec_id", *ys,
        F.expr(
            "aggregate(transform(emb, x -> cast(floor(x * x "
            "* 1000000000.0d + 0.5d) as bigint)), 0L, (a, t) -> a + t)"
        ).alias("norm2_nano"))


# ---------------------------------------------------------------------------
# length-bucket batching economics
# ---------------------------------------------------------------------------

_BATCH_B = 32
_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)

_bucket_case_sql = "CASE " + " ".join(
    f"WHEN n_tokens <= {b} THEN {b}" for b in _BUCKETS
) + f" ELSE {_BUCKETS[-1]} END"


@register(
    "q_length_bucket",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split({_NORM.format(col='text')}, ' '))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_tokens, {_bucket_case_sql} AS bucket FROM toks
    ),
    g AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM b GROUP BY bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, total_tokens,
           CAST((n_docs + {_BATCH_B - 1}) // {_BATCH_B} AS BIGINT) AS n_batches,
           CAST(n_docs * bucket AS BIGINT) AS padded_tokens,
           CAST((n_docs * bucket - total_tokens) * 1000000
                // (n_docs * bucket) AS BIGINT) AS waste_ppm
    FROM g
    """,
    survey_ref="training-data pipeline: length-bucketed batching "
               "economics — group sequences into power-of-two length "
               "buckets, count batches of B, and audit the padding "
               "waste each bucket pays; the planning query behind "
               "bucketed batch samplers",
    doc=f"token count -> pow2 bucket (CASE chain, no float log) -> "
        f"per-bucket docs/batches-of-{_BATCH_B}/padding-waste ppm",
)
def q_length_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan + one small groupBy (at most len(_BUCKETS) groups —
    the agg is map-side combined down to a handful of rows per task).
    The bucket is an integer CASE chain, not ceil(log2(n)) — float
    log is engine-dependent at bucket boundaries. At 100 TB this is
    the O(1)-output planning scan a batch sampler runs per epoch."""
    d = fan_out(_docs(spark, sf_dir), spark)
    toks = F.split(_norm_col(), " ")
    b = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.expr(_bucket_case_sql))
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return g.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.expr(f"(n_docs + {_BATCH_B - 1}) div {_BATCH_B}")
         .alias("n_batches"),
        F.expr("n_docs * bucket").cast("long").alias("padded_tokens"),
        F.expr("(n_docs * bucket - total_tokens) * 1000000L "
               "div (n_docs * bucket)").alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# weekly retention cohorts
# ---------------------------------------------------------------------------

_WEEK_S = 7 * 24 * 3600


@register(
    "q_retention_cohort",
    oracle=f"""
    WITH {_EV},
    wk AS (
      SELECT user_id, epoch_us(ts) // {_WEEK_S * 1000000} AS week_idx
      FROM ev
    ),
    cohort AS (
      SELECT user_id, min(week_idx) AS cohort_week FROM wk GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT w.user_id, c.cohort_week,
             w.week_idx - c.cohort_week AS week_offset
      FROM wk w JOIN cohort c ON w.user_id = c.user_id
    ),
    size_ AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohort GROUP BY cohort_week
    )
    SELECT CAST(a.cohort_week AS BIGINT) AS cohort_week,
           CAST(a.week_offset AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           s.cohort_size,
           CAST(count(*) * 1000000 // s.cohort_size AS BIGINT)
             AS retention_ppm
    FROM act a JOIN size_ s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
    survey_ref="events analytics: weekly retention cohort matrix — "
               "first-activity week per user, distinct-active count "
               "per (cohort, week-offset), retention in ppm; the "
               "standard warehouse cohort query (reference analog: "
               "the time-bucketed per-peer activity stats family, "
               "2_aggregations.sql)",
    doc="integer epoch-week index (no date_trunc — week-start "
        "conventions differ across engines) -> min-week cohort -> "
        "distinct (user, offset) -> cohort matrix with ppm retention",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles on user_id (cohort min + the distinct) and one on
    the small (cohort, offset) key — all map-side combinable; the
    cohort-size side is a tiny broadcast. The week index is integer
    division of epoch seconds, so both engines bucket identically
    (date_trunc('week') anchors differ across engines/locales). At
    100 TB user_id-hash partitioning carries both user-side stages
    without a re-shuffle."""
    ev = fan_out(_events(spark, sf_dir), spark)
    wk = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) div {_WEEK_S * 1000000}").alias("week_idx"),
    )
    cohort = wk.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    act = (wk.join(cohort, "user_id")
           .select("user_id", "cohort_week",
                   (F.col("week_idx") - F.col("cohort_week"))
                   .alias("week_offset"))
           .distinct())
    size = F.broadcast(
        cohort.groupBy("cohort_week")
        .agg(F.count(F.lit(1)).cast("long").alias("cohort_size")))
    return (act.groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_active"))
            .join(size, "cohort_week")
            .select(F.col("cohort_week").cast("long").alias("cohort_week"),
                    F.col("week_offset").cast("long").alias("week_offset"),
                    F.col("n_active").cast("long").alias("n_active"),
                    "cohort_size",
                    F.expr("n_active * 1000000L div cohort_size")
                     .alias("retention_ppm")))


# ---------------------------------------------------------------------------
# ordered event funnel
# ---------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")


@register(
    "q_funnel_steps",
    oracle=f"""
    WITH {_EV},
    t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM ev
      WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS ts2
      FROM ev e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > t1.ts1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS ts3
      FROM ev e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > t2.ts2
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT) FROM t2
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT) FROM t3
    )
    SELECT CAST(stage AS INT) AS stage, n_users,
           CAST(n_users * 1000000
                // first_value(n_users) OVER (ORDER BY stage)
                AS BIGINT) AS conv_ppm
    FROM counts
    """,
    survey_ref="events analytics: ordered multi-step funnel "
               "(view -> click -> purchase, each step strictly after "
               "the previous user's step time) with per-stage "
               "conversion ppm — the sequential-pattern query event "
               "warehouses are built for",
    doc="per-user min-time chain: min(view), then min(click) after "
        "it, then min(purchase) after that; three user-keyed aggs, "
        "stage counts + conversion ppm vs stage 1",
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three groupBys on the same user_id key — Catalyst reuses the
    hash partitioning across the chain, so it's one wide shuffle then
    co-partitioned joins; each stage's input is pre-filtered to one
    event type in the scan (predicate pushdown). The final counts are
    three scalar aggs unioned driver-side — O(1) output. At 100 TB
    the type filters prune in the scan and everything stays in the
    user_id partitioning."""
    ev = fan_out(_events(spark, sf_dir), spark)
    t1 = (ev.filter(F.col("event_type") == _FUNNEL[0])
          .groupBy("user_id").agg(F.min("ts").alias("ts1")))
    t2 = (ev.filter(F.col("event_type") == _FUNNEL[1])
          .join(t1, "user_id")
          .filter(F.col("ts") > F.col("ts1"))
          .groupBy("user_id").agg(F.min("ts").alias("ts2")))
    t3 = (ev.filter(F.col("event_type") == _FUNNEL[2])
          .join(t2, "user_id")
          .filter(F.col("ts") > F.col("ts2"))
          .groupBy("user_id").agg(F.min("ts").alias("ts3")))
    c1 = t1.agg(F.count(F.lit(1)).alias("n_users")) \
        .select(F.lit(1).alias("stage"), "n_users")
    c2 = t2.agg(F.count(F.lit(1)).alias("n_users")) \
        .select(F.lit(2).alias("stage"), "n_users")
    c3 = t3.agg(F.count(F.lit(1)).alias("n_users")) \
        .select(F.lit(3).alias("stage"), "n_users")
    from pyspark.sql import Window

    counts = c1.unionAll(c2).unionAll(c3)
    # 3-row single-partition window; first_value over stage order is
    # the stage-1 count — avoids a scalar cross join
    w = Window.orderBy("stage")
    return (counts
            .withColumn("n1", F.first("n_users").over(w))
            .select(F.col("stage").cast("int").alias("stage"),
                    F.col("n_users").cast("long").alias("n_users"),
                    F.expr("n_users * 1000000L div n1").alias("conv_ppm")))


# ---------------------------------------------------------------------------
# PageRank over a derived interaction graph (unrolled iterations)
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_NODES = 500
_PR_BASE = 150_000   # (1 - d) in ppm, d = 0.85
_PR_DAMP = 850_000


def _pagerank_oracle() -> str:
    edges = (
        f"edges AS (SELECT DISTINCT CAST(user_id % {_PR_NODES} AS BIGINT) AS src, "
        f"CAST((user_id + event_id) % {_PR_NODES} AS BIGINT) AS dst FROM events "
        f"WHERE user_id % {_PR_NODES} <> (user_id + event_id) % {_PR_NODES})"
    )
    parts = [
        edges,
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg "
        "FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges "
        "UNION SELECT DISTINCT dst FROM edges)",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_ppm FROM nodes)",
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"CAST(sum(r.rank_ppm // d.out_deg) AS BIGINT) AS contrib "
            f"FROM edges e JOIN r{i-1} r ON e.src = r.node "
            f"JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node, CAST({_PR_BASE} + "
            f"(({_PR_DAMP} * coalesce(c.contrib, 0)) // 1000000) AS BIGINT) "
            f"AS rank_ppm FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"
        )
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, rank_ppm FROM r{_PR_ITERS}")


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(),
    survey_ref="graph analytics: PageRank over the interaction graph "
               "(damping 0.85, fixed unrolled iterations, integer-ppm "
               "rank arithmetic) — the quality-propagation primitive "
               "behind web-graph-based corpus filtering (Common Crawl "
               "rank signals) and AS-connectivity scoring of the BMP "
               "as_path adjacency",
    doc=f"derived edge list -> out-degree -> {_PR_ITERS} unrolled "
        "join+agg rounds: contrib = sum(rank div out_deg) into each "
        "node, rank' = 150000 + 850000*contrib div 1e6; all-integer "
        "arithmetic so every iteration is hash-stable",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct edge list is bounded by the FIXED _PR_NODES
    universe (<= nodes^2 rows, independent of corpus size), so after
    Spark's one corpus-scale pass (project to node ids + distinct),
    the graph is model-sized state: ONE bounded collect and the
    iterations run driver-side in numpy (``graph.pagerank``; over
    ``graph.DRIVER_MAX_EDGES`` edges it raises ``ValueError``). Ranks
    are integer ppm with floor division at every step, so the
    arithmetic is bit-identical to the former unrolled join+agg rounds
    (sum of longs is order-free): contrib = sum(rank div out_deg) into
    each dst, rank' = BASE + DAMP*contrib div 1e6, dangling nodes keep
    coalesce(contrib, 0). The per-row work is two modulos, too cheap
    for a ``fan_out`` exchange to pay for itself."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    src = (F.col("user_id") % _PR_NODES).cast("long")
    dst = ((F.col("user_id") + F.col("event_id")) % _PR_NODES).cast("long")
    edges = (ev.select(src.alias("src"), dst.alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    return graph.pagerank(edges, _PR_ITERS, _PR_BASE, _PR_DAMP)


# ---------------------------------------------------------------------------
# label propagation: community detection by synchronous mode-vote
# ---------------------------------------------------------------------------

_LP_ITERS = 4
_LP_BLOCK = 50        # 10 planted blocks of 50 nodes
_LP_BRIDGE_MOD = 31   # sparse inter-block bridges (graph stays ONE CC)
_LP_CAP = 32          # per-node in-neighbor cap (supernode skew guard)


def cap_in_edges(sym: DataFrame, cap: int) -> DataFrame:
    """Supernode skew guard for vote-style graph rounds: keep at most
    ``cap`` in-edges per dst, chosen DETERMINISTICALLY as the cap
    smallest md5(src-dst) digests, so both engines keep the identical
    edge subset (a random sample would un-gate every round).

    Skew shape: the expensive part (a per-dst top-k window) runs ONLY
    over the minority of nodes whose degree exceeds the cap — low-
    degree nodes pass through a broadcast-size degree check with no
    window at all. A supernode's one window partition is exactly the
    work being bounded (its degree), after which every LPA round's
    join/vote fan-in is <= cap per node instead of unbounded."""
    from pyspark.sql import Window as W

    deg = sym.groupBy("dst").agg(F.count(F.lit(1)).alias("__deg"))
    edges = sym.join(deg, "dst")
    keep_all = edges.filter(F.col("__deg") <= cap).select("src", "dst")
    h = F.md5(F.concat_ws("-", F.col("src"), F.col("dst")))
    wcap = W.partitionBy("dst").orderBy(h.asc())
    capped = (edges.filter(F.col("__deg") > cap)
              .withColumn("__rn", F.row_number().over(wcap))
              .filter(F.col("__rn") <= cap)
              .select("src", "dst"))
    return keep_all.unionByName(capped)


def _label_prop_oracle() -> str:
    # planted-community graph: dense intra-block edges + sparse
    # inter-block bridges — connected as ONE component, but multiple
    # dense groups (see the Spark docstring)
    sym = (
        f"b AS (SELECT CAST(user_id % {_PR_NODES} AS BIGINT) AS src,"
        f" CAST(user_id % {_PR_NODES} AS BIGINT) // {_LP_BLOCK}"
        f" AS blk, event_id FROM events),\n"
        f"raw AS (SELECT DISTINCT src,"
        f" blk * {_LP_BLOCK} + (src + event_id) % {_LP_BLOCK} AS dst"
        f" FROM b WHERE src <> blk * {_LP_BLOCK}"
        f" + (src + event_id) % {_LP_BLOCK}"
        f" UNION SELECT DISTINCT src,"
        f" (src + {_LP_BLOCK}) % {_PR_NODES} AS dst"
        f" FROM b WHERE event_id % {_LP_BRIDGE_MOD} = 0),\n"
        "sym AS (SELECT src, dst FROM raw"
        " UNION SELECT dst, src FROM raw)"
    )
    # neighbor cap: same deterministic md5 top-k per dst as
    # cap_in_edges — votes flow only over the capped edge subset
    capped = (
        f"deg AS (SELECT dst, count(*) AS d FROM sym GROUP BY dst),\n"
        f"symc AS (SELECT src, dst FROM ("
        f"SELECT s.src, s.dst, d.d, row_number() OVER ("
        f"PARTITION BY s.dst ORDER BY md5(CAST(s.src AS VARCHAR)"
        f" || '-' || CAST(s.dst AS VARCHAR))) AS rn "
        f"FROM sym s JOIN deg d USING (dst)) "
        f"WHERE d <= {_LP_CAP} OR rn <= {_LP_CAP})"
    )
    parts = [
        sym,
        capped,
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM symc)",
    ]
    for i in range(1, _LP_ITERS + 1):
        parts.append(
            f"l{i} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label ASC) AS rn FROM ("
            f"SELECT e.dst AS node, r.label, CAST(count(*) AS BIGINT) AS c "
            f"FROM symc e JOIN l{i-1} r ON e.src = r.node "
            f"GROUP BY e.dst, r.label)) WHERE rn = 1)"
        )
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, CAST(label AS BIGINT) AS community "
              f"FROM l{_LP_ITERS}")


@register(
    "q_label_propagation",
    oracle=_label_prop_oracle(),
    survey_ref="graph analytics: community detection by synchronous "
               "label propagation (Raghavan et al. 2007) over the "
               "symmetrized interaction graph — the domain-clustering "
               "primitive next to PageRank (quality) and connected "
               "components (exact reachability); unlike CC's min-label "
               "fixpoint, the mode vote finds DENSE groups, not merely "
               "connected ones",
    doc=f"symmetrized edge list -> deterministic in-neighbor cap "
        f"({_LP_CAP}, md5 top-k — the supernode skew guard; engages "
        "on 150/194 gate nodes and the planted blocks still separate) "
        f"-> {_LP_ITERS} unrolled rounds: each node adopts the most "
        "frequent neighbor label, ties broken by smallest label "
        "(row_number over (count DESC, label ASC)) — fully "
        "deterministic, no RNG, hash-stable per round",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA: Spark builds the symmetric, neighbor-capped
    edge list and ``lpa_rounds`` runs the vote rounds driver-side over
    one bounded collect (the oracle spells each round as a join, a
    (node, label) count and a per-node window top-1). The classic LPA
    pitfall — RANDOM tie-breaking, which makes runs non-reproducible —
    is replaced by the deterministic (count DESC, label ASC) order, so
    every round is hash-gated on both engines. Same scale shape as
    q_pagerank: the edge list is bounded by the fixed node universe.

    The derived graph PLANTS community structure (the raw event graph
    at gate scale is near-complete — LPA on it collapses to one label
    and demonstrates nothing): dense edges inside blocks of _LP_BLOCK
    nodes plus sparse inter-block bridges. The bridges make the graph
    ONE connected component — a min-label CC pass would merge
    everything — while the mode vote keeps dense blocks apart
    (3 communities over 194 active nodes at the sf0.01 gate):
    exactly the CC-vs-LPA distinction the survey row claims. As in
    q_pagerank the per-row work is modulos, so no ``fan_out``."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    src = (F.col("user_id") % _PR_NODES).cast("long")
    blk = F.expr(f"cast(user_id % {_PR_NODES} as bigint) "
                 f"div {_LP_BLOCK}")
    intra_dst = (blk * _LP_BLOCK
                 + (src + F.col("event_id")) % _LP_BLOCK).cast("long")
    intra = (ev.select(src.alias("src"), intra_dst.alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    bridge = (ev.filter(F.col("event_id") % _LP_BRIDGE_MOD == 0)
              .select(src.alias("src"),
                      ((src + _LP_BLOCK) % _PR_NODES).cast("long")
                      .alias("dst")))
    # one distinct, over the symmetric union, makes the edge set
    raw = intra.union(bridge)
    sym = raw.union(raw.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))).distinct()
    return lpa_rounds(sym, _LP_ITERS, cap=_LP_CAP)


def lpa_rounds(sym: DataFrame, iters: int,
               cap: int | None = None) -> DataFrame:
    """Synchronous LPA rounds over a symmetric (src, dst) edge list.

    The edge list is bounded by the FIXED node universe — and after
    the ``cap_in_edges`` supernode guard by cap x nodes rows — so the
    graph is model-sized state, not corpus-scale data: Spark computes
    the (distinct, capped) edges, then ONE bounded collect runs the
    synchronous rounds driver-side in numpy (``graph.label_propagation``;
    over ``graph.DRIVER_MAX_EDGES`` edges it raises ``ValueError``).
    Each round reproduces the previous in-plan algebra bit-for-bit:
    votes = per (dst, label-of-src) edge counts over srcs that still
    carry a label, winner = (count DESC, label ASC) — the min_by struct
    order it replaces — and nodes receiving no votes drop out exactly
    as the join+aggregate dropped them. Returns (node, community)."""
    if cap is not None:
        # supernode skew guard: every round's vote fan-in bounded by
        # the deterministic in-neighbor cap (see cap_in_edges)
        sym = cap_in_edges(sym, cap)
    return graph.label_propagation(sym, iters)


# ---------------------------------------------------------------------------
# kNN label classification over the embedding table
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_MOD = 40  # queries = vec_id % 40 == 0 (bounded fraction of corpus)


def _knn_oracle() -> str:
    from .queries_text import _COS_SQL

    cos = _COS_SQL.format(a="q.emb", b="e.emb")
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id % {_KNN_MOD} = 0),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             e.vec_id AS neighbor_id, e.label AS nlabel, {cos} AS cos
      FROM q JOIN e ON q.vec_id <> e.vec_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored) WHERE rnk <= {_KNN_K}
    ),
    votes AS (
      SELECT query_id, true_label, nlabel,
             CAST(count(*) AS BIGINT) AS n_votes
      FROM knn GROUP BY query_id, true_label, nlabel
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(true_label AS INT) AS true_label,
           CAST(nlabel AS INT) AS pred_label, n_votes,
           CAST(nlabel = true_label AS BOOLEAN) AS is_correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY n_votes DESC, nlabel ASC) AS vr
      FROM votes) WHERE vr = 1
    """


@register(
    "q_knn_classify",
    oracle=_knn_oracle(),
    survey_ref="training-data pipeline: kNN label classification over "
               "the embedding column (majority vote of the 5 cosine "
               "neighbors, deterministic tie-breaks) — the standard "
               "label-propagation / weak-supervision pass for "
               "auto-labeling an unlabeled corpus slice from a "
               "labeled seed set",
    doc=f"exact cosine top-{_KNN_K} per query (collected query side, "
        "BLAS prefilter + exact rescore over the item scan) -> "
        "neighbor-label votes -> majority with (votes desc, label "
        "asc) tie-break; integer votes keep the verdict hash-stable",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scoring pass is ``similarity.cosine_topk``: the bounded
    query side is collected to the driver once, the item partitions
    are scanned once by its Arrow kernel (a BLAS prefilter, then an
    exact rescore with the SQL cosine folds' doubles), each batch
    emits about k pairs per query, and a window trim keeps each
    query's top-k — no all-pairs join, no shuffle of pairs. The vote
    agg is O(queries x k) rows. At 100 TB the same plan swaps the
    exact scan for the IVF/PQ candidate generator; the vote/verdict
    stages are unchanged (they only see (query, neighbor_label)
    pairs)."""
    from pyspark.sql import Window as W

    from .operators import similarity

    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"],
                spark)
    q = e.filter(F.col("vec_id") % _KNN_MOD == 0)
    # the collected query side has the driver ceiling the former
    # broadcast had (N/40 rows of 64 doubles — 25 MB at sf100); the
    # raised max_queries documents it
    topk = similarity.cosine_topk(q, e, k=_KNN_K, max_queries=1_000_000)
    labels = e.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("label").alias("nlabel"))
    qlabels = e.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("true_label"))
    votes = (topk.join(labels, "neighbor_id")
             .join(F.broadcast(qlabels), "query_id")
             .groupBy("query_id", "true_label", "nlabel")
             .agg(F.count(F.lit(1)).cast("long").alias("n_votes")))
    # top-1 vote via min_by aggregate, not a row_number window: votes
    # is unique on (query_id, nlabel), so struct(-n_votes, nlabel) is a
    # tie-free total order picking exactly the window's (n_votes DESC,
    # nlabel ASC) winner — HashAggregate with map-side partials instead
    # of a second exchange + full sort (the LPA top-1 shape)
    best = (votes.groupBy("query_id", "true_label")
            .agg(F.min_by(F.struct("nlabel", "n_votes"),
                          F.struct((-F.col("n_votes")).alias("nv"),
                                   F.col("nlabel").alias("nl")))
                 .alias("__b")))
    return best.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("true_label").cast("int").alias("true_label"),
        F.col("__b.nlabel").cast("int").alias("pred_label"),
        F.col("__b.n_votes").alias("n_votes"),
        (F.col("__b.nlabel") == F.col("true_label")).alias("is_correct"))


# ---------------------------------------------------------------------------
# bigram-LM surprisal (add-1 smoothing) — sequence-aware quality signal
# ---------------------------------------------------------------------------

_LN2_uB = 1_000_000  # per-bigram surprisal unit: integer micro-bits


@register(
    "q_bigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(
               list_zip(t[1:len(t)-1], t[2:len(t)]),
               p -> p[1] || ' ' || p[2])) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    b AS (
      SELECT doc_id, string_split(bg, ' ')[1] AS w1, bg FROM big
    ),
    cb AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
    cu AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
    v AS (
      SELECT count(DISTINCT term) AS vsz FROM (
        SELECT unnest(t) AS term FROM toks)
    ),
    bits AS (
      SELECT b.doc_id,
             CAST(round((ln(cu.c1 + (SELECT vsz FROM v)) - ln(cb.c2 + 1))
                        / ln(2) * 1000000) AS BIGINT) AS mb
      FROM b JOIN cb ON b.bg = cb.bg JOIN cu ON b.w1 = cu.w1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(mb) // count(*) AS BIGINT) AS avg_microbits
    FROM bits GROUP BY doc_id
    """,
    survey_ref="training-data quality: bigram-LM surprisal per document "
               "(mean -log2 p(w2|w1) under add-1-smoothed corpus MLE) — "
               "the sequence-aware upgrade of q_doc_unigram_ppl; word "
               "salad scores high even when its unigrams are common, "
               "which is exactly the gibberish the unigram signal misses",
    doc="bigrams via zip(t, t[2:]) in the array domain (no window, no "
        "self-join) -> bigram + context counts -> per-bigram surprisal "
        "rounded to integer micro-bits BEFORE the per-doc sum",
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram pairing happens inside the row (zip_with over two
    slices of the token array — whole-stage codegen, no explode until
    the pair string exists), so the shuffle carries counted bigram
    keys, not positions. Two count aggs (bigram- and context-keyed,
    both map-side combined, both bounded by distinct-ngram count),
    one broadcast scalar V, one doc-keyed mean of pre-rounded integer
    micro-bits. Same 100 TB shape as a tokenizer-corpus count job."""
    d = fan_out(_docs(spark, sf_dir), spark)
    toks = F.split(_norm_col(), " ")
    tdoc = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                    toks.alias("t"))
    b = (tdoc.filter(F.size("t") >= 2)
         .select("doc_id", F.explode(F.expr(
             "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
             "(a, b) -> concat(a, ' ', b))")).alias("bg"))
         .withColumn("w1", F.expr("split(bg, ' ')[0]")))
    cb = b.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    cu = b.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = F.broadcast(
        tdoc.select(F.explode("t").alias("term"))
        .agg(F.countDistinct("term").cast("double").alias("__vsz")))
    bits = (b.join(cb, "bg").join(cu, "w1").crossJoin(v)
            .select("doc_id",
                    F.round((F.log(F.col("c1") + F.col("__vsz"))
                             - F.log(F.col("c2") + F.lit(1.0)))
                            / F.lit(float(__import__("math").log(2)))
                            * 1_000_000).cast("long").alias("__mb")))
    return (bits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("__mb").alias("__s"))
            .select("doc_id",
                    F.col("n_bigrams").cast("long").alias("n_bigrams"),
                    F.expr("__s div n_bigrams").alias("avg_microbits")))


# ---------------------------------------------------------------------------
# corpus snapshot diff (dataset versioning audit)
# ---------------------------------------------------------------------------

_DIFF_B_SQL = """
vb AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 1 THEN text || ' [rev2]' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 50000, text, source FROM documents WHERE doc_id % 13 = 2
)
"""


@register(
    "q_corpus_diff",
    oracle=f"""
    WITH {_DIFF_B_SQL},
    a AS (SELECT doc_id, md5(text) AS h FROM documents),
    bt AS (SELECT doc_id, md5(text) AS h FROM vb),
    d AS (
      SELECT coalesce(a.doc_id, bt.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN bt.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> bt.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN bt ON a.doc_id = bt.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM d GROUP BY status
    """,
    survey_ref="training-data pipeline: corpus snapshot diff — "
               "added/removed/changed/unchanged classification between "
               "two dataset versions by content hash; the audit that "
               "gates incremental re-training and cache invalidation "
               "(reference analog: the CDC changelog family applied to "
               "a corpus instead of a RIB)",
    doc="content-hash both snapshots -> full outer join on doc_id -> "
        "4-way status CASE -> per-status counts + id checksum",
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides reduce to (doc_id, 16-byte hash) in the scan, so
    the full outer join shuffles fixed-width rows regardless of
    document size; the status agg is 4 groups, map-side combined. At
    100 TB with both snapshots bucketed by doc_id the join is
    shuffle-free — same co-location argument as the ingest MERGE."""
    d = fan_out(_docs(spark, sf_dir), spark)
    base = d.select("doc_id", "text", "source")
    vb = (base.filter(F.col("doc_id") % 7 != 0)
          .select("doc_id",
                  F.when(F.col("doc_id") % 11 == 1,
                         F.concat(F.col("text"), F.lit(" [rev2]")))
                  .otherwise(F.col("text")).alias("text"),
                  "source")
          .unionAll(base.filter(F.col("doc_id") % 13 == 2)
                    .select((F.col("doc_id") + 50000).alias("doc_id"),
                            "text", "source")))
    a = base.select(F.col("doc_id").cast("long").alias("a_id"),
                    F.md5("text").alias("a_h"))
    bt = vb.select(F.col("doc_id").cast("long").alias("b_id"),
                   F.md5("text").alias("b_h"))
    diff = (a.join(bt, a["a_id"] == bt["b_id"], "full_outer")
            .select(F.coalesce("a_id", "b_id").alias("doc_id"),
                    F.when(F.col("a_id").isNull(), "added")
                    .when(F.col("b_id").isNull(), "removed")
                    .when(F.col("a_h") != F.col("b_h"), "changed")
                    .otherwise("unchanged").alias("status")))
    return (diff.groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_checksum")))


# ---------------------------------------------------------------------------
# exact-n deterministic per-stratum sample
# ---------------------------------------------------------------------------

_TOPN_N = 25
_TOPN_SALT = "topn-v1:"


# ---------------------------------------------------------------------------
# event-type transition matrix (first-order Markov over user streams)
# ---------------------------------------------------------------------------

@register(
    "q_event_transitions",
    oracle=f"""
    WITH {_EV},
    s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM ev
    ),
    t AS (SELECT event_type, next_type FROM s WHERE next_type IS NOT NULL),
    c AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY event_type, next_type
    ),
    tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS row_total
      FROM c GROUP BY event_type
    )
    SELECT c.event_type, c.next_type, c.n,
           CAST(c.n * 1000000 // t2.row_total AS BIGINT) AS p_ppm
    FROM c JOIN tot t2 ON c.event_type = t2.event_type
    """,
    survey_ref="events analytics: first-order Markov transition matrix "
               "over per-user ordered event streams (lead window, "
               "deterministic (ts, event_id) order) with row-normalized "
               "transition probabilities in ppm — the sequence-model "
               "summary behind next-action prediction and anomaly "
               "scoring",
    doc="lead() per user ordered by (ts, event_id) -> transition "
        "counts -> per-row-total ppm normalization",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user_id-hash shuffle for the lead window (per-user streams
    sort within their partition), then a k^2-group agg (k = distinct
    event types, tiny) and a broadcast row-total join. The window
    order includes event_id so equal timestamps break identically on
    both engines. At 100 TB this is the canonical sessionized-scan
    shape: partition by user, sort in partition, emit fixed-width
    pairs."""
    from pyspark.sql import Window as W

    ev = fan_out(_events(spark, sf_dir), spark)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", "event_type",
                  F.lead("event_type").over(w).alias("next_type"))
    c = (s.filter(F.col("next_type").isNotNull())
         .groupBy("event_type", "next_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = (c.groupBy("event_type")
           .agg(F.sum("n").cast("long").alias("row_total")))
    return (c.join(F.broadcast(tot), "event_type")
            .select("event_type", "next_type", "n",
                    F.expr("n * 1000000L div row_total").alias("p_ppm")))


# ---------------------------------------------------------------------------
# MMR diversification re-rank (greedy, unrolled to dataflow)
# ---------------------------------------------------------------------------

_MMR_POOL = 20   # relevance candidates per query
_MMR_K = 5       # selections
_MMR_NUM = 7     # lambda = 0.7 as the integer pair (7, 3)
_MMR_DEN = 3


def _mmr_oracle() -> str:
    from .queries_text import _COS_SQL

    cos_qe = _COS_SQL.format(a="q.emb", b="e.emb")
    cos_ab = _COS_SQL.format(a="a.emb", b="b.emb")
    parts = [
        """e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    )""",
        "q AS (SELECT * FROM e WHERE vec_id < 5)",
        f"""cand AS (
      SELECT query_id, cand_id, rel_ppm FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
               CAST(round({cos_qe} * 1000000) AS BIGINT) AS rel_ppm,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos_qe} DESC, e.vec_id) AS rnk
        FROM q JOIN e ON q.vec_id <> e.vec_id
      ) WHERE rnk <= {_MMR_POOL}
    )""",
        """cv AS (
      SELECT c.query_id, c.cand_id, e.emb FROM cand c
      JOIN e ON c.cand_id = e.vec_id
    )""",
        f"""pairs AS (
      SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
             CAST(round({cos_ab} * 1000000) AS BIGINT) AS sim_ppm
      FROM cv a JOIN cv b
        ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
    )""",
        """sel1 AS (
      SELECT query_id, cand_id, 1 AS mmr_step, rel_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel_ppm DESC, cand_id) AS rn
        FROM cand) WHERE rn = 1
    )""",
        "selall1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, _MMR_K + 1):
        parts.append(
            f"""msim{i} AS (
      SELECT p.query_id, p.a_id, max(p.sim_ppm) AS maxsim_ppm
      FROM pairs p JOIN selall{i-1} s
        ON p.query_id = s.query_id AND p.b_id = s.cand_id
      GROUP BY p.query_id, p.a_id
    )""")
        parts.append(
            f"""sel{i} AS (
      SELECT query_id, cand_id, {i} AS mmr_step, rel_ppm FROM (
        SELECT c.query_id, c.cand_id, c.rel_ppm,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY {_MMR_NUM} * c.rel_ppm
                          - {_MMR_DEN} * coalesce(m.maxsim_ppm, 0) DESC,
                          c.cand_id) AS rn
        FROM cand c
        LEFT JOIN msim{i} m
          ON c.query_id = m.query_id AND c.cand_id = m.a_id
        WHERE NOT EXISTS (SELECT 1 FROM selall{i-1} s
                          WHERE s.query_id = c.query_id
                            AND s.cand_id = c.cand_id)
      ) WHERE rn = 1
    )""")
        parts.append(
            f"selall{i} AS (SELECT * FROM selall{i-1} "
            f"UNION ALL SELECT * FROM sel{i})")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(query_id AS BIGINT) AS query_id, "
              f"CAST(cand_id AS BIGINT) AS cand_id, "
              f"CAST(mmr_step AS INT) AS mmr_step, rel_ppm "
              f"FROM selall{_MMR_K}")


@register(
    "q_mmr_rerank",
    oracle=_mmr_oracle(),
    survey_ref="training-data similarity search: Maximal Marginal "
               "Relevance re-ranking (Carbonell & Goldstein 1998) — "
               "greedy diversity-aware selection from the ANN candidate "
               "pool, lambda=0.7; the dedup-aware retrieval step between "
               "raw top-k and a RAG/labeling consumer",
    doc=f"top-{_MMR_POOL} cosine pool -> {_MMR_K} unrolled greedy "
        "rounds: score = 7*rel_ppm - 3*max(sim_ppm to selected); "
        "integer-ppm scores + (score desc, id) tie-break make the "
        "greedy argmax chain hash-stable",
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR is sequential in k, so it can't be one declarative
    agg — but the inputs to the greedy chain are BOUNDED small rows
    (cand <= pool x queries, pairs <= pool^2 x queries, independent
    of corpus size), so after Spark computes the pool and the
    pairwise integer sims, the k sequential argmax rounds run
    driver-side in exact Python-long arithmetic — the same
    per-round values and (score desc, id) tie-breaks the unrolled
    join+window chain produced, without k rounds x 3 jobs of
    choreography. At 100 TB the pool build is the ANN stage
    (broadcast queries, one item scan); the re-rank cost is
    independent of corpus size."""
    from .operators import similarity
    from .operators.similarity import as_double, dot, l2norm

    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"],
                spark)
    q = e.filter(F.col("vec_id") < 5)
    # exact cos doubles (the SQL folds') -> hash-stable rel_ppm
    topk = similarity.cosine_topk(q, e, k=_MMR_POOL)
    cand = (topk.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("cand_id"),
        F.round(F.col("cos") * 1_000_000).cast("long").alias("rel_ppm"))
        .localCheckpoint())
    ev = e.select(F.col("vec_id").cast("long").alias("vec_id"),
                  as_double(F.col("embedding")).alias("emb")) \
        .withColumn("__n", l2norm(F.col("emb")))
    cv = cand.join(ev, cand["cand_id"] == ev["vec_id"]) \
        .select("query_id", "cand_id", "emb", "__n")
    a = cv.alias("a")
    b = cv.alias("b")
    pairs = (a.join(b, (F.col("a.query_id") == F.col("b.query_id"))
                    & (F.col("a.cand_id") != F.col("b.cand_id")))
             .select(F.col("a.query_id").alias("query_id"),
                     F.col("a.cand_id").alias("a_id"),
                     F.col("b.cand_id").alias("b_id"),
                     F.round(dot(F.col("a.emb"), F.col("b.emb"))
                             / (F.col("a.__n") * F.col("b.__n"))
                             * 1_000_000).cast("long").alias("sim_ppm")))
    # bounded collects: cand <= queries x pool rows, pairs <= queries x
    # pool^2 rows — never the corpus. All scores are integer ppm, so
    # the Python greedy below is bit-identical to the former unrolled
    # join+window chain: step 1 argmax (rel_ppm desc, cand_id asc);
    # step i argmax (NUM*rel - DEN*max(sim to selected) desc, cand_id).
    rel = {}         # (query_id, cand_id) -> rel_ppm
    by_query = {}    # query_id -> [cand_id, ...]
    for r in cand.collect():
        rel[(r["query_id"], r["cand_id"])] = r["rel_ppm"]
        by_query.setdefault(r["query_id"], []).append(r["cand_id"])
    sim = {}         # (query_id, a_id, b_id) -> sim_ppm
    for r in pairs.collect():
        sim[(r["query_id"], r["a_id"], r["b_id"])] = r["sim_ppm"]
    out = []
    for qid in sorted(by_query):
        cands = by_query[qid]
        first = max(cands, key=lambda c: (rel[(qid, c)], -c))
        picked = [first]
        out.append((qid, first, 1, rel[(qid, first)]))
        for step in range(2, _MMR_K + 1):
            remaining = [c for c in cands if c not in picked]
            if not remaining:
                break
            best, best_key = None, None
            for c in remaining:
                sims = [sim[(qid, c, s)] for s in picked
                        if (qid, c, s) in sim]
                maxsim = max(sims) if sims else 0
                score = _MMR_NUM * rel[(qid, c)] - _MMR_DEN * maxsim
                key = (score, -c)
                if best is None or key > best_key:
                    best, best_key = c, key
            picked.append(best)
            out.append((qid, best, step, rel[(qid, best)]))
    return tiny_df(
        spark, out,
        "query_id long, cand_id long, mmr_step int, rel_ppm long")


# ---------------------------------------------------------------------------
# HLL sketch build + union (mergeable distinct-count sketches)
# ---------------------------------------------------------------------------

_HLL_TOL_PPM = 50_000  # 5% gate; lgK=12 standard error is ~1.6%


# ---------------------------------------------------------------------------
# streaming quality gate over the documents stream
# ---------------------------------------------------------------------------

@register(
    "q_stream_quality_filter",
    oracle=f"""
    WITH f AS (
      SELECT source,
             CAST(len(string_split(trim(regexp_replace(text,'\\s+',' ','g')),
                                   ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    v AS (
      SELECT source,
             CASE WHEN n_tokens BETWEEN 10 AND 400
                   AND (n_chars - (n_tokens - 1)) * 10 >= n_tokens * 25
                  THEN 'pass' ELSE 'reject' END AS verdict
      FROM f
    )
    SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs
    FROM v GROUP BY source, verdict
    """,
    survey_ref="training-data pipeline x T9: streaming quality gate — "
               "the heuristic quality filter (token-count band + min "
               "avg token length, all-integer arithmetic) applied on "
               "the REAL streaming engine with per-(source, verdict) "
               "live counters; the in-flight version of "
               "q_quality_score's batch filter",
    doc="file stream -> integer quality verdict in the scan -> "
        "complete-mode (source, verdict) counts through the "
        "streaming agg state store",
)
def q_stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verdict is a pure column expression (no UDF), so the
    streaming plan is scan -> project -> stateful agg; state is
    bounded by |sources| x 2 keys regardless of stream volume. The
    integer cross-multiply ((chars - (tokens-1)) * 10 >= tokens * 25
    i.e. avg token length >= 2.5) keeps the verdict hash-stable —
    no float division in the gate. At 100 TB this is the Kafka->
    quarantine topology: same plan, real source/sink, counters
    feeding the DQ dashboard."""
    import uuid as _uuid

    spark = sized_session(spark, sf_dir)
    name = f"stream_quality_{_uuid.uuid4().hex[:8]}"
    batch_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (spark.readStream.schema(batch_schema)
           .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    toks = F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
                   " ")
    f = src.select(
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"))
    v = f.select(
        "source",
        F.when(F.col("n_tokens").between(10, 400)
               & ((F.col("n_chars") - (F.col("n_tokens") - 1)) * 10
                  >= F.col("n_tokens") * 25), "pass")
        .otherwise("reject").alias("verdict"))
    agg = (v.groupBy("source", "verdict")
           .agg(F.count(F.lit(1)).alias("n_docs")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# market-share OLAP rollup (TPC-H Q8-shaped multi-join)
# ---------------------------------------------------------------------------

_DEC = "decimal(38,10)"


@register(
    "q_market_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name, EXTRACT(year FROM o.o_orderdate) AS o_year,
             CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(38,10))), 4) * 10000 AS BIGINT)
               AS rev_tenk
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, EXTRACT(year FROM o.o_orderdate)
    )
    SELECT r_name, CAST(o_year AS BIGINT) AS o_year,
           rev_tenk,
           CAST(CAST(rev_tenk AS HUGEINT) * 1000000
                // sum(rev_tenk) OVER (PARTITION BY o_year) AS BIGINT)
             AS share_ppm
    FROM rev
    """,
    survey_ref="OLAP join pipeline: per-region market share by year — "
               "the TPC-H Q8 shape (fact x fact x 3 dims, Catalyst "
               "join reordering + broadcast dims + partition-of-total "
               "window); generalizes the reference's "
               "J1-style star joins to the revenue-share report",
    doc="lineitem JOIN orders JOIN customer JOIN nation JOIN region "
        "-> DECIMAL revenue per (region, year) rounded to exact "
        "integer ten-thousandths -> integer ppm share within year "
        "(no decimal division — engines disagree on quotient scale)",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst gets the declarative star: nation/region broadcast
    (tiny), customer reaches the orders join as a shuffle hash join
    on custkey, lineitem x orders shuffles on orderkey — the only
    two wide exchanges, both on the natural fact keys. Revenue
    accumulates in DECIMAL (exact, associative — the double sum is
    order-dependent) and converts ONCE to integer ten-thousandths,
    so the share window is pure integer math. At 100 TB both facts
    would be bucketed by their join key and the exchanges vanish."""
    t = load_tables(spark, sf_dir,
                    ("lineitem", "orders", "customer", "nation", "region"))
    rev_row = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast(_DEC)
    rev = (t["lineitem"]
           .join(t["orders"],
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(t["region"]),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .groupBy("r_name",
                    F.year("o_orderdate").cast("long").alias("o_year"))
           .agg((F.round(F.sum(rev_row), 4) * 10000).cast("long")
                .alias("rev_tenk")))
    from pyspark.sql import Window as W

    return rev.select(
        "r_name", "o_year", "rev_tenk",
        # widen to DECIMAL before the ppm scaling: rev_tenk * 1e6
        # overflows int64 once yearly revenue passes ~9e8 (caught by
        # the sf0.1 bench under ANSI mode; oracle widens to HUGEINT)
        F.expr("CAST(rev_tenk AS DECIMAL(38,0)) * 1000000").alias("__num"),
        F.sum("rev_tenk").over(W.partitionBy("o_year")).alias("__tot"),
    ).select("r_name", "o_year", "rev_tenk",
             F.expr("CAST(__num div __tot AS BIGINT)").alias("share_ppm"))


# ---------------------------------------------------------------------------
# ntile decile assignment
# ---------------------------------------------------------------------------

@register(
    "q_value_ntile",
    oracle=f"""
    WITH {_EV}
    SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           CAST(ntile(10) OVER (PARTITION BY event_type
                ORDER BY value, event_id) AS INT) AS decile
    FROM ev
    """,
    survey_ref="window analytics: equal-frequency decile assignment "
               "(ntile) per group with deterministic (value, id) "
               "order — the feature-binning / SLA-banding primitive",
    doc="ntile(10) per event_type ordered by (value, event_id); the "
        "id tie-break makes bucket boundaries engine-identical",
)
def q_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash exchange on the partition key + in-partition sort;
    ntile is computed in a single pass over each sorted partition.
    The explicit event_id tie-break matters: equal values at a
    bucket boundary would otherwise split differently per engine.
    At 100 TB skewed groups would salt into sub-partitions and
    merge bucket ids afterward (documented, not needed at |type|=5)."""
    from pyspark.sql import Window as W

    ev = fan_out(_events(spark, sf_dir), spark)
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.ntile(10).over(w).cast("int").alias("decile"))


# ---------------------------------------------------------------------------
# bucketed range join (interval containment as an equi-join)
# ---------------------------------------------------------------------------

_RJ_CHUNK_S = 21_600          # 6-hour time chunks
_RJ_N_WINDOWS = 20
_RJ_STRIDE_S = 129_600        # windows start every 36 h
_RJ_LEN_S = 21_600            # each window is one aligned 6-h chunk
_RJ_EPOCH0 = 1_704_067_200    # 2024-01-01 00:00:00 UTC


@register(
    "q_range_join_bucketed",
    oracle=f"""
    WITH {_EV},
    win AS (
      SELECT i AS w_id,
             make_timestamp(({_RJ_EPOCH0} + i * {_RJ_STRIDE_S}) * 1000000)
               AS w_start,
             make_timestamp(({_RJ_EPOCH0} + i * {_RJ_STRIDE_S}
                             + {_RJ_LEN_S}) * 1000000) AS w_end
      FROM generate_series(0, {_RJ_N_WINDOWS - 1}) s(i)
    )
    SELECT CAST(w.w_id AS BIGINT) AS w_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(38,10))), 4) AS DOUBLE)
             AS sum_value
    FROM ev e JOIN win w ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.w_id
    """,
    survey_ref="join family: time-interval range join re-expressed as "
               "a bucketed EQUI-join — events and windows both key by "
               "the aligned 6-h chunk, so the theta condition becomes "
               "a hash join + residual filter; the pattern that keeps "
               "interval joins off the nested-loop path at 100 TB "
               "(same chunking idea as the LPM /8 buckets and the "
               "RPKI containment buckets)",
    doc="maintenance windows (aligned 6-h spans on a 36-h grid) "
        "joined to events on chunk = epoch div 21600 with residual "
        "ts < w_end; per-window counts/users/DECIMAL value sum",
)
def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle states the theta join; the Spark plan never runs
    one. Both sides compute the integer chunk key (windows span
    exactly one aligned chunk here; a longer window would explode
    into its covered chunks — same pattern, k rows per window), the
    join is a broadcast HASH join on the chunk, and the interval
    test survives only as a cheap residual filter. Swap-in for any
    ip-in-range / ts-in-window / version-in-interval join: the
    bucket grid turns O(N x W) pairing into O(N + W) hashing."""
    ev = fan_out(_events(spark, sf_dir), spark)
    win = (spark.range(_RJ_N_WINDOWS).select(
        F.col("id").cast("long").alias("w_id"),
        F.timestamp_seconds(F.lit(_RJ_EPOCH0)
                            + F.col("id") * _RJ_STRIDE_S).alias("w_start"),
        F.timestamp_seconds(F.lit(_RJ_EPOCH0) + F.col("id") * _RJ_STRIDE_S
                            + _RJ_LEN_S).alias("w_end"))
        .withColumn("chunk", F.expr(f"unix_micros(w_start) "
                                    f"div {_RJ_CHUNK_S * 1000000}")))
    e = ev.withColumn("chunk", F.expr(f"unix_micros(ts) "
                                      f"div {_RJ_CHUNK_S * 1000000}"))
    return (e.join(F.broadcast(win), "chunk")
            .filter(F.col("ts") < F.col("w_end"))
            .groupBy("w_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.round(F.sum(F.col("value").cast(_DEC)), 4)
                 .cast("double").alias("sum_value")))


# ---------------------------------------------------------------------------
# timeseries gap fill (dense per-series grid with zero-fill)
# ---------------------------------------------------------------------------

_GF_MAX_DAYS = 64  # oracle grid bound (events span 30 days at any sf)


@register(
    "q_gap_fill",
    oracle=f"""
    WITH {_EV},
    daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
             CAST(count(*) AS BIGINT) AS n_events
      FROM ev WHERE event_type IN ('signup', 'error')
      GROUP BY event_type, epoch_us(ts) // 86400000000
    ),
    bounds AS (
      SELECT event_type, min(day_idx) AS d0, max(day_idx) AS d1
      FROM daily GROUP BY event_type
    ),
    grid AS (
      SELECT b.event_type, b.d0 + i AS day_idx
      FROM bounds b, generate_series(0, {_GF_MAX_DAYS}) s(i)
      WHERE b.d0 + i <= b.d1
    )
    SELECT g.event_type, CAST(g.day_idx AS BIGINT) AS day_idx,
           CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
           CAST(d.day_idx IS NULL AS BOOLEAN) AS is_filled
    FROM grid g LEFT JOIN daily d
      ON g.event_type = d.event_type AND g.day_idx = d.day_idx
    """,
    survey_ref="timeseries: per-series gap fill — densify each "
               "series' [min, max] day range and zero-fill missing "
               "buckets (the step before rate/rolling math that "
               "silently lies on sparse data); reference analog: the "
               "gap the chg-stats cron leaves for idle intervals",
    doc="per-series bounds -> sequence(d0, d1) explode (dense integer "
        "grid generated engine-side, no calendar table) -> left join "
        "observed counts -> zero-fill + is_filled marker",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid generation is sequence() + explode per SERIES row
    (|types| rows in, |types| x |days| out) — no driver loop, no
    calendar dimension to maintain, and the left join back to the
    daily agg is co-partitioned on (series, day). Spark's sequence
    is ascending-safe here because d0 <= d1 by construction. At
    100 TB the grid side is negligible and the daily agg is the
    only wide stage."""
    ev = fan_out(_events(spark, sf_dir), spark)
    daily = (ev.filter(F.col("event_type").isin("signup", "error"))
             .groupBy("event_type",
                      F.expr("unix_micros(ts) div 86400000000")
                      .alias("day_idx"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_events")))
    bounds = (daily.groupBy("event_type")
              .agg(F.min("day_idx").alias("d0"),
                   F.max("day_idx").alias("d1")))
    grid = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(d0, d1)")).alias("day_idx"))
    return (grid.join(daily, ["event_type", "day_idx"], "left")
            .select("event_type",
                    F.col("day_idx").cast("long").alias("day_idx"),
                    F.coalesce("n_events", F.lit(0)).cast("long")
                    .alias("n_events"),
                    F.col("n_events").isNull().alias("is_filled")))


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "window")
_BM25_TOPN = 10


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM.format(col='text')}, ' ')) AS term
      FROM documents
    ), t AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM t GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dlen) AS BIGINT) AS total_tokens
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM t WHERE term IN ({terms}) GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen
                                 / (CAST(s.total_tokens AS DOUBLE) / s.n_docs)))
               * 1000000) AS BIGINT) AS mscore
      FROM tf JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id, CAST(sum(mscore) AS BIGINT) AS bm25_micro
      FROM scored GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, bm25_micro,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rnk
          FROM agg)
    WHERE rnk <= {_BM25_TOPN}
    """


@register(
    "q_bm25_rank",
    oracle=_bm25_oracle(),
    survey_ref="training-data corpus search: BM25 ranked retrieval "
               "(k1=1.2, b=0.75, Lucene idf) over posting lists — the "
               "scoring upgrade of the conjunctive posting-list search; per-(doc, term) "
               "scores rounded to integer micro-units BEFORE the "
               "per-doc sum so ranking ties are engine-identical",
    doc=f"tf/df/dl/avgdl from two bounded aggs -> per-term BM25 "
        f"contribution in integer micro-units -> per-doc sum -> "
        f"global top-{_BM25_TOPN} (score desc, doc_id)",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query-term filter lands in the scan (only k posting lists
    survive), document length and corpus stats come from one
    map-side-combined agg each, and the idf/df side is k rows —
    broadcast. The only O(corpus) stages are the token explode and
    the doc-length agg, both single-shuffle. The final top-n is a
    bounded TakeOrdered, not a full sort. Same plan a stored
    inverted index would serve per query at 100 TB."""
    from pyspark.sql import Window as W

    d = fan_out(_docs(spark, sf_dir), spark)
    toks = F.split(_norm_col(), " ")
    t = (d.select("doc_id", F.explode(toks).alias("term"))
         .filter(F.length("term") > 0))
    dl = t.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long")
                                 .alias("dlen"))
    stats = F.broadcast(dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dlen").cast("long").alias("total_tokens")))
    tf = (t.filter(F.col("term").isin(*_BM25_TERMS))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    df = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                            .alias("df")))
    scored = (tf.join(df, "term").join(dl, "doc_id").crossJoin(stats)
              .select("doc_id", F.round(
                  F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5))
                  * (F.col("tf") * 2.2)
                  / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen")
                     / (F.col("total_tokens").cast("double")
                        / F.col("n_docs"))))
                  * 1_000_000).cast("long").alias("mscore")))
    agg = scored.groupBy("doc_id").agg(F.sum("mscore").cast("long")
                                       .alias("bm25_micro"))
    w = W.orderBy(F.col("bm25_micro").desc(), F.col("doc_id"))
    return (agg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _BM25_TOPN)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "bm25_micro", F.col("rank").cast("int").alias("rank")))


# ---------------------------------------------------------------------------
# per-source dataset card
# ---------------------------------------------------------------------------

@register(
    "q_data_card",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source, lang, md5(text) AS h,
             CAST(len(string_split({_NORM.format(col='text')}, ' '))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    dup AS (
      SELECT h FROM f GROUP BY h HAVING count(*) > 1
    ),
    per AS (
      SELECT f.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT f.lang) AS BIGINT) AS n_langs,
             CAST(count(dup.h) AS BIGINT) AS n_dup_docs
      FROM f LEFT JOIN dup ON f.h = dup.h
      GROUP BY f.source
    )
    SELECT source, n_docs, total_tokens,
           CAST(total_tokens // n_docs AS BIGINT) AS mean_tokens,
           n_langs, n_dup_docs,
           CAST(n_dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm
    FROM per
    """,
    survey_ref="training-data pipeline: per-source dataset card — "
               "volume, token mass, language spread, exact-duplicate "
               "rate in one report; the datasheet summary generated "
               "per corpus drop",
    doc="one scan computing (source, lang, md5, token count) -> "
        "corpus-wide dup-hash set -> per-source rollup with integer "
        "mean/ppm",
)
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Everything reduces in the scan to fixed-width columns; the
    dup-hash side is count-filtered (>1) and joins back on the
    16-byte digest. One wide shuffle (the hash groupBy), one
    |sources|-group rollup. The 100 TB version is unchanged — this
    is the audit scan every corpus release runs."""
    d = fan_out(_docs(spark, sf_dir), spark)
    f = d.select("doc_id", "source", "lang", F.md5("text").alias("h"),
                 F.size(F.split(_norm_col(), " ")).cast("long")
                 .alias("n_tokens"))
    dup = (f.groupBy("h").agg(F.count(F.lit(1)).alias("__c"))
           .filter(F.col("__c") > 1)
           .select("h", F.lit(1).alias("__dup")))
    per = (f.join(dup, "h", "left")
           .groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
                F.countDistinct("lang").cast("long").alias("n_langs"),
                F.count("__dup").cast("long").alias("n_dup_docs")))
    return per.select(
        "source", "n_docs", "total_tokens",
        F.expr("total_tokens div n_docs").alias("mean_tokens"),
        "n_langs", "n_dup_docs",
        F.expr("n_dup_docs * 1000000L div n_docs").alias("dup_ppm"))


# ---------------------------------------------------------------------------
# graph degree distribution
# ---------------------------------------------------------------------------

_DEG_BUCKETS = (1, 2, 4, 8, 16, 32, 64, 128)
_deg_case_sql = "CASE " + " ".join(
    f"WHEN out_deg <= {b} THEN {b}" for b in _DEG_BUCKETS
) + f" ELSE {_DEG_BUCKETS[-1] * 2} END"


# ---------------------------------------------------------------------------
# triangle counting (degree-oriented, the O(m^1.5) classic)
# ---------------------------------------------------------------------------

_TRI_EDGES = (
    f"dir_edges AS (SELECT DISTINCT CAST(user_id % {_PR_NODES} AS BIGINT)"
    f" AS src, CAST((user_id + event_id) % {_PR_NODES} AS BIGINT) AS dst "
    f"FROM events "
    f"WHERE user_id % {_PR_NODES} <> (user_id + event_id) % {_PR_NODES})"
)


@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_TRI_EDGES},
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM dir_edges
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
      GROUP BY node
    ),
    orient AS (
      SELECT CASE WHEN da.deg * 1000000 + e.u < db.deg * 1000000 + e.v
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN da.deg * 1000000 + e.u < db.deg * 1000000 + e.v
                  THEN e.v ELSE e.u END AS t,
             CASE WHEN da.deg * 1000000 + e.u < db.deg * 1000000 + e.v
                  THEN db.deg * 1000000 + e.v
                  ELSE da.deg * 1000000 + e.u END AS kt
      FROM und e
      JOIN deg da ON e.u = da.node JOIN deg db ON e.v = db.node
    ),
    wedge AS (
      SELECT e1.t AS a, e2.t AS b
      FROM orient e1 JOIN orient e2
        ON e1.s = e2.s AND e1.kt < e2.kt
    )
    SELECT CAST(count(*) AS BIGINT) AS n_wedges,
           CAST(count(o.s) AS BIGINT) AS n_triangles
    FROM wedge w
    LEFT JOIN orient o ON o.s = w.a AND o.t = w.b
    """,
    survey_ref="graph analytics: triangle counting with DEGREE "
               "ORIENTATION — every undirected edge points from the "
               "lower-(degree, id) endpoint to the higher, so each "
               "node's out-degree is O(sqrt(m)) and the wedge join "
               "is O(m^1.5) instead of the naive sum of deg^2 that a "
               "hub node makes quadratic; the clustering-coefficient "
               "census behind spam/community detection on the "
               "interaction graph",
    doc="distinct undirected edges -> degree -> orient by "
        "(deg*1e6 + node) -> wedges from common source joined "
        "against the closing oriented edge; (n_wedges, n_triangles) "
        "in one left-join aggregate",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three equi-joins, all on node keys — no theta join anywhere.
    Orientation is the 100 TB point: hub nodes (the killer for
    naive wedge counting) land on the TARGET side of their edges,
    so no single source explodes the wedge fan-out. The unique
    (deg*1e6 + node) key makes the orientation a strict total order
    — identical on both engines, no tie policy needed."""
    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    src = (F.col("user_id") % _PR_NODES).cast("long")
    dst = ((F.col("user_id") + F.col("event_id")) % _PR_NODES).cast("long")
    und = (ev.select(src.alias("src"), dst.alias("dst"))
           .filter(F.col("src") != F.col("dst"))
           .select(F.least("src", "dst").alias("u"),
                   F.greatest("src", "dst").alias("v"))
           .distinct())
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                .alias("deg")))
    da = deg.select(F.col("node").alias("u"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("v"), F.col("deg").alias("degb"))
    ka = F.col("dega") * 1_000_000 + F.col("u")
    kb = F.col("degb") * 1_000_000 + F.col("v")
    # persisted: consumed by the bitset dim, the wedge count and the
    # edge-level intersection scan below — un-persisted, each subtree
    # re-ran the events scan + two distincts (3 scans in the profile)
    from .operators.cache import owned_persist
    orient = owned_persist(
        und.join(da, "u").join(db, "v")
        .select(F.when(ka < kb, F.col("u")).otherwise(F.col("v"))
                .alias("s"),
                F.when(ka < kb, F.col("v")).otherwise(F.col("u"))
                .alias("t")))
    # r14: wedges are never materialized. The node universe is the
    # fixed _PR_NODES-id domain, so each node's oriented out-neighbor
    # SET fits a words*64-bit bitset; closed wedges at s with far
    # endpoint pair {t, u} correspond 1:1 to u in N+(s) & N+(t) over
    # oriented edges (s, t) — each triangle {x<y<z} (k-order) counted
    # exactly once, at its x-wedge, same as the wedge join counted it.
    # n_wedges is sum C(outdeg, 2) — what the kt-ordered self-join
    # row count computed by enumeration. The O(sum deg^2) wedge
    # blowup (13.6M rows at sf0.1) is replaced by two <=_PR_NODES-row
    # bitset dims and one edge-level scan (guide §8: decide with
    # small rows, move nothing heavy).
    words = (_PR_NODES + 63) // 64
    outb = orient.groupBy(F.col("s").alias("node")).agg(*[
        F.bit_or(F.expr(
            f"CASE WHEN t div 64 = {w} THEN "
            f"shiftleft(1L, CAST(t % 64 AS INT)) ELSE 0L END"))
        .alias(f"__b{w}") for w in range(words)])
    wed = (orient.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
           .agg(F.coalesce(F.sum(F.expr("c * (c - 1) div 2")), F.lit(0))
                .cast("long").alias("n_wedges")))
    sb = outb.select(F.col("node").alias("s"),
                     *[F.col(f"__b{w}").alias(f"__sb{w}")
                       for w in range(words)])
    tb = outb.select(F.col("node").alias("t"),
                     *[F.col(f"__b{w}").alias(f"__tb{w}")
                       for w in range(words)])
    per_edge = " + ".join(
        f"bit_count(__sb{w} & coalesce(__tb{w}, 0L))" for w in range(words))
    tri = (orient.join(F.broadcast(sb), "s").join(F.broadcast(tb), "t", "left")
           .selectExpr(f"CAST({per_edge} AS BIGINT) AS __t")
           .agg(F.coalesce(F.sum("__t"), F.lit(0))
                .cast("long").alias("n_triangles")))
    return wed.crossJoin(tri)


# ---------------------------------------------------------------------------
# 2-hop reachability census
# ---------------------------------------------------------------------------

@register(
    "q_khop_reach",
    oracle=f"""
    WITH {_TRI_EDGES},
    two AS (
      SELECT e1.src, e2.dst AS d2
      FROM dir_edges e1 JOIN dir_edges e2 ON e1.dst = e2.src
      WHERE e2.dst <> e1.src
    ),
    reach AS (
      SELECT src, dst FROM dir_edges
      UNION
      SELECT src, d2 FROM two
    ),
    one_cnt AS (
      SELECT src, CAST(count(*) AS BIGINT) AS n_1hop
      FROM dir_edges GROUP BY src
    ),
    reach_cnt AS (
      SELECT src, CAST(count(*) AS BIGINT) AS n_reach2
      FROM reach GROUP BY src
    )
    SELECT o.src, o.n_1hop, r.n_reach2
    FROM one_cnt o JOIN reach_cnt r ON o.src = r.src
    """,
    survey_ref="graph analytics: 2-hop reachability census — per node, "
               "direct out-degree vs the distinct set reachable in "
               "<= 2 hops (the expansion measurement behind influence/"
               "blast-radius scoring); one self-join + set-union "
               "distinct, the bounded-depth BFS step expressed "
               "relationally",
    doc="edges self-joined on the middle node (excluding returns to "
        "the source), UNION-deduped with the 1-hop set, per-source "
        "counts joined",
)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The self-join shuffles on the middle node — the natural key —
    and the UNION's distinct reuses the (src, dst) hash. At 100 TB
    depth-k BFS iterates exactly this step with the frontier as the
    left side (the q_pagerank loop shape); the census here is the
    k=2 slice that's still SQL-expressible for the oracle. Hub
    middles fan out — the degree histogram is the
    pre-flight that decides if they need salting."""
    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    src = (F.col("user_id") % _PR_NODES).cast("long")
    dst = ((F.col("user_id") + F.col("event_id")) % _PR_NODES).cast("long")
    from .operators.cache import owned_persist
    # persisted: the bitset dim and the probe side below both consume
    # the distinct edge list (was: two events scans + two distincts)
    e = owned_persist(ev.select(src.alias("src"), dst.alias("dst"))
                      .filter(F.col("src") != F.col("dst"))
                      .distinct())
    # r14: the middle-node self-join materialized ~13.6M (src, d2)
    # rows at sf0.1 only for a distinct count. Node ids live in the
    # fixed _PR_NODES domain, so per-node reach SETS fit words*64-bit
    # bitsets: n_reach2 = popcount(1hop-bits | OR of neighbors'
    # out-bits, own bit cleared) — the same distinct union, computed
    # as map-side-combinable bit_or aggregates over the edge list
    # with one <=_PR_NODES-row broadcast dim (guide §8: decide with
    # small rows). n_1hop = popcount(1hop-bits) == the distinct-edge
    # count per src unchanged.
    words = (_PR_NODES + 63) // 64

    def _word(col: str, w: int) -> str:
        return (f"CASE WHEN {col} div 64 = {w} THEN "
                f"shiftleft(1L, CAST({col} % 64 AS INT)) ELSE 0L END")

    outb = (e.groupBy(F.col("src").alias("__node")).agg(*[
        F.bit_or(F.expr(_word("dst", w))).alias(f"__nb{w}")
        for w in range(words)])
        .withColumnRenamed("__node", "dst"))
    per = (e.join(F.broadcast(outb), "dst", "left")
           .groupBy("src")
           .agg(*([F.bit_or(F.expr(_word("dst", w))).alias(f"__one{w}")
                   for w in range(words)]
                  + [F.bit_or(F.coalesce(F.col(f"__nb{w}"),
                                         F.lit(0).cast("long")))
                     .alias(f"__two{w}") for w in range(words)])))
    n1 = " + ".join(f"bit_count(__one{w})" for w in range(words))
    mask = {w: (f"(CASE WHEN src div 64 = {w} THEN "
                f"~shiftleft(1L, CAST(src % 64 AS INT)) ELSE -1L END)")
            for w in range(words)}
    n2 = " + ".join(f"bit_count((__one{w} | __two{w}) & {mask[w]})"
                    for w in range(words))
    return per.selectExpr("src",
                          f"CAST({n1} AS BIGINT) AS n_1hop",
                          f"CAST({n2} AS BIGINT) AS n_reach2")


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters with a merge-guarantee gate
# ---------------------------------------------------------------------------

_MG_K = 50


def _mg_oracle(sf_dir: str, name: str = "q_heavy_hitters") -> str:
    from .queries_text import _aux, _sf_tag
    dump = _aux(name, _sf_tag(sf_dir))
    return f"""
    WITH dump AS (
      SELECT item, CAST(est AS BIGINT) AS est
      FROM read_parquet('{dump}/*.parquet')
    ),
    tok AS (
      SELECT unnest(string_split({_NORM.format(col='text')}, ' ')) AS term
      FROM documents
    ),
    t AS (SELECT term FROM tok WHERE length(term) > 0),
    exact AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM t
              GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
    m AS (SELECT CAST(sum(est) AS BIGINT) AS retained,
                 CAST(count(*) AS BIGINT) AS n_kept FROM dump),
    j AS (SELECT d.item, d.est, e.c
          FROM dump d JOIN exact e ON d.item = e.term)
    SELECT (SELECT total FROM n) AS n_total,
           (SELECT n_kept FROM m) AS n_kept,
           (SELECT retained FROM m) AS retained,
           CAST(bool_and(j.est <= j.c) AS BOOLEAN) AS le_ok,
           CAST(bool_and((j.c - j.est) * {_MG_K + 1}
                <= (SELECT total FROM n) - (SELECT retained FROM m))
                AS BOOLEAN) AS under_ok,
           CAST((SELECT count(*) FROM exact e
                 WHERE e.c * {_MG_K + 1}
                       > (SELECT total FROM n) - (SELECT retained FROM m)
                   AND e.term NOT IN (SELECT item FROM dump)) = 0
                AS BOOLEAN) AS hh_ok
    FROM j
    """


@register(
    "q_heavy_hitters",
    oracle=_mg_oracle,
    survey_ref="training-data sketches: Misra-Gries heavy hitters — "
               "the mergeable frequency summary next to HLL "
               "(distinct) and GK (quantiles); bounded memory per "
               "executor, associative merge, and the PODS'12 "
               "guarantee exact - est <= (N - M)/(k+1) gated as "
               "booleans through the parquet handshake (both engines "
               "score the same published sketch against their own "
               "exact counts)",
    doc=f"token stream -> per-partition k={_MG_K} counter summaries "
        f"(mapInPandas, state independent of partition size) -> "
        f"per-key sum merge -> final subtract-reduce -> published "
        f"sketch scored for est<=exact, the (N-M)/(k+1) undercount "
        f"bound, and guaranteed-heavy-hitter presence",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch replaces a full-vocabulary groupBy with a k-counter
    pass per partition plus a k*P-row merge — at 100 TB that is the
    difference between shuffling the key universe and shuffling
    50 rows per executor. The gate does not trust the theory: both
    engines recompute exact counts and verify the three guarantees
    against the SAME published summary, so a broken reduction (the
    classic off-by-one on the decrement threshold) turns the driver
    row red instead of silently inflating estimates."""
    from .operators.sketch import misra_gries

    toks = _mg_tokens(spark, sf_dir)
    return _score_mg(spark, sf_dir, misra_gries(toks, "term", _MG_K),
                     toks, "q_heavy_hitters")


def _mg_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id+text only, fanned out and persisted: the MG gates make
    two to four tokenize passes over the same corpus (per-batch
    sketches, the exact-count side of the guarantee gate) — one scan
    plus one round-robin exchange instead of one per pass."""
    from .operators.cache import owned_persist

    return owned_persist(
        fan_out(_docs(spark, sf_dir).select("doc_id", "text"), spark))


def _mg_tokens_of(d: DataFrame) -> DataFrame:
    return (d.select(F.explode(F.split(_norm_col(), " ")).alias("term"))
            .filter(F.length("term") > 0))


def _mg_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mg_tokens_of(_mg_docs(spark, sf_dir))


def _score_mg(spark: SparkSession, sf_dir: str, sketch: DataFrame,
              toks: DataFrame, name: str) -> DataFrame:
    """Publish the summary and score the three MG guarantees against
    Spark-side exact counts (the DuckDB half is _mg_oracle)."""
    from .operators.cache import owned_persist
    from .queries_text import _aux, _sf_tag, publish_aux

    aux = _aux(name, _sf_tag(sf_dir))
    publish_aux(sketch, aux)

    dump = spark.read.parquet(aux)
    # exact counts feed THREE consumers (n_total, the hh scan, the
    # guarantee join); un-persisted, each re-ran the full tokenize +
    # shuffle. The vocab-sized count table is the right thing to
    # persist at any scale, and n_total == sum(c) by construction —
    # one corpus pass total instead of three.
    exact = owned_persist(toks.groupBy(F.col("term")).agg(
        F.count(F.lit(1)).cast("long").alias("c")))
    n_total = int(exact.agg(F.sum("c")).collect()[0][0] or 0)
    mrow = dump.agg(F.sum("est").alias("r"),
                    F.count(F.lit(1)).alias("k")).collect()[0]
    retained, n_kept = int(mrow["r"]), int(mrow["k"])
    slack = n_total - retained
    hh_missing = (exact.filter(F.col("c") * (_MG_K + 1) > slack)
                  .join(dump, exact["term"] == dump["item"], "left_anti")
                  .count())
    return (dump.join(exact, dump["item"] == exact["term"])
            .agg(F.every(F.col("est") <= F.col("c")).alias("le_ok"),
                 F.every((F.col("c") - F.col("est")) * (_MG_K + 1)
                         <= F.lit(slack)).alias("under_ok"))
            .select(F.lit(n_total).cast("long").alias("n_total"),
                    F.lit(n_kept).cast("long").alias("n_kept"),
                    F.lit(retained).cast("long").alias("retained"),
                    "le_ok", "under_ok",
                    F.lit(hh_missing == 0).alias("hh_ok")))


@register(
    "q_stream_heavy_hitters",
    oracle=lambda sf: _mg_oracle(sf, "q_stream_heavy_hitters"),
    survey_ref="training-data sketches: STREAMING heavy hitters — "
               "per-micro-batch Misra-Gries summaries appended "
               "atomically to the transactional store (the "
               "frequency-sketch member of the incremental-index "
               "family: MinHash bands, IVF lists, PCA Gram "
               "partials), merged at read time; the PODS'12 "
               "guarantee is merge-tree independent, so batch "
               "boundaries cannot weaken the gate",
    doc=f"3 batches (doc_id mod 3) -> incremental_mg_update "
        f"(exactly-once txn, replayed batch no-ops) -> mg_from_store "
        f"merge -> the same published-summary guarantee gate as "
        f"q_heavy_hitters (k={_MG_K})",
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each batch pays one k-counter Arrow pass over its OWN rows
    plus a <= ~k-row append; history is never rescanned — O(batch)
    per trigger like the incremental MinHash index. The read-side
    merge is a <= k x batches row aggregate. The gate scores the
    merged summary against exact counts over the FULL corpus, so an
    over-subtraction in any one batch's reduce, a lost append, or a
    double-applied replay all turn the driver row red."""
    from .operators.sketch import incremental_mg_update, mg_from_store
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        # one persisted fanned corpus feeds every batch tokenize AND
        # the exact-count gate side (was: one scan + fan_out exchange
        # per batch)
        d = _mg_docs(spark, sf_dir)
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="mgsketch_"))
        for b in range(3):
            batch_toks = _mg_tokens_of(d.filter(F.col("doc_id") % 3 == b))
            incremental_mg_update(store, batch_toks, "term", _MG_K,
                                  batch_id=b)
        # replay batch 1: must no-op (txn counter), not double-count
        replay = _mg_tokens_of(d.filter(F.col("doc_id") % 3 == 1))
        incremental_mg_update(store, replay, "term", _MG_K, batch_id=1)
        sketch = mg_from_store(store, _MG_K)
        return (_score_mg(spark, sf_dir, sketch, _mg_tokens_of(d),
                          "q_stream_heavy_hitters"),)

    (out,) = _cached_pipeline("streammg", spark, sf_dir, build)
    return out


# ---------------------------------------------------------------------------
# mergeable quantile summary with a rank-error gate (MRL collapse)
# ---------------------------------------------------------------------------

_QS_K = 256
_QS_TARGETS = (100_000, 250_000, 500_000, 750_000, 900_000, 990_000)


def _qs_oracle(sf_dir: str, name: str = "q_quantile_sketch") -> str:
    from .queries_text import _aux, _sf_tag
    dump = _aux(name, _sf_tag(sf_dir))
    return f"""
    WITH dump AS (
      SELECT CAST(q_ppm AS BIGINT) AS q_ppm, est
      FROM read_parquet('{dump}/*.parquet')
    ),
    src AS (SELECT CAST(value AS DOUBLE) AS v FROM events
            WHERE value IS NOT NULL),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM src),
    sc AS (
      SELECT d.q_ppm, d.est,
             (SELECT CAST(count(*) AS BIGINT) FROM src
               WHERE v < d.est) AS r_lt,
             (SELECT CAST(count(*) AS BIGINT) FROM src
               WHERE v <= d.est) AS r_le,
             (SELECT total FROM n) AS total,
             d.q_ppm * (SELECT total FROM n) // 1000000 AS target
      FROM dump d
    ),
    e AS (
      SELECT q_ppm, est, total,
             CASE WHEN target BETWEEN r_lt AND r_le THEN 0
                  ELSE least(abs(r_lt - target), abs(r_le - target))
             END AS err
      FROM sc
    )
    SELECT q_ppm, est,
           CAST(err * 1000000 // total AS BIGINT) AS rank_err_ppm,
           CAST(err * {_QS_K} <= 3 * total AS BOOLEAN) AS ok
    FROM e ORDER BY q_ppm
    """


def _qs_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    return ev.select(F.col("value").cast("double").alias("v")) \
        .filter(F.col("v").isNotNull())


def _qs_score(spark: SparkSession, sf_dir: str, ests: list,
              src: DataFrame, name: str) -> DataFrame:
    """Publish the estimates, then score rank errors against the
    Spark-side exact column (one conditional-count aggregation — the
    est values enter as literals from the sketch-sized estimate
    list, never via a cross join)."""
    from .queries_text import _aux, _sf_tag, publish_aux

    aux = _aux(name, _sf_tag(sf_dir))
    publish_aux(
        tiny_df(spark, ests, "q_ppm long, est double"), aux)
    pairs = [(int(r["q_ppm"]), float(r["est"]))
             for r in spark.read.parquet(aux).collect()]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, (_, est) in enumerate(pairs):
        aggs.append(F.sum((F.col("v") < F.lit(est)).cast("long"))
                    .alias(f"lt{i}"))
        aggs.append(F.sum((F.col("v") <= F.lit(est)).cast("long"))
                    .alias(f"le{i}"))
    row = src.agg(*aggs).collect()[0]
    n = int(row["n"])
    out = []
    for i, (q, est) in enumerate(pairs):
        r_lt, r_le = int(row[f"lt{i}"]), int(row[f"le{i}"])
        target = q * n // 1_000_000
        err = 0 if r_lt <= target <= r_le \
            else min(abs(r_lt - target), abs(r_le - target))
        out.append((q, est, err * 1_000_000 // n, err * _QS_K <= 3 * n))
    return tiny_df(
        spark, out, "q_ppm long, est double, rank_err_ppm long, ok boolean") \
        .orderBy("q_ppm")


@register(
    "q_quantile_sketch",
    oracle=_qs_oracle,
    survey_ref="training-data sketches: mergeable quantile summary "
               "(MRL collapse) — the quantile member completing the "
               "sketch family next to HLL (distinct) and Misra-Gries "
               "(frequency); <= k weighted points per partition, "
               "associative merge, rank error <= 3N/k gated through "
               "the parquet handshake (both engines score the same "
               "published estimates against their own exact ranks)",
    doc=f"events.value -> per-partition sorted rank-sample summaries "
        f"(k={_QS_K}, mapInPandas, state independent of partition "
        f"size) -> concatenate+collapse merge -> p10/p25/p50/p75/p90/"
        f"p99 estimates published and scored for rank error vs the "
        f"3N/k bound on both engines",
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The summary replaces a full sort with one sorted-sample pass
    per partition plus a k*P-row merge — at 100 TB, percentiles
    without shuffling the column. The gate does not trust the
    theory: both engines recompute exact ranks of the SAME published
    estimates, so a collapse off-by-one (the rank-target fencepost)
    turns the driver row red instead of silently biasing
    percentiles."""
    from .operators.sketch import quantile_estimates, quantile_summary

    src = _qs_source(spark, sf_dir)
    ests = quantile_estimates(quantile_summary(src, "v", _QS_K),
                              list(_QS_TARGETS))
    return _qs_score(spark, sf_dir, ests, src, "q_quantile_sketch")


@register(
    "q_stream_quantile_sketch",
    oracle=lambda sf: _qs_oracle(sf, "q_stream_quantile_sketch"),
    survey_ref="training-data sketches: STREAMING quantiles — "
               "per-micro-batch summaries appended atomically to the "
               "transactional store (the quantile member of the "
               "incremental-index family); collapse errors sum over "
               "disjoint batch masses, so the 3N/k bound is "
               "batch-layout independent",
    doc=f"3 batches (event_id mod 3) -> incremental_quantile_update "
        f"(exactly-once txn, replayed batch no-ops) -> merged "
        f"estimates -> the same published-estimate rank gate as "
        f"q_quantile_sketch (k={_QS_K})",
)
def q_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each batch pays one sorted-sample pass over its OWN rows plus
    a <= k*P-row append; history is never rescanned. The read-side
    merge concatenates partials and answers from cumulative weights.
    The gate scores the merged estimates against exact ranks over
    the FULL column, so a lost append or a double-applied replay
    turns the driver row red."""
    from .operators.sketch import (incremental_quantile_update,
                                   quantile_estimates)
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        from .operators.cache import owned_persist

        # event_id+value only, fanned and persisted: four batch
        # passes (3 + replay) read one cached exchange instead of
        # re-scanning + re-shuffling the source per batch
        ev = owned_persist(fan_out(
            load_tables(spark, sf_dir, ("events",))["events"]
            .select("event_id", "value"), spark))
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="qsketch_"))
        for b in range(3):
            batch = (ev.filter(F.col("event_id") % 3 == b)
                     .select(F.col("value").cast("double").alias("v"))
                     .filter(F.col("v").isNotNull()))
            incremental_quantile_update(store, batch, "v", _QS_K,
                                        batch_id=b)
        # replay batch 1: must no-op (txn counter), not double-weight
        incremental_quantile_update(
            store, ev.filter(F.col("event_id") % 3 == 1)
            .select(F.col("value").cast("double").alias("v"))
            .filter(F.col("v").isNotNull()), "v", _QS_K, batch_id=1)
        from pyspark.sql.types import StructType
        return (store.read("quantile_partials",
                           schema=StructType.fromDDL(
                               "value double, weight double")),)

    (partials,) = _cached_pipeline("qsketch", spark, sf_dir, build)
    ests = quantile_estimates(partials, list(_QS_TARGETS))
    return _qs_score(spark, sf_dir, ests, _qs_source(spark, sf_dir),
                     "q_stream_quantile_sketch")


# ---------------------------------------------------------------------------
# distribution drift: population stability index between two cohorts
# ---------------------------------------------------------------------------

@register(
    "q_drift_psi",
    oracle="""
    WITH src AS (
      SELECT CAST(event_id % 2 AS INT) AS half,
             CAST(least(9, greatest(0, CAST(floor(value) AS BIGINT)))
                  AS BIGINT) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT half, CAST(count(*) AS BIGINT) AS total FROM src
          GROUP BY half),
    c AS (SELECT half, bin, CAST(count(*) AS BIGINT) AS cnt FROM src
          GROUP BY half, bin),
    grid AS (SELECT b.bin FROM generate_series(0, 9) AS b(bin)),
    p AS (
      SELECT g.bin,
             coalesce((SELECT cnt FROM c WHERE half = 0 AND bin = g.bin),
                      0) AS c1,
             coalesce((SELECT cnt FROM c WHERE half = 1 AND bin = g.bin),
                      0) AS c2,
             (SELECT total FROM n WHERE half = 0) AS n1,
             (SELECT total FROM n WHERE half = 1) AS n2
      FROM grid g
    ),
    t AS (
      SELECT CAST(bin AS BIGINT) AS bin, c1, c2,
             c1 * 1000000 // n1 + 1 AS p1_ppm,
             c2 * 1000000 // n2 + 1 AS p2_ppm
      FROM p
    ),
    e AS (
      SELECT bin, c1, c2, p1_ppm, p2_ppm,
             CAST(round((p1_ppm - p2_ppm)
                  * ln(CAST(p1_ppm AS DOUBLE) / p2_ppm)) AS BIGINT)
               AS term_micro
      FROM t
    )
    SELECT bin, c1, c2, p1_ppm, p2_ppm, term_micro,
           CAST(sum(term_micro) OVER () AS BIGINT) AS psi_micro
    FROM e ORDER BY bin
    """,
    survey_ref="training-data quality ops: distribution-drift monitor "
               "— population stability index between two cohorts "
               "(crawl snapshots / time halves), the gate a pipeline "
               "runs before mixing a new dump into the training set",
    doc="value-binned histograms per cohort -> integer-ppm shares "
        "(+1 smoothing for empty bins) -> per-bin PSI terms rounded "
        "to integer micro-units BEFORE the sum (order-independent), "
        "total as a 10-row window",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan + one 20-group aggregate at any corpus size; the PSI
    arithmetic is integer-ppm with per-bin micro-rounding before the
    sum, so the verdict is bit-identical on any engine (the
    q_doc_unigram_ppl convention for transcendental terms). The
    10-row total window is bounded by the bin grid, not the data."""
    from pyspark.sql.window import Window as W

    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    src = (ev.filter(F.col("value").isNotNull())
           .select((F.col("event_id") % 2).cast("int").alias("half"),
                   F.least(F.lit(9), F.greatest(
                       F.lit(0), F.floor("value").cast("bigint")))
                   .cast("bigint").alias("bin")))
    c = src.groupBy("half", "bin").agg(F.count(F.lit(1)).cast("long")
                                       .alias("cnt"))
    n = src.groupBy("half").agg(F.count(F.lit(1)).cast("long")
                                .alias("total"))
    grid = spark.range(10).select(F.col("id").cast("long").alias("bin"))
    h1 = c.filter(F.col("half") == 0).select("bin",
                                             F.col("cnt").alias("c1"))
    h2 = c.filter(F.col("half") == 1).select("bin",
                                             F.col("cnt").alias("c2"))
    n1 = n.filter(F.col("half") == 0).select(F.col("total").alias("n1"))
    n2 = n.filter(F.col("half") == 1).select(F.col("total").alias("n2"))
    p = (grid.join(F.broadcast(h1), "bin", "left")
         .join(F.broadcast(h2), "bin", "left")
         .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
         .select("bin",
                 F.coalesce("c1", F.lit(0)).cast("long").alias("c1"),
                 F.coalesce("c2", F.lit(0)).cast("long").alias("c2"),
                 "n1", "n2"))
    t = p.select(
        "bin", "c1", "c2",
        (F.expr("c1 * 1000000 div n1") + 1).alias("p1_ppm"),
        (F.expr("c2 * 1000000 div n2") + 1).alias("p2_ppm"))
    e = t.withColumn(
        "term_micro",
        F.round((F.col("p1_ppm") - F.col("p2_ppm"))
                * F.log(F.col("p1_ppm").cast("double")
                        / F.col("p2_ppm"))).cast("long"))
    return e.withColumn(
        "psi_micro",
        F.sum("term_micro").over(
            W.partitionBy().rowsBetween(W.unboundedPreceding,
                                        W.unboundedFollowing))
        .cast("long")).orderBy("bin")


def _stream_psi_oracle(sf_dir: str) -> str:
    """Reference histogram = batch 0 (event_id % 3 = 0); each later
    batch scores against it with the identical integer-ppm PSI."""
    parts = [f"""src AS (
      SELECT CAST(event_id % 3 AS INT) AS b,
             CAST(least(9, greatest(0, CAST(floor(value) AS BIGINT)))
                  AS BIGINT) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT b, CAST(count(*) AS BIGINT) AS total FROM src GROUP BY b),
    c AS (SELECT b, bin, CAST(count(*) AS BIGINT) AS cnt FROM src
          GROUP BY b, bin),
    grid AS (SELECT bb.b, g.bin
             FROM generate_series(1, 2) AS bb(b)
             CROSS JOIN generate_series(0, 9) AS g(bin))"""]
    sel = f"""
    SELECT CAST(g.b AS INT) AS batch_id, CAST(g.bin AS BIGINT) AS bin,
           coalesce(r.cnt, 0) AS ref_cnt, coalesce(x.cnt, 0) AS cnt,
           coalesce(r.cnt, 0) * 1000000
             // (SELECT total FROM n WHERE b = 0) + 1 AS p_ref_ppm,
           coalesce(x.cnt, 0) * 1000000
             // (SELECT total FROM n WHERE b = g.b) + 1 AS p_ppm
    FROM grid g
    LEFT JOIN (SELECT bin, cnt FROM c WHERE b = 0) r ON r.bin = g.bin
    LEFT JOIN c x ON x.b = g.b AND x.bin = g.bin"""
    return f"""
    WITH {','.join(parts)},
    p AS ({sel}),
    e AS (
      SELECT batch_id, bin, ref_cnt, cnt, p_ref_ppm, p_ppm,
             CAST(round((p_ref_ppm - p_ppm)
                  * ln(CAST(p_ref_ppm AS DOUBLE) / p_ppm)) AS BIGINT)
               AS term_micro
      FROM p
    )
    SELECT batch_id, bin, ref_cnt, cnt, p_ref_ppm, p_ppm, term_micro,
           CAST(sum(term_micro) OVER (PARTITION BY batch_id) AS BIGINT)
             AS psi_micro
    FROM e ORDER BY batch_id, bin
    """


@register(
    "q_stream_drift_psi",
    oracle=_stream_psi_oracle,
    survey_ref="training-data quality ops: STREAMING drift — the "
               "reference histogram is committed to the txn store by "
               "the first batch and every later micro-batch scores "
               "its own distribution against it (the drift member of "
               "the incremental family; the gate a pipeline runs on "
               "each arriving crawl shard before admitting it)",
    doc="batch 0 histogram -> atomic store commit as drift_ref; "
        "batches 1..2 (event_id mod 3) -> per-batch histograms "
        "scored vs the STORED reference with q_drift_psi's "
        "integer-micro PSI; replayed batch no-ops (txn counter)",
)
def q_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference histogram is 10 rows in the store — each batch
    pays one scan of its OWN rows plus a 10-row broadcast join, so
    drift scoring is O(batch) regardless of corpus history. PSI
    terms follow the micro-rounding convention, so the verdict is
    engine-stable."""
    from pyspark.sql.window import Window as W

    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"],
                     spark)
        src = (ev.filter(F.col("value").isNotNull())
               .select((F.col("event_id") % 3).cast("int").alias("b"),
                       F.least(F.lit(9), F.greatest(
                           F.lit(0), F.floor("value").cast("bigint")))
                       .cast("bigint").alias("bin")))
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="drift_"))
        hist0 = (src.filter(F.col("b") == 0).groupBy("bin")
                 .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
        with store.transaction("drift_ref", 0) as txn:
            txn.replace("drift_ref", hist0)
        with store.transaction("drift_ref", 0) as txn:  # replay: no-op
            txn.replace("drift_ref", hist0.limit(0))
        ref = store.read("drift_ref",
                         schema=hist0.schema).collect()
        ref_n = sum(r["cnt"] for r in ref)
        ref_map = {int(r["bin"]): int(r["cnt"]) for r in ref}
        grid = tiny_df(
            spark, [(b, bin, ref_map.get(bin, 0))
             for b in (1, 2) for bin in range(10)],
            "batch_id int, bin long, ref_cnt long")
        hist = (src.filter(F.col("b") > 0)
                .groupBy(F.col("b").alias("batch_id"), "bin")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
        n = (src.filter(F.col("b") > 0).groupBy(F.col("b").alias("batch_id"))
             .agg(F.count(F.lit(1)).cast("long").alias("total")))
        p = (grid.join(F.broadcast(hist), ["batch_id", "bin"], "left")
             .join(F.broadcast(n), "batch_id")
             .select("batch_id", "bin", "ref_cnt",
                     F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
                     (F.lit(ref_n)).alias("ref_n"), "total"))
        t = p.select(
            "batch_id", "bin", "ref_cnt", "cnt",
            (F.expr("ref_cnt * 1000000 div ref_n") + 1).alias("p_ref_ppm"),
            (F.expr("cnt * 1000000 div total") + 1).alias("p_ppm"))
        e = t.withColumn(
            "term_micro",
            F.round((F.col("p_ref_ppm") - F.col("p_ppm"))
                    * F.log(F.col("p_ref_ppm").cast("double")
                            / F.col("p_ppm"))).cast("long"))
        out = e.withColumn(
            "psi_micro",
            F.sum("term_micro").over(W.partitionBy("batch_id"))
            .cast("long"))
        return (out,)

    (out,) = _cached_pipeline("streamdrift", spark, sf_dir, build)
    return out.orderBy("batch_id", "bin")
