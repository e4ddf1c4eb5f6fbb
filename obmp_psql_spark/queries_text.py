"""Training-data pipeline operators over documents/embeddings:
dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + LSH), text analysis
(lang-ID, quality, token counts, fingerprint), multimodal binary
plumbing. These are first-class engine components for 100 TB corpus
work (no obmp-psql analog; see BASELINE.json north star).

Repetitive oracle SQL (16 minhash mins, 32 simhash bit votes, LSH
hyperplane constants) is generated programmatically so Spark and
DuckDB share byte-identical constants.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import similarity
from .operators.dedup import (
    bucket_star_edges,
    connected_components,
    minhash_bands,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from .registry import register
from .session import fan_out, load_tables, tiny_df

# ---------------------------------------------------------------------------
# shared corpus augmentation: exact clones (+10000) and near-clones
# (+20000, three extra tokens) so dedup queries have positives
# ---------------------------------------------------------------------------

_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 10000, text, source FROM documents
  UNION ALL
  SELECT doc_id + 20000, text || ' extra trailing tokens appended', source
  FROM documents WHERE doc_id % 5 = 0
)
"""

# normalized lowercase text (Spark: normalize_ws + lower)
_NORM = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # ONE scan and ONE round-robin exchange feed all three row
    # variants: each document row explodes into (base, clone,
    # near-or-null). A union of three branches would keep a scan and
    # an exchange per branch (the branches prune differently, so no
    # exchange is reused). fan_out: the fixture parquet is one row
    # group, and without the exchange the shingle/md5 map work of
    # every consumer lands on one task (measured: 8.9 s of task time
    # on 3 tasks in q_dedup_apply's signature stage at sf0.1).
    d = fan_out(d.select("doc_id", "text", "source"), spark)

    # one parsed projection: as Column algebra the three structs cost
    # ~100 py4j calls per query
    def row(shift: int, text: str) -> str:
        return (f"named_struct('doc_id', doc_id + {shift}, 'text', {text}, "
                "'source', source)")

    near = ("CASE WHEN doc_id % 5 = 0 THEN "
            + row(20000, "concat(text, ' extra trailing tokens appended')")
            + " END")
    rows = d.selectExpr(
        f"explode(array({row(0, 'text')}, {row(10000, 'text')}, {near})) AS r")
    return rows.filter("r IS NOT NULL").select("r.*")


# ---------------------------------------------------------------------------
# exact dedup by content fingerprint
# ---------------------------------------------------------------------------

@register(
    "q_dedup_exact",
    oracle=f"""
    WITH {_CORPUS_SQL},
    fp AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5({_NORM.format(col='text')}), 1, 12)) AS BIGINT) AS fp64
      FROM corpus
    )
    SELECT fp64,
           CAST(min(doc_id) AS BIGINT) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM fp GROUP BY fp64
    """,
    survey_ref="training-data dedup: exact (hash groupBy); O3 (keyed DISTINCT-ON: min-id survivor per fingerprint, gen_whois_route.py:195,210)",
    doc="48-bit md5 fingerprint, min-id survivor per group",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import fingerprint64
    c = _corpus(spark, sf_dir)
    return (
        c.withColumn("fp64", fingerprint64(F.col("text")))
        .groupBy("fp64")
        .agg(F.min("doc_id").cast("long").alias("survivor_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding candidate pairs
# ---------------------------------------------------------------------------

_NUM_HASHES, _BANDS, _SHINGLE_N = 16, 4, 3
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

_minhash_cols = ",\n             ".join(
    f"min(md5('{i}:' || s)) AS h{i}" for i in range(_NUM_HASHES))
_band_exprs = ",\n         ".join(
    "md5(" + " || '|' || ".join(f"h{i}" for i in range(b * _ROWS_PER_BAND,
                                                       (b + 1) * _ROWS_PER_BAND))
    + f") AS b{b}" for b in range(_BANDS))
_band_union = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band, b{b} AS bucket FROM sigs" for b in range(_BANDS))

_MINHASH_ORACLE = f"""
WITH {_CORPUS_SQL},
toks AS (
  SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t FROM corpus
),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - {_SHINGLE_N - 1})) AS g(i)
),
mh AS (
  SELECT doc_id, {_minhash_cols}
  FROM sh GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_band_exprs} FROM mh
),
banded AS (
{_band_union}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


@register(
    "q_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    survey_ref="training-data dedup: MinHash+LSH (shingle->minhash->band->bucket-join)",
    doc="16-hash signature, 4 bands; candidate pairs via band-bucket equi-join",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _corpus(spark, sf_dir).withColumn("text", F.lower(F.col("text")))
    return minhash_lsh_pairs(c, "doc_id", "text",
                             num_hashes=_NUM_HASHES, bands=_BANDS,
                             shingle_n=_SHINGLE_N)


# ---------------------------------------------------------------------------
# Connected-components clustering over the minhash pair graph:
# near-dup PAIRS -> duplicate GROUPS (the dedup step that picks one
# representative per group)
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_CORPUS_SQL},
toks AS (
  SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t FROM corpus
),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - {_SHINGLE_N - 1})) AS g(i)
),
mh AS (
  SELECT doc_id, {_minhash_cols}
  FROM sh GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_band_exprs} FROM mh
),
banded AS (
{_band_union}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS component
FROM reach GROUP BY id
"""


def _star_edges(c: DataFrame, text_col: str) -> DataFrame:
    """Spanning edges of the oracles' minhash-LSH pair graph."""
    return bucket_star_edges(minhash_bands(
        c, "doc_id", text_col, num_hashes=_NUM_HASHES, bands=_BANDS,
        shingle_n=_SHINGLE_N))


@register(
    "q_dedup_cluster",
    oracle=_CLUSTER_ORACLE,
    survey_ref="training-data dedup: pair graph -> connected components "
               "(duplicate groups; transitive-closure oracle via "
               "recursive CTE)",
    doc="min-label-propagation connected components over the minhash-"
        "LSH bucket stars (each band bucket's members joined to its min "
        "id: the components of the candidate-pair graph, linear edges)",
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _corpus(spark, sf_dir).withColumn("text", F.lower(F.col("text")))
    return connected_components(_star_edges(c, "text")).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"))


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_SIM_BITS = 32
_sim_votes = ",\n         ".join(
    f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}"
    for k in range(_SIM_BITS))
_sim_fp = " + ".join(
    f"CASE WHEN v{k} > 0 THEN CAST({1 << k} AS BIGINT) ELSE 0 END"
    for k in range(_SIM_BITS))

_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS t
  FROM documents
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, {_SIM_BITS // 4})) AS BIGINT) AS h FROM toks
),
votes AS (
  SELECT doc_id, {_sim_votes} FROM h GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, {_sim_fp} AS simhash FROM votes
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs (inverted-index join)
# ---------------------------------------------------------------------------

_MAX_DF = 50

_JACCARD_ORACLE = f"""
WITH {_CORPUS_SQL},
toks AS (
  SELECT doc_id, source, string_split({_NORM.format(col='text')}, ' ') AS t FROM corpus
),
sh0 AS (
  SELECT DISTINCT doc_id, source, array_to_string(t[i:i+2], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
),
keep AS (
  SELECT source, s FROM sh0 GROUP BY source, s HAVING count(*) <= {_MAX_DF}
),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (source, s)),
sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sized na ON na.doc_id = id_a
JOIN sized nb ON nb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.8
"""


@register(
    "q_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    survey_ref="training-data dedup: n-gram Jaccard via inverted-index join",
    doc="3-gram shingle Jaccard >= 0.8 within source blocks, stop-shingle df<=50",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _corpus(spark, sf_dir).withColumn("text", F.lower(F.col("text")))
    return ngram_jaccard_pairs(c, "doc_id", "text", shingle_n=_SHINGLE_N,
                               threshold=0.8, block_col="source",
                               max_doc_freq=_MAX_DF)


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

def _lang_score_sql(lang: str, markers: tuple[str, ...]) -> str:
    marks = ", ".join(f"'{m}'" for m in markers)
    return (f"SELECT doc_id, '{lang}' AS lang, "
            f"CAST(len(list_filter(string_split({_NORM.format(col='text')}, ' '), "
            f"t -> t IN ({marks}))) AS BIGINT) AS score FROM documents")


@register(
    "q_lang_id",
    oracle=None,  # set below after LANG_MARKERS import
    survey_ref="training-data text analysis: language ID (stopword heuristic)",
    doc="argmax marker-word score per language; 'und' when all zero",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import lang_id
    d = fan_out(load_tables(spark, sf_dir, ("documents",))["documents"], spark)
    return d.select(F.col("doc_id").cast("long").alias("doc_id"),
                    lang_id(F.col("text")).alias("lang_pred"))


def _set_lang_oracle() -> None:
    from .functions.text import LANG_MARKERS
    from .registry import _REGISTRY
    scores = "\n  UNION ALL\n  ".join(
        _lang_score_sql(lang, m) for lang, m in sorted(LANG_MARKERS.items()))
    # Spark's array_max over struct(score, lang) breaks score ties by
    # max lang name: mirror with ORDER BY score DESC, lang DESC.
    _REGISTRY["q_lang_id"].oracle = f"""
    WITH scores AS (
      {scores}
    ), best AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM scores
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
    FROM best WHERE rn = 1
    """


_set_lang_oracle()


# ---------------------------------------------------------------------------
# quality features + token counting
# ---------------------------------------------------------------------------

_STOP_SQL = "'the','a','an','of','and','or','is','are','to','in'"

@register(
    "q_quality_score",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(trim(regexp_replace(text,'\\s+',' ','g')),' ')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
             CAST(len(list_filter(string_split({_NORM.format(col='text')}, ' '),
                                  t -> t IN ({_STOP_SQL}))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars, n_tokens,
           CASE WHEN n_tokens > 0
                THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                ELSE 0.0 END AS avg_token_len,
           CASE WHEN n_chars > 0
                THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_tokens > 0
                THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                ELSE 0.0 END AS stopword_ratio
    FROM f
    """,
    survey_ref="training-data text analysis: quality scoring",
    doc="length/punct/stopword features as native column exprs",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import quality_features
    d = fan_out(load_tables(spark, sf_dir, ("documents",))["documents"], spark)
    feats = quality_features(F.col("text"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


@register(
    "q_token_stats",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(string_split(trim(regexp_replace(text,'\\s+',' ','g')),' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
    survey_ref="training-data text analysis: token counting (ws + BPE-ish regex)",
    doc="whitespace and subword-proxy token counts",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import token_count_bpe, token_count_ws
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count_ws(F.col("text")).cast("long").alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling: the dataset-mixing primitive
# ---------------------------------------------------------------------------

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.02
_MIX_SALT = "mix-v1:"

_mix_case = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {int(r * 10000)}"
    for s, r in sorted(_MIX_RATES.items())) \
    + f" ELSE {int(_MIX_DEFAULT * 10000)} END"

_SAMPLE_ORACLE = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents
WHERE CAST(('0x' || substr(md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 10000 < {_mix_case}
"""


@register(
    "q_stratified_sample",
    oracle=_SAMPLE_ORACLE,
    survey_ref="training-data pipeline: deterministic hash-bucket "
               "dataset mixing (per-source keep rates, reproducible "
               "across engines/retries — Spark sample() is not)",
    doc="stratified sample via md5 bucket < per-stratum rate; pure "
        "scan-stage filter, no shuffle/UDF/RNG",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_sample

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return stratified_sample(
        d, strata="source", key="doc_id", rates=_MIX_RATES,
        default_rate=_MIX_DEFAULT, salt=_MIX_SALT,
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "source")


# ---------------------------------------------------------------------------
# similarity search: brute-force exact top-k
# ---------------------------------------------------------------------------

_COS_SQL = ("list_sum(list_transform(list_zip({a}, {b}), x -> x[1]*x[2])) "
            "/ (sqrt(list_sum(list_transform({a}, x -> x*x))) "
            "* sqrt(list_sum(list_transform({b}, x -> x*x))))")

@register(
    "q_ann_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_COS_SQL.format(a='q.emb', b='e.emb')} AS cos
      FROM q JOIN e ON q.vec_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    survey_ref="training-data similarity search: brute-force cosine top-k",
    doc="exact kNN baseline: broadcast queries, scan items once",
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(q, e, k=5) \
        .select("query_id", "neighbor_id", "cos", "rank")


# ---------------------------------------------------------------------------
# similarity search: LSH-bucketed variant (the scale path)
# ---------------------------------------------------------------------------

_DIMS, _PLANES = 64, 8
_plane_lits = [
    "[" + ", ".join(repr(math.sin(p * _DIMS + d)) for d in range(_DIMS)) + "]"
    for p in range(_PLANES)
]
_bucket_sql = " + ".join(
    f"CASE WHEN {_COS_SQL.format(a='emb', b=_plane_lits[p]).split('/')[0].strip()} > 0 "
    f"THEN {1 << p} ELSE 0 END"
    for p in range(_PLANES)
)
# note: bucket uses the raw dot product (numerator only), not cosine
_dot_sql = "list_sum(list_transform(list_zip(emb, {plane}), x -> x[1]*x[2]))"
_bucket_sql = " + ".join(
    f"CASE WHEN {_dot_sql.format(plane=_plane_lits[p])} > 0 THEN {1 << p} ELSE 0 END"
    for p in range(_PLANES)
)

@register(
    "q_ann_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, emb, {_bucket_sql} AS bucket FROM e
    ), scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_COS_SQL.format(a='a.emb', b='b.emb')} AS cos
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    survey_ref="training-data similarity search: LSH-bucketed ANN",
    doc="random-hyperplane sign buckets -> equi-join -> per-bucket top-k",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], spark)
    return similarity.lsh_topk(e, dims=_DIMS, n_planes=_PLANES, k=5,
                               max_bucket_size=None) \
        .select("query_id", "neighbor_id", "cos", "rank")


# ---------------------------------------------------------------------------
# embedding near-duplicate pairs
# ---------------------------------------------------------------------------

@register(
    "q_embed_neardup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, label, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 3 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS_SQL.format(a='a.emb', b='b.emb')} AS cos
    FROM base a JOIN base b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a='a.emb', b='b.emb')} >= 0.95
    """,
    survey_ref="training-data dedup: embedding-cosine near-dup",
    doc="label-blocked pair scan, cosine >= 0.95 (clones injected)",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], spark)
    aug = e.unionByName(
        e.filter(F.col("vec_id") % 3 == 0)
         .withColumn("vec_id", F.col("vec_id") + 10000))
    return similarity.embedding_neardup_pairs(
        aug, block_col="label", threshold=0.95)


@register(
    "q_multimodal_decode",
    oracle="""
    WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
    dims AS (SELECT did, 4 + did % 5 AS w, 3 + did % 4 AS h FROM ids),
    px AS (
      -- DuckDB generate_series takes no lateral column args; w<=8 and
      -- h<=6 are bounded by construction, so a fixed grid + filter is
      -- equivalent
      SELECT did, w, h, yy.y AS y, xx.x AS x
      FROM dims
      CROSS JOIN generate_series(0, 5) AS yy(y)
      CROSS JOIN generate_series(0, 7) AS xx(x)
      WHERE yy.y < h AND xx.x < w
    ),
    sums AS (
      SELECT did, w, h,
             sum((did * 1 + 7 * y + 11 * x) % 256) AS s_r,
             sum((did * 2 + 7 * y + 11 * x) % 256) AS s_g,
             sum((did * 3 + 7 * y + 11 * x) % 256) AS s_b
      FROM px GROUP BY did, w, h
    )
    SELECT did AS doc_id, 'ppm' AS format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(s_r * 1000000 // (w * h) AS BIGINT) AS mean_r_ppm,
           CAST(s_g * 1000000 // (w * h) AS BIGINT) AS mean_g_ppm,
           CAST(s_b * 1000000 // (w * h) AS BIGINT) AS mean_b_ppm
    FROM sums
    """,
    survey_ref="training-data multimodal: REAL pixel decode in-container — "
               "pure-Python netpbm kernel (P2/P3/P5/P6) closes the one "
               "NotImplementedError branch; Pillow stays the path for "
               "compressed formats",
    doc="deterministic P6 payloads generated per doc_id -> binary encode "
        "-> pure-Python decode -> integer-ppm channel means; DuckDB "
        "recomputes the means from the closed-form pixel formula alone, "
        "so the whole encode/decode round-trip is hash-gated",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (generate_ppm_payloads,
                                       image_channel_stats)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    payloads = generate_ppm_payloads(
        d.select(F.col("doc_id").cast("long").alias("doc_id")))
    return image_channel_stats(payloads)


@register(
    "q_ann_ivf",
    oracle=None,  # approximate by design; recall vs the exact path is
                  # asserted in tests (rows-only driver check)
    survey_ref="training-data similarity search: IVF inverted-list ANN (scale path)",
    doc="deterministic centroids -> nprobe inverted lists -> per-list kNN",
    rotate=False,  # evidence: q_ann_ivf_recall (hash-gated)
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], spark)
    return similarity.ivf_topk(e, n_centroids=16, nprobe=3, k=5) \
        .select("query_id", "neighbor_id", "cos", "rank")


@register(
    "q_ann_pq",
    oracle=None,  # quantized by design; recall + numpy-reference parity
                  # are asserted in tests (rows-only driver check)
    survey_ref="training-data similarity search: product-quantization ADC "
               "(the compressed-index scale path; Jegou et al. 2011)",
    doc="per-subspace k-means codebooks -> m-byte codes -> LUT-join ADC "
        "scan; corpus scanned as codes, never raw vectors",
    rotate=False,  # evidence: q_ann_pq_recall (hash-gated)
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"], spark)
    return similarity.pq_topk(e, m=8, n_codes=16, k=5, train_iters=2,
                              max_queries=50) \
        .select("query_id", "neighbor_id",
                F.round("adc", 6).alias("adc"), "rank")


@register(
    "q_multimodal_retrieval",
    oracle=None,  # feature kernel is a seeded-noise fake + float
                  # cosine: rows-only driver check; determinism and
                  # top-k shape are pinned in unit tests
    survey_ref="training-data multimodal: binary -> feature vector -> ANN retrieval",
    doc="payload -> stubbed feature extraction -> cosine top-k over the "
        "extracted vectors (full multimodal-retrieval composition)",
    rotate=False,  # evidence: q_multimodal_recall (hash-gated)
)
def q_multimodal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_image_features

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    payloads = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.encode(F.col("text"), "UTF-8").alias("payload"))
    feats = extract_image_features(payloads, dim=16).localCheckpoint()
    q = feats.filter(F.col("doc_id") < 5) \
        .withColumnRenamed("doc_id", "vec_id")
    items = feats.withColumnRenamed("doc_id", "vec_id")
    return similarity.cosine_topk(q, items, k=5) \
        .select("query_id", "neighbor_id", "cos", "rank")


# ---------------------------------------------------------------------------
# composed corpus-curation pipeline: lang-ID + quality filter + dedup
# ---------------------------------------------------------------------------

# boilerplate-prefix key width (crawl corpora duplicate on shared
# openings — cookie banners, templates — that full-document hashing
# misses); the standalone q_prefix_dedup gate was consolidated into
# q_corpus_curation r10: the md5-of-first-N-tokens key and its >1-size
# group test stay oracle-gated through the n_prefix_dup column
_PREFIX_TOKENS = 20


@register(
    "q_corpus_curation",
    oracle=None,  # set below (reuses the generated lang-score CTEs)
    survey_ref="training-data pipeline composition: lang-ID -> quality "
               "filter -> exact dedup -> boilerplate-prefix duplicate "
               "groups -> per-language corpus stats",
    doc="one pass over documents: language ID, quality gating "
        "(tokens>=5, punct<20%), 48-bit fingerprint dedup, prefix-key "
        "dup groups (md5 of first 20 normalized tokens, group size "
        "computed over the WHOLE corpus before quality gating), "
        "per-lang rollup",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the prefix key is a fixed-width md5 computed in
    the scan (slice + concat, no explode), so its group-size window
    shuffles 16 bytes per doc regardless of document length; lang/
    quality/fingerprint are scan-local expressions and the final
    rollup is one map-side-combinable aggregate."""
    from pyspark.sql.window import Window as W

    from .functions.text import fingerprint64, lang_id, quality_features

    d = fan_out(load_tables(spark, sf_dir, ("documents",))["documents"], spark)
    feats = quality_features(F.col("text"))
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    scored = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id(F.col("text")).alias("lang_pred"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        fingerprint64(F.col("text")).alias("fp64"),
        F.md5(F.concat_ws(" ", F.slice(F.split(norm, " "), 1,
                                       _PREFIX_TOKENS))).alias("prefix_key"),
    ).withColumn("__grp_n",
                 F.count(F.lit(1)).over(W.partitionBy("prefix_key")))
    kept = scored.filter((F.col("n_tokens") >= 5) & (F.col("punct_ratio") < 0.2))
    return (
        kept.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.countDistinct("fp64").alias("n_unique"),
             F.sum("n_tokens").alias("total_tokens"),
             F.sum(F.when(F.col("__grp_n") > 1, 1).otherwise(0))
              .cast("long").alias("n_prefix_dup"))
    )


def _set_curation_oracle() -> None:
    from .functions.text import LANG_MARKERS
    from .registry import _REGISTRY
    scores = "\n  UNION ALL\n  ".join(
        _lang_score_sql(lang, m) for lang, m in sorted(LANG_MARKERS.items()))
    _REGISTRY["q_corpus_curation"].oracle = f"""
    WITH scores AS (
      {scores}
    ), best AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM scores
    ), lang AS (
      SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
      FROM best WHERE rn = 1
    ), q AS (
      SELECT doc_id,
             CAST(len(string_split(trim(regexp_replace(text,'\\s+',' ','g')),' ')) AS BIGINT) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct_ratio,
             CAST(('0x' || substr(md5({_NORM.format(col='text')}), 1, 12)) AS BIGINT) AS fp64,
             count(*) OVER (PARTITION BY md5(array_to_string(
                 string_split({_NORM.format(col='text')}, ' ')[1:{_PREFIX_TOKENS}],
                 ' '))) AS grp_n
      FROM documents
    )
    SELECT l.lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT q.fp64) AS BIGINT) AS n_unique,
           CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN q.grp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_prefix_dup
    FROM lang l JOIN q USING (doc_id)
    WHERE q.n_tokens >= 5 AND q.punct_ratio < 0.2
    GROUP BY 1
    """


_set_curation_oracle()


# ---------------------------------------------------------------------------
# SimHash banded near-dup pairs (the pair-generation scale path on
# top of the fingerprints)
# ---------------------------------------------------------------------------

_SIMPAIR_ORACLE = f"""
WITH {_CORPUS_SQL},
toks AS (
  SELECT doc_id, UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS t
  FROM corpus
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, {_SIM_BITS // 4})) AS BIGINT) AS h FROM toks
),
votes AS (
  SELECT doc_id, {_sim_votes} FROM h GROUP BY doc_id
),
sim AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_sim_fp} AS simhash FROM votes
),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS bv
  FROM sim, UNNEST(generate_series(0, 3)) AS g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@register(
    "q_simhash_pairs",
    oracle=_SIMPAIR_ORACLE,
    survey_ref="training-data dedup: SimHash banded near-dup pairs "
               "(pigeonhole banding, hamming verify)",
    doc="band equi-join candidates -> bit_count(xor) hamming filter; "
        "never all-pairs",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_neardup_pairs
    c = _corpus(spark, sf_dir)
    return simhash_neardup_pairs(c, "doc_id", "text", bits=_SIM_BITS,
                                 bands=4, max_hamming=3,
                                 max_bucket_size=None) \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"), "hamming")


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

def _build_repetition_oracle() -> str:
    """The full Rae et al. (Gopher) repetition-filter oracle. Counts
    only — every fraction is integer ppm with floor division so the
    hash is engine-exact. Definitions (documented, shared verbatim by
    the Spark side):
    - lines/paragraphs: the corpus is single-line, so line structure
      is DERIVED as fixed-width token chunks (8 tokens per line, 24
      per paragraph) — the duplicate-fraction algebra is what is
      gated; dup counts all occurrences BEYOND the first of each
      group (c-1 elements, (c-1)*len chars);
    - top n-gram (n=2,3,4): chars of the most frequent n-gram
      (count x its char length) over the normalized text's chars;
      ties break to the lexicographically smallest n-gram;
    - dup n-gram (n=5..10): chars of every occurrence beyond the
      first of each repeated n-gram over total chars (occurrence
      spans, not a positional union — deviation from the paper noted,
      deterministic on both engines; overlapping spans double-count,
      so this is a duplication MASS that can exceed 1e6 ppm on
      repetition-heavy docs, monotone in the paper's fraction)."""
    norm = _NORM.format(col='text')
    parts = [f"""
WITH rep_corpus AS (
  -- every 4th doc also appears as a clone with its first-24-token
  -- prefix repeated twice up front: guaranteed duplicate lines (8-tok
  -- chunks), paragraphs (24-tok chunks) and 5..10-grams, so the dup
  -- fractions are gated with real non-zero signal (the raw synthetic
  -- corpus has none)
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(tt[1:24], ' ') || ' ' ||
         array_to_string(tt[1:24], ' ') || ' ' || text AS text
  FROM (SELECT doc_id, text, string_split({norm}, ' ') AS tt
        FROM documents)
  WHERE doc_id % 4 = 0
),
toks AS (
  SELECT doc_id, string_split({norm}, ' ') AS t,
         CAST(length({norm}) AS BIGINT) AS total_chars
  FROM rep_corpus
),
big AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
counts AS (
  SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c, CAST(sum(c) AS BIGINT) AS n_bg
  FROM counts GROUP BY 1
),
tok_stats AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
  FROM toks
)"""]
    # derived lines (8-token chunks) and paragraphs (24-token chunks)
    for tag, w in (("line", 8), ("para", 24)):
        parts.append(f""",
{tag}s AS (
  SELECT doc_id, array_to_string(t[(j-1)*{w}+1:j*{w}], ' ') AS e
  FROM toks, UNNEST(generate_series(1, len(t))) AS gs(j)
  WHERE (j-1)*{w} < len(t)
),
{tag}_stats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c - 1) AS BIGINT) AS dups,
         CAST(sum(c * L) AS BIGINT) AS chars,
         CAST(sum((c - 1) * L) AS BIGINT) AS dupchars
  FROM (SELECT doc_id, e, count(*) AS c, length(e) AS L
        FROM {tag}s GROUP BY 1, 2)
  GROUP BY 1
)""")
    for n in range(2, 11):
        parts.append(f""",
gc{n} AS (
  SELECT doc_id, g, count(*) AS c, length(g) AS L
  FROM (SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(t))) AS gs(i)
        WHERE i + {n - 1} <= len(t))
  GROUP BY 1, 2
)""")
    for n in (2, 3, 4):
        parts.append(f""",
top{n} AS (
  SELECT doc_id, CAST(c AS BIGINT) AS c, CAST(L AS BIGINT) AS L FROM (
    SELECT doc_id, c, L, row_number() OVER (
      PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
    FROM gc{n}) WHERE rn = 1
)""")
    for n in range(5, 11):
        parts.append(f""",
dup{n} AS (
  SELECT doc_id, CAST(sum((c - 1) * L) AS BIGINT) AS dc
  FROM gc{n} WHERE c > 1 GROUP BY 1
)""")
    frac = []
    for tag in ("line", "para"):
        frac.append(
            f"CASE WHEN coalesce({tag}_stats.n, 0) > 0 THEN "
            f"coalesce({tag}_stats.dups, 0) * 1000000 // {tag}_stats.n "
            f"ELSE 0 END AS dup_{tag}_ppm")
        frac.append(
            f"CASE WHEN coalesce({tag}_stats.chars, 0) > 0 THEN "
            f"coalesce({tag}_stats.dupchars, 0) * 1000000 // "
            f"{tag}_stats.chars ELSE 0 END AS dup_{tag}_char_ppm")
    for n in (2, 3, 4):
        frac.append(
            f"CASE WHEN s.total_chars > 0 THEN "
            f"coalesce(top{n}.c * top{n}.L, 0) * 1000000 // s.total_chars "
            f"ELSE 0 END AS top_{n}gram_char_ppm")
    for n in range(5, 11):
        frac.append(
            f"CASE WHEN s.total_chars > 0 THEN "
            f"coalesce(dup{n}.dc, 0) * 1000000 // s.total_chars "
            f"ELSE 0 END AS dup_{n}gram_char_ppm")
    joins = ["line_stats", "para_stats"] + \
        [f"top{n}" for n in (2, 3, 4)] + [f"dup{n}" for n in range(5, 11)]
    frac_sql = ",\n       ".join(frac)
    join_sql = "\n".join(f"LEFT JOIN {j} USING (doc_id)" for j in joins)
    parts.append(f"""
SELECT CAST(ts.doc_id AS BIGINT) AS doc_id,
       ts.n_tokens,
       CASE WHEN ts.n_tokens > 0
            THEN CAST(ts.n_distinct AS DOUBLE) / CAST(ts.n_tokens AS DOUBLE)
            ELSE 0.0 END AS distinct_token_frac,
       CASE WHEN p.n_bg > 0
            THEN CAST(p.top_c AS DOUBLE) / CAST(p.n_bg AS DOUBLE)
            ELSE 0.0 END AS top_bigram_frac,
       {frac_sql}
FROM tok_stats ts
JOIN toks s USING (doc_id)
LEFT JOIN per_doc p USING (doc_id)
{join_sql}
""")
    return "".join(parts)


_REPETITION_ORACLE = _build_repetition_oracle()


@register(
    "q_doc_repetition",
    oracle=_REPETITION_ORACLE,
    survey_ref="training-data text analysis: the FULL Rae et al. "
               "(Gopher) repetition-filter suite — distinct-token and "
               "top-bigram fractions plus dup-line/dup-paragraph "
               "element+char fractions, top-2/3/4-gram char fractions, "
               "and dup-5..10-gram char fractions, every fraction "
               "integer ppm",
    doc="all array-domain: every signal is a sorted-array run-length "
        "fold over per-row token/chunk/n-gram arrays — ZERO shuffles, "
        "one narrow scan-stage plan (the r5 explode+double-groupBy "
        "form shuffled twice for ONE of these signals); repetition "
        "clones (first-24-token prefix doubled, every 4th doc) give "
        "the dup fractions real non-zero signal on the synthetic "
        "corpus",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, ("documents",))["documents"] \
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")

    def norm_of(col):
        return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))

    pref = F.array_join(F.slice(F.split(norm_of(F.col("text")), " "),
                                1, 24), " ")
    aug = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat_ws(" ", pref, pref, F.col("text")).alias("text"))
    # fan_out before the array algebra: the fixture parquet is one
    # row group -> a 1-task scan would run every fold below serially
    # (measured 7.8 s wall / 2.4 busy cores at sf0.1 without it)
    corpus = fan_out(d.unionByName(aug), d.sparkSession)
    norm = norm_of(F.col("text"))
    toks = corpus.select(
        "doc_id", F.split(norm, " ").alias("t"),
        F.length(norm).cast("long").alias("total_chars"))

    empty = F.array().cast("array<string>")

    def ngrams(tcol, n):
        # guarded so size<n yields [] (F.sequence(0, <0) would
        # otherwise generate a DESCENDING sequence)
        return F.when(
            F.size(tcol) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(tcol) - n),
                lambda i: F.concat_ws(" ", *[
                    F.element_at(tcol, i + k + 1) for k in range(n)]),
            )).otherwise(empty)

    def chunks(tcol, w):
        # fixed-width token chunks: the corpus is single-line, so the
        # dup-line/paragraph algebra runs over DERIVED lines (8 tok)
        # and paragraphs (24 tok) — same definition in the oracle
        n_chunks = F.ceil(F.size(tcol) / F.lit(w)).cast("int")
        return F.when(
            F.size(tcol) > 0,
            F.transform(F.sequence(F.lit(0), n_chunks - 1),
                        lambda j: F.array_join(
                            F.slice(tcol, j * w + 1, w), " "))
        ).otherwise(empty)

    def dup_fold(arr):
        """(dups, dupchars) over the sorted array: every occurrence
        beyond the first of each repeated element counts — (c-1)
        elements, (c-1)*len chars per group, like the oracle."""
        init = F.struct(F.lit(None).cast("string").alias("prev"),
                        F.lit(0).cast("long").alias("d"),
                        F.lit(0).cast("long").alias("dc"))

        def step(acc, x):
            isdup = acc["prev"].isNotNull() & (x == acc["prev"])
            return F.struct(
                x.alias("prev"),
                (acc["d"] + F.when(isdup, 1).otherwise(0))
                .cast("long").alias("d"),
                (acc["dc"] + F.when(isdup, F.length(x).cast("long"))
                 .otherwise(0)).cast("long").alias("dc"))

        return F.aggregate(F.sort_array(arr), init, step)

    def top_fold(arr):
        """(best run, its char length) over the sorted array; a
        STRICTLY greater run replaces, so ties keep the first-met =
        lexicographically smallest n-gram (oracle: ORDER BY c DESC,
        g ASC)."""
        init = F.struct(F.lit(None).cast("string").alias("prev"),
                        F.lit(0).cast("long").alias("run"),
                        F.lit(0).cast("long").alias("best"),
                        F.lit(0).cast("long").alias("blen"))

        def step(acc, x):
            run = F.when(acc["prev"].isNotNull() & (x == acc["prev"]),
                         acc["run"] + 1).otherwise(F.lit(1)).cast("long")
            better = run > acc["best"]
            return F.struct(
                x.alias("prev"), run.alias("run"),
                F.when(better, run).otherwise(acc["best"])
                .cast("long").alias("best"),
                F.when(better, F.length(x).cast("long"))
                .otherwise(acc["blen"]).cast("long").alias("blen"))

        return F.aggregate(F.sort_array(arr), init, step)

    def chars_of(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x).cast("long"))

    # stage 1: materialize each array once per row
    arrs = toks.select(
        "doc_id", "t", "total_chars",
        chunks(F.col("t"), 8).alias("lines"),
        chunks(F.col("t"), 24).alias("paras"),
        *[ngrams(F.col("t"), n).alias(f"ng{n}") for n in range(2, 11)])
    # stage 2a: each sort+fold exactly ONCE per array, as a struct
    # column. The original extracted fields from per-field copies of
    # the fold expression (dup_fold twice per tag, top_fold twice per
    # n), and higher-order folds are interpreted with no common-
    # subexpression elimination — every extra reference re-sorted and
    # re-folded the array. CollapseProject keeps the split because
    # the struct columns are non-cheap and referenced twice.
    folds = arrs.select(
        "doc_id", "total_chars", "t", "lines", "paras", "ng2",
        *[dup_fold(F.col(tag)).alias(f"__df_{tag}")
          for tag in ("lines", "paras")],
        *[top_fold(F.col(f"ng{n}")).alias(f"__tf_{n}")
          for n in (2, 3, 4)],
        *[dup_fold(F.col(f"ng{n}")).alias(f"__df_{n}")
          for n in range(5, 11)])
    # stage 2b: extract raw integer counts from the one-shot folds
    stats = folds.select(
        "doc_id", "total_chars",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        F.col("__tf_2")["best"].alias("top_c"),
        F.size("ng2").cast("long").alias("n_bg"),
        *[x for tag in ("lines", "paras") for x in (
            F.size(tag).cast("long").alias(f"n_{tag}"),
            chars_of(F.col(tag)).alias(f"chars_{tag}"),
            F.col(f"__df_{tag}")["d"].alias(f"dups_{tag}"),
            F.col(f"__df_{tag}")["dc"].alias(f"dupchars_{tag}"))],
        *[x for n in (2, 3, 4) for x in (
            F.col(f"__tf_{n}")["best"].alias(f"top{n}_c"),
            F.col(f"__tf_{n}")["blen"].alias(f"top{n}_len"))],
        *[F.col(f"__df_{n}")["dc"].alias(f"dup{n}_dc")
          for n in range(5, 11)])
    # stage 3: fractions — doubles for the two legacy columns (exact
    # single IEEE division), integer ppm floor-division for the rest
    ppm = [
        *[F.when(F.col(f"n_{tag}") > 0,
                 F.expr(f"dups_{tag} * 1000000L div n_{tag}"))
          .otherwise(0).cast("long").alias(f"dup_{name}_ppm")
          for tag, name in (("lines", "line"), ("paras", "para"))],
        *[F.when(F.col(f"chars_{tag}") > 0,
                 F.expr(f"dupchars_{tag} * 1000000L div chars_{tag}"))
          .otherwise(0).cast("long").alias(f"dup_{name}_char_ppm")
          for tag, name in (("lines", "line"), ("paras", "para"))],
        *[F.when(F.col("total_chars") > 0,
                 F.expr(f"top{n}_c * top{n}_len * 1000000L "
                        f"div total_chars"))
          .otherwise(0).cast("long").alias(f"top_{n}gram_char_ppm")
          for n in (2, 3, 4)],
        *[F.when(F.col("total_chars") > 0,
                 F.expr(f"dup{n}_dc * 1000000L div total_chars"))
          .otherwise(0).cast("long").alias(f"dup_{n}gram_char_ppm")
          for n in range(5, 11)],
    ]
    return stats.select(
        "doc_id", "n_tokens",
        F.when(F.col("n_tokens") > 0,
               F.col("n_distinct").cast("double") / F.col("n_tokens"))
         .otherwise(F.lit(0.0)).alias("distinct_token_frac"),
        F.when(F.col("n_bg") > 0,
               F.col("top_c").cast("double") / F.col("n_bg"))
         .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        *ppm)


@register(
    "q_doc_percentiles",
    oracle=r"""
    SELECT source,
      ROUND(quantile_cont(length(text), 0.5), 4) AS len_p50,
      ROUND(quantile_cont(length(text), 0.9), 4) AS len_p90,
      ROUND(quantile_cont(length(text), 0.99), 4) AS len_p99,
      ROUND(quantile_cont(len(string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')), 0.5), 4) AS tok_p50,
      CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    """,
    survey_ref="corpus distribution stats (training-data pipeline; the "
               "percentile family the reference lacks entirely — its only "
               "aggregates are count/sum/min/max, 2_aggregations.sql)",
    doc="exact interpolated percentiles of doc length / token count per "
        "source vs DuckDB quantile_cont; the approx_percentile scale "
        "path is pinned to the exact result by a unit test",
)
def q_doc_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length/token distribution per source.

    Exact ``percentile`` sorts each group's values (OK for bounded
    group counts: one sort per (source) group, all JVM-side). The
    100 TB path is ``approx_percentile`` (Greenwald-Khanna sketch):
    single scan, mergeable partials, map-side combine, bounded error
    — ``doc_percentiles_approx`` below; a unit test pins its error
    against the exact result."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.size(F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "))
    rows = d.select("source", F.length("text").alias("doc_len"),
                    toks.alias("n_tokens"))
    p = F.expr("percentile(doc_len, array(0.5, 0.9, 0.99))")
    return (rows.groupBy("source").agg(
        F.round(p[0], 4).alias("len_p50"),
        F.round(p[1], 4).alias("len_p90"),
        F.round(p[2], 4).alias("len_p99"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("tok_p50"),
        F.count(F.lit(1)).alias("n_docs"),
    ))


def doc_percentiles_approx(spark: SparkSession, sf_dir: str,
                           accuracy: int = 10000) -> DataFrame:
    """approx_percentile twin of q_doc_percentiles — the sketch-based
    single-pass form that scales to unbounded groups; used by the
    error-bound unit test."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    rows = d.select("source", F.length("text").alias("doc_len"))
    a = F.expr(f"approx_percentile(doc_len, array(0.5, 0.9, 0.99), {accuracy})")
    return rows.groupBy("source").agg(
        a[0].cast("double").alias("len_p50"),
        a[1].cast("double").alias("len_p90"),
        a[2].cast("double").alias("len_p99"),
    )


@register(
    "q_stream_doc_dedup",
    oracle=_MINHASH_ORACLE,
    survey_ref="training-data dedup x streaming: incremental MinHash index "
               "maintenance through the transactional store (the streaming "
               "form of q_minhash_lsh; exactly-once via batch txn actions)",
    doc="documents arrive in two micro-batches; each batch bands only its "
        "own docs, joins them against the persisted index, and commits "
        "bands+pairs atomically (a replayed batch is a no-op); the "
        "accumulated pair set must equal the batch-built oracle",
)
def q_stream_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import incremental_minhash_pairs
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="mhidx_"))
        c = (_corpus(spark, sf_dir)
             .withColumn("text", F.lower(F.col("text"))))
        b1 = c.filter(F.col("doc_id") % 2 == 0)
        b2 = c.filter(F.col("doc_id") % 2 == 1)
        kw = dict(num_hashes=_NUM_HASHES, bands=_BANDS, shingle_n=_SHINGLE_N)
        incremental_minhash_pairs(store, b1, "doc_id", "text", batch_id=0, **kw)
        incremental_minhash_pairs(store, b2, "doc_id", "text", batch_id=1, **kw)
        incremental_minhash_pairs(store, b1, "doc_id", "text", batch_id=0, **kw)  # replay: no-op
        return (store.read("doc_pairs"),)
    (pairs,) = _cached_pipeline("mhidx", spark, sf_dir, build)
    return pairs.select("id_a", "id_b")


@register(
    "q_doc_pack",
    oracle=r"""
    WITH rows_ AS (
      SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT source, doc_id, n_tokens, tok_offset,
           CAST(FLOOR(tok_offset / 512) AS BIGINT) AS seq_id,
           CAST(FLOOR((tok_offset + n_tokens - 1) / 512) AS BIGINT) AS seq_id_end
    FROM (
      SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      FROM rows_)
    """,
    survey_ref="training-data pipeline: sequence packing (concat-and-chunk "
               "token layout — each doc's byte span in the packed training "
               "sequences, GPT-style document concatenation)",
    doc="per-source token-offset cumsum -> 512-token sequence ids "
        "(seq_id..seq_id_end span per doc); deterministic layout plan "
        "for a packed-pretraining writer",
)
def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing layout for pretraining: concatenate documents in
    deterministic (source, doc_id) order and chunk every 512 tokens;
    emit each doc's offset and the sequence ids it spans. The cumsum
    window partitions by SOURCE (the shard key), so parallelism is
    per-shard — the scale-correct form; a single global ordering
    would serialize the window on one partition. A writer task can
    then build sequence s of shard k from exactly the docs with
    seq_id <= s <= seq_id_end, no coordination needed."""
    from pyspark.sql.window import Window as W

    budget = 512
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.size(F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "))
    rows = d.select("source", F.col("doc_id").cast("long").alias("doc_id"),
                    toks.cast("long").alias("n_tokens"))
    w = (W.partitionBy("source").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, -1))
    return (rows
            .withColumn("tok_offset",
                        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
            .select("source", "doc_id", "n_tokens", "tok_offset",
                    (F.col("tok_offset") / budget).cast("long").alias("seq_id"),
                    ((F.col("tok_offset") + F.col("n_tokens") - 1) / budget)
                    .cast("long").alias("seq_id_end")))


@register(
    "q_doc_chunk",
    oracle=r"""
    WITH rows_ AS (
      SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), n AS (
      SELECT *, CASE WHEN n_tokens <= 128 THEN 1
                     ELSE CAST(CEIL((n_tokens - 128) / 96.0) AS BIGINT) + 1
                END AS n_chunks
      FROM rows_
    )
    SELECT source, doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(i * 96 AS BIGINT) AS start_tok,
           CAST(LEAST(i * 96 + 128, n_tokens) AS BIGINT) AS end_tok,
           CAST(LEAST(i * 96 + 128, n_tokens) - i * 96 AS BIGINT) AS n_chunk_tokens
    FROM (SELECT source, doc_id, n_tokens, unnest(range(n_chunks)) AS i FROM n)
    """,
    survey_ref="training-data pipeline: context-window chunking (sliding "
               "token windows with overlap — the long-document split step "
               "that feeds fixed-context training; dual of q_doc_pack's "
               "short-document packing)",
    doc="128-token windows at stride 96 (32-token overlap) per document; "
        "sequence+posexplode, narrow plan — zero shuffles, scales as a "
        "pure map over the corpus",
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into fixed
    128-token windows at stride 96 so every chunk fits a training
    context and consecutive chunks share a 32-token overlap. The
    chunk count and spans are derived purely from per-doc token
    counts — `sequence` + `posexplode` keeps the whole plan narrow
    (no shuffle, no window), so at 100 TB it is a single map pass
    whose output is bounded by n_tokens/stride per doc. Reference
    analog: none (builder-brief pipeline op); packing counterpart is
    q_doc_pack."""
    window, stride = 128, 96
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.size(F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "))
    rows = d.select("source", F.col("doc_id").cast("long").alias("doc_id"),
                    toks.cast("long").alias("n_tokens"))
    n_chunks = (F.when(F.col("n_tokens") <= window, F.lit(1).cast("long"))
                .otherwise(F.ceil((F.col("n_tokens") - window) / F.lit(float(stride)))
                           .cast("long") + 1))
    start = F.col("chunk_id") * stride
    end = F.least(start + window, F.col("n_tokens"))
    return (rows
            .withColumn("chunk_id",
                        F.explode(F.sequence(F.lit(0).cast("long"),
                                             n_chunks - 1)))
            .select("source", "doc_id", "chunk_id",
                    start.alias("start_tok"), end.alias("end_tok"),
                    (end - start).alias("n_chunk_tokens")))


@register(
    "q_contamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, source,
             t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
      FROM (SELECT doc_id, source, t, unnest(range(len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3)
    ), train AS (
      SELECT DISTINCT gram FROM g WHERE source <> 'src0'
    ), ev AS (
      SELECT doc_id, gram FROM g WHERE source = 'src0'
    )
    SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS contamination_ppm
    FROM ev e LEFT JOIN train t USING (gram)
    GROUP BY e.doc_id
    """,
    survey_ref="training-data pipeline: benchmark-contamination detection "
               "(eval-set n-gram overlap against the training corpus — the "
               "decontamination audit step; cross-corpus, unlike the "
               "within-corpus dedup family)",
    doc="per-eval-doc fraction of word 3-grams present anywhere in the "
        "training split (src0 as the held-out benchmark); distinct train "
        "grams -> left equi-join -> integer-ppm fraction",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination audit: for each document of a held-out eval set
    (source 'src0'), the fraction of its distinct word 3-grams that
    appear anywhere in the training split (every other source) —
    the n-gram-overlap decontamination check from the GPT-3 /
    Llama training reports, run in reverse as an audit.

    Scale shape: the training corpus (the 100 TB side) reduces to
    DISTINCT gram — one hash-aggregate shuffle with map-side partial
    combine, no pair blowup possible (each eval gram matches at most
    one distinct train gram, so the join output is bounded by the
    eval side). The eval side is small by construction and
    broadcast-eligible; the fraction is integer ppm (floor), exact
    on both engines — no float rounding in the gate.
    """
    from .operators.dedup import shingle

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams = d.select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.array_distinct(shingle("text", 3))).alias("gram"))
    train = grams.filter(F.col("source") != "src0").select("gram").distinct()
    ev = grams.filter(F.col("source") == "src0").select("doc_id", "gram")
    hit = train.withColumn("__hit", F.lit(1))
    return (ev.join(hit, "gram", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.coalesce(F.sum("__hit"), F.lit(0)).cast("long")
                  .alias("n_matched"))
            .select("doc_id", "n_grams", "n_matched",
                    F.expr("n_matched * 1000000L div n_grams")
                     .alias("contamination_ppm")))


# ---------------------------------------------------------------------------
# recall oracles: hash-checkable driver rows for the approximate ANN paths
# ---------------------------------------------------------------------------
# PQ / IVF / Arrow-BLAS / multimodal retrieval cannot hash-match a SQL
# oracle on their raw output (quantized or last-ulp-float by design), so
# through round 5 they were rows-only driver entries. Recall CAN be
# hash-matched: each companion below runs the approximate search, dumps
# its (query_id, neighbor_id) set to a parquet handoff under
# spark-warehouse/aux/, and returns integer recall-ppm per query
# against the EXACT cosine top-k it computes itself; the DuckDB oracle
# reads the same handoff and measures the same recall against its own
# independently-computed exact top-k. A green hash therefore proves
# (a) Spark and DuckDB agree bit-for-bit on the exact top-k sets
# (same float cross-check q_ann_topk pins) and (b) both measured the
# identical approximate result — no float row ever enters the hash
# (recall is integer ppm with a floor division, exact in both engines).
#
# The handoff path embeds the sf-dir basename, and the oracle is
# registered as a callable(sf_dir) resolved per scale: a bench run at
# sf0.1 writes a sibling path and cannot clobber what the driver's
# sf0.01 oracle reads, while the pytest parity harness at sf0.001
# resolves its own path. The dump is re-written by the Spark half of
# the same comparison run, so oracle and query always see the same
# bytes.

_AUX_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark-warehouse", "aux")


def _aux(name: str, sf_tag: str) -> str:
    return os.path.join(_AUX_ROOT, f"{name}_{sf_tag}")


def publish_aux(df: DataFrame, path: str) -> None:
    """Atomically publish a handshake handoff dump at ``path``.

    The handoff paths are deterministic (name + sf tag) because the
    DuckDB oracle string embeds them at resolution time — but a plain
    ``mode("overwrite")`` write is delete-then-write, so a concurrent
    run at the same sf (driver + check_oracles/bench) could read a
    half-written dump and produce a spurious mismatch. Instead: write
    to a fresh versioned directory, then atomically swap a symlink at
    ``path`` onto it (``os.replace`` of a symlink is atomic on POSIX).
    Readers on either engine always glob one COMPLETE version, and
    because every dump's content is deterministic for given code +
    data, whichever complete version they see scores identically.
    The two newest versions are kept so a reader mid-scan of the
    previous version never loses files under it; older ones are
    reaped best-effort.
    """
    # repartition(1), NOT coalesce(1): coalesce collapses every parent
    # partition into ONE task, so the single writer re-runs the whole
    # upstream serially — and for a Python-origin plan (createDataFrame
    # of driver values parallelizes to defaultParallelism slices) that
    # one task pays one sequential Python-worker round-trip PER PARENT
    # partition: measured 3.7-4.4 s per 1-row model dump at local[32]
    # vs 0.5 s with repartition(1), which keeps the upstream parallel
    # and moves only the aux-dump-sized rows through one shuffle
    # (guide §2.4: accidental parallelism collapse).
    publish_aux_dir(lambda vdir: df.repartition(1).write.parquet(vdir),
                    path)


def publish_aux_dir(populate, path: str) -> None:
    """Directory-artifact variant of :func:`publish_aux`: ``populate``
    fills a fresh versioned directory (any layout — file copies, a
    whole store dump), which is then symlink-swapped into ``path``
    with the same atomicity/retention contract."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    vdir = f"{path}.v{_time.time_ns()}_{os.getpid()}"
    populate(vdir)
    if os.path.lexists(path) and not os.path.islink(path):
        _shutil.rmtree(path, ignore_errors=True)  # pre-symlink layout
    tmp = f"{path}.lnk.{os.getpid()}"
    if os.path.lexists(tmp):
        os.unlink(tmp)
    os.symlink(os.path.basename(vdir), tmp)
    os.replace(tmp, path)
    for old in sorted(_glob.glob(f"{path}.v*"))[:-2]:
        _shutil.rmtree(old, ignore_errors=True)


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _recall_vs_exact(spark: SparkSession, approx: DataFrame,
                     items: DataFrame, name: str, sf_dir: str, k: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Dump the approximate (query_id, neighbor_id) set to the oracle
    handoff, then score it against the exact cosine top-k over
    ``items``: one row (query_id, recall_ppm) per probe.

    The handoff write is an action, so any build-once artifacts the
    approximate operator persisted are fully consumed here — callers
    scope the operator + this call inside ``build_artifacts()`` and
    the returned plan reads only the handoff parquet and ``items``.
    """
    aux = _aux(name, _sf_tag(sf_dir))
    publish_aux(
        approx.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id")),
        aux)
    ap = spark.read.parquet(aux)
    probes = items.join(
        ap.select(F.col("query_id").alias(id_col)).distinct(), id_col) \
        .select(id_col, vec_col)
    exact = similarity.cosine_topk(
        probes, items, query_id=id_col, item_id=id_col,
        query_vec=vec_col, item_vec=vec_col, k=k) \
        .select(F.col("query_id").cast("long").alias("query_id"),
                F.col("neighbor_id").cast("long").alias("neighbor_id"))
    hits = (ap.join(exact, ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("__m")))
    return (ap.select("query_id").distinct()
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.expr(f"coalesce(__m, 0L) * 1000000L div {k}L")
                     .alias("recall_ppm")))


def _recall_oracle(aux_name: str, k: int, emb_cte: str,
                   sf_dir: str) -> str:
    """DuckDB half of the recall handshake: read the handoff, rebuild
    the exact top-k from ``emb_cte`` (rows (vec_id, emb double[])),
    emit the identical integer recall-ppm rows. The handoff path is
    sf-tagged, so the oracle is registered as a callable(sf_dir) and
    resolved per scale — the driver contract sees the static sf0.01
    string via registry.DRIVER_SF_DIR."""
    aux = _aux(aux_name, _sf_tag(sf_dir))
    return f"""
    WITH e AS ({emb_cte}
    ), ap AS (
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(neighbor_id AS BIGINT) AS neighbor_id
      FROM read_parquet('{aux}/*.parquet')
    ), q AS (
      SELECT e.* FROM e JOIN (SELECT DISTINCT query_id FROM ap) p
        ON e.vec_id = p.query_id
    ), scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_COS_SQL.format(a='q.emb', b='e.emb')} AS cos
      FROM q JOIN e ON q.vec_id <> e.vec_id
    ), exact AS (
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(neighbor_id AS BIGINT) AS neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS r
            FROM scored) WHERE r <= {k}
    ), hit AS (
      SELECT ap.query_id AS query_id, count(*) AS c
      FROM ap JOIN exact
        ON ap.query_id = exact.query_id
       AND ap.neighbor_id = exact.neighbor_id
      GROUP BY ap.query_id
    )
    SELECT query_id,
           CAST(COALESCE(hit.c, 0) * 1000000 // {k} AS BIGINT) AS recall_ppm
    FROM (SELECT DISTINCT query_id FROM ap) probes
    LEFT JOIN hit USING (query_id)
    """


_EMB_CTE = ("SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
            " AS emb FROM embeddings")


@register(
    "q_ann_pq_recall",
    oracle=lambda sf: _recall_oracle("q_ann_pq_recall", 5, _EMB_CTE, sf),
    survey_ref="training-data similarity: hash-gated recall oracle for the "
               "PQ-ADC path (upgrades q_ann_pq's rows-only driver check)",
    doc="pq_topk -> parquet handoff -> integer recall-ppm vs exact top-k, "
        "measured independently by Spark and DuckDB",
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cache import build_artifacts
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    with build_artifacts():
        approx = similarity.pq_topk(fan_out(e, spark), m=8, n_codes=16,
                                    k=5, train_iters=2, max_queries=50)
        return _recall_vs_exact(spark, approx, e, "q_ann_pq_recall",
                                sf_dir, k=5)


@register(
    "q_ann_ivf_recall",
    oracle=lambda sf: _recall_oracle("q_ann_ivf_recall", 5, _EMB_CTE, sf),
    survey_ref="training-data similarity: hash-gated recall oracle for the "
               "IVF path (upgrades q_ann_ivf's rows-only driver check)",
    doc="ivf_topk -> parquet handoff -> integer recall-ppm vs exact top-k",
)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cache import build_artifacts
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    with build_artifacts():
        approx = similarity.ivf_topk(fan_out(e, spark), n_centroids=16,
                                     nprobe=3, k=5)
        # recall is measured on a bounded probe subset: the IVF search
        # itself still covers every vector, but the exact-baseline side
        # is O(probes x corpus) interpreted array math — unbounded it
        # cost 25s at sf0.1 for a number 200 probes estimate just as well
        approx = approx.filter(F.col("query_id") < 200)
        return _recall_vs_exact(spark, approx, e, "q_ann_ivf_recall",
                                sf_dir, k=5)


def _feats_cte(sf_dir: str) -> str:
    return ("SELECT doc_id AS vec_id, embedding AS emb FROM read_parquet('"
            + _aux("q_multimodal_feats", _sf_tag(sf_dir)) + "/*.parquet')")


@register(
    "q_multimodal_recall",
    oracle=lambda sf: _recall_oracle("q_multimodal_recall", 5,
                                     _feats_cte(sf), sf),
    survey_ref="training-data multimodal: hash-gated recall oracle for the "
               "feature-extraction -> retrieval composition (upgrades "
               "q_multimodal_retrieval's rows-only driver check)",
    doc="extracted feature vectors AND the retrieval top-k are both dumped "
        "to parquet handoffs; DuckDB recomputes the exact top-k from the "
        "dumped vectors and must measure the identical recall-ppm",
)
def q_multimodal_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_image_features

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    payloads = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.encode(F.col("text"), "UTF-8").alias("payload"))
    feats_aux = _aux("q_multimodal_feats", _sf_tag(sf_dir))
    publish_aux(extract_image_features(payloads, dim=16), feats_aux)
    # read the dump back so Spark's exact top-k scores the byte-identical
    # stored vectors DuckDB will read (array<double> roundtrips exactly)
    feats = spark.read.parquet(feats_aux) \
        .withColumnRenamed("doc_id", "vec_id")
    q = feats.filter(F.col("vec_id") < 5)
    approx = similarity.cosine_topk(q, feats, k=5)
    return _recall_vs_exact(spark, approx, feats, "q_multimodal_recall",
                            sf_dir, k=5)


# ---------------------------------------------------------------------------
# dedup APPLY: collapse near-dup clusters to one representative doc
# ---------------------------------------------------------------------------

_DEDUP_APPLY_ORACLE = f"""
WITH RECURSIVE {_CORPUS_SQL},
toks AS (
  SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t FROM corpus
),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - {_SHINGLE_N - 1})) AS g(i)
),
mh AS (
  SELECT doc_id, {_minhash_cols}
  FROM sh GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_band_exprs} FROM mh
),
banded AS (
{_band_union}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (
  SELECT id, min(lab) AS component FROM reach GROUP BY id
),
mem AS (
  SELECT comp.id AS doc_id, comp.component, length(c.text) AS n_chars
  FROM comp JOIN corpus c ON c.doc_id = comp.id
),
rep AS (
  SELECT component, doc_id AS rep_id FROM (
    SELECT component, doc_id,
           row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, doc_id ASC) AS r
    FROM mem) WHERE r = 1
),
gs AS (SELECT component, count(*) AS group_size FROM mem GROUP BY component)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id, c.source,
       CAST(length(c.text) AS BIGINT) AS n_chars,
       CAST(coalesce(gs.group_size, 1) AS BIGINT) AS group_size,
       CAST(CASE WHEN comp.id IS NULL OR c.doc_id = comp.component
                 THEN 1 ELSE 0 END AS INT) AS kept_minid,
       CAST(CASE WHEN comp.id IS NULL OR c.doc_id = rep.rep_id
                 THEN 1 ELSE 0 END AS INT) AS kept_quality
FROM corpus c
LEFT JOIN comp ON comp.id = c.doc_id
LEFT JOIN rep ON rep.component = comp.component
LEFT JOIN gs ON gs.component = comp.component
WHERE comp.id IS NULL OR c.doc_id = comp.component OR c.doc_id = rep.rep_id
"""


@register(
    "q_dedup_apply",
    oracle=_DEDUP_APPLY_ORACLE,
    survey_ref="training-data dedup: cluster-collapse removal — the step "
               "that actually shrinks the corpus (pairs -> components -> "
               "keep one representative, drop the rest). Pins BOTH "
               "representative policies in one gate (consolidated r11: "
               "subsumes the former q_dedup_quality_rep): the min-id rule "
               "and the production quality rule (longest member, "
               "deterministic tie-break)",
    doc="minhash bucket stars -> connected components -> one window per "
        "component (size + quality representative) -> corpus left join "
        "keeping every doc that is a representative under EITHER "
        "policy; each survivor carries group_size plus kept_minid / "
        "kept_quality flags (singletons are 1/1), so both survivor "
        "identity sets are hash-pinned",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the dedup story q_minhash_lsh/q_dedup_cluster start:
    the output IS the deduplicated corpus, under both representative
    rules at once. Scale shape: the component graph is the bucket-star
    edge list (linear in a viral bucket, see ``bucket_star_edges``);
    components are O(docs in multi-doc buckets) rows, never the whole
    corpus; ONE window over the component members gives the group
    size and the quality representative; the corpus — the 100 TB
    side — is touched once, by a left join on doc_id filtered to the
    survivors of either policy."""
    # lower() only feeds the shingles — n_chars and the quality-rep
    # length rank must measure the RAW text, matching the oracle's
    # length(c.text) (lower() can change string length for some
    # Unicode code points, a latent cross-engine mismatch and possibly
    # a different quality representative)
    c = _corpus(spark, sf_dir)
    comp = connected_components(_star_edges(
        c.withColumn("__lt", F.lower(F.col("text"))), "__lt"))
    # parsed projections from here on (see _corpus)
    w = ("OVER (PARTITION BY component ORDER BY __len DESC, doc_id ASC "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
    members = (comp.withColumnRenamed("id", "doc_id")
               .join(c.selectExpr("doc_id", "length(text) AS __len"),
                     "doc_id")
               .selectExpr("doc_id", "component",
                           f"count(1) {w} AS group_size",
                           f"first(doc_id) {w} AS rep_id"))
    # a doc that represents its component under NEITHER policy is a
    # true duplicate and filtered out (J9)
    minid = "(component IS NULL OR doc_id = component)"
    quality = "(component IS NULL OR doc_id = rep_id)"
    return (c.join(members, "doc_id", "left")
            .filter(f"{minid} OR {quality}")
            .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "source",
                        "CAST(length(text) AS BIGINT) AS n_chars",
                        "CAST(coalesce(group_size, 1) AS BIGINT) AS group_size",
                        f"CAST(CASE WHEN {minid} THEN 1 ELSE 0 END AS INT)"
                        " AS kept_minid",
                        f"CAST(CASE WHEN {quality} THEN 1 ELSE 0 END AS INT)"
                        " AS kept_quality"))


# ---------------------------------------------------------------------------
# deterministic epoch shuffle: global reshuffle + shard assignment
# ---------------------------------------------------------------------------

_SHUF_SEED = 7
_SHUF_SHARDS = 16


@register(
    "q_doc_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ), s AS (
      SELECT doc_id, hx,
             CAST(('0x' || substr(hx, 1, 4)) AS BIGINT) % {_SHUF_SHARDS}
               AS shard
      FROM h
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY hx, doc_id) AS BIGINT) AS pos
    FROM s
    """,
    survey_ref="training-data pipeline: deterministic epoch shuffle — "
               "seeded global reshuffle + shard assignment (the data-order "
               "randomization every training run needs, reproducible from "
               "the epoch seed alone)",
    doc="md5(seed:doc_id) ordering: shard = 16-bit hash prefix mod "
        "n_shards, pos = rank within shard — engine-portable hash, no RNG "
        "state; changing the seed is a full decorrelated reshuffle",
)
def q_doc_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE hash-partition shuffle on the shard id, then a
    per-shard sort — exactly the write path of sharded training data
    (each shard sorts independently; n_shards is sized >> executor
    count in production so the window never serializes). The hash
    order also length-decorrelates batches, which q_doc_pack's
    per-shard packing then consumes."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    h = F.md5(F.concat(F.lit(f"{_SHUF_SEED}:"),
                       F.col("doc_id").cast("string")))
    s = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        h.alias("__hx"),
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
         % _SHUF_SHARDS).alias("shard"))
    from pyspark.sql.window import Window as _W
    w = _W.partitionBy("shard").orderBy("__hx", "doc_id")
    return s.select("doc_id", F.col("shard").cast("long").alias("shard"),
                    F.row_number().over(w).cast("long").alias("pos"))


# ---------------------------------------------------------------------------
# PII detection + redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "q_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text ||
                    ' contact bob@example.com or 555-123-4567 now'
                  WHEN doc_id % 7 = 3 THEN text || ' mail alice@test.org'
                  ELSE text END AS text
      FROM documents
    ), hits AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones
      FROM aug
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}',
               '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g'))
             AS redacted_digest
    FROM hits
    """,
    survey_ref="training-data scrubbing: PII detection + masking "
               "(email/phone regex families; every LLM corpus pipeline "
               "runs this before tokenization)",
    doc="synthetic PII injected on a doc_id stride, then counted "
        "(regexp_extract_all) and masked (regexp_replace) per row; the "
        "digest pins the full redacted text through the oracle without "
        "hashing megabytes of prose into the driver compare",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: zero shuffles — detection and masking are scan-
    stage projections (Java regex in codegen, no UDF), so the operator
    is embarrassingly parallel at any corpus size. The patterns here
    are the demonstration pair; a production scrub composes more
    families (SSN, IBAN, addresses) as additional fused projections at
    the same zero-shuffle cost."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    aug = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"),
                        F.lit(" contact bob@example.com or"
                              " 555-123-4567 now")))
         .when(F.col("doc_id") % 7 == 3,
               F.concat(F.col("text"), F.lit(" mail alice@test.org")))
         .otherwise(F.col("text")).alias("text"))
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>")
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0)))
         .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0)))
         .cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_digest"))


# ---------------------------------------------------------------------------
# domain mixing: resample sources toward a target distribution
# ---------------------------------------------------------------------------

@register(
    "q_domain_mix",
    oracle="""
    WITH tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents
    ), rated AS (
      SELECT d.doc_id, d.source,
             CAST(least(1000000,
                  (tot.n_total * 1000000)
                    // (tot.n_sources * cnt.n_src)) AS BIGINT) AS rate_ppm
      FROM documents d
      CROSS JOIN tot
      JOIN (SELECT source, CAST(count(*) AS BIGINT) AS n_src
            FROM documents GROUP BY source) cnt USING (source)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(rate_ppm) AS BIGINT) AS rate_ppm,
           CAST(sum(CASE WHEN
                 CAST(('0x' || substr(md5('mix:' ||
                      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000000 < rate_ppm
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated GROUP BY source
    """,
    survey_ref="training-data pipeline: domain/source mixing — computed "
               "per-source acceptance rates toward a target distribution "
               "(uniform here), applied as a deterministic hash filter "
               "(the DoReMi/data-mixture reweighting primitive)",
    doc="rate_ppm = min(1e6, total*1e6 div (n_sources*source_count)) — "
        "ALL integer arithmetic so both engines agree exactly; "
        "acceptance = md5 bucket < rate, same scheme as "
        "q_stratified_sample but with rates computed FROM the data",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two 1-row/broadcast-size aggregates (corpus total +
    per-source counts) joined back into the scan — the corpus is read
    once, the filter is a scan-stage integer compare, and the output
    aggregate is one shuffle on source. Over-represented sources get
    rate < 1e6 (downsampled toward uniform), under-represented ones
    cap at 1e6 (kept whole; upsampling is a repeat-expand the trainer
    does, not the curator)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    tot = F.broadcast(d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("source").alias("n_sources")))
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_src"))
    rated = (d.select("doc_id", "source")
             .crossJoin(tot)
             .join(F.broadcast(per_src), "source")
             .withColumn("rate_ppm", F.least(
                 F.lit(1000000).cast("long"),
                 F.expr("n_total * 1000000L div (n_sources * n_src)"))))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 1000000)
    return rated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("rate_ppm").alias("rate_ppm"),
        F.sum(F.when(bucket < F.col("rate_ppm"), 1).otherwise(0))
         .cast("long").alias("n_kept"))


@register(
    "q_mix_temperature",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
               AS BIGINT) AS r_micro
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
             CAST(sum(r_micro) AS BIGINT) AS t_r
      FROM per
    )
    SELECT source, n_docs, n_chars,
           CAST((n_docs * 1000000 + t_docs // 2) // t_docs AS BIGINT)
             AS share_ppm,
           CAST((r_micro * 1000000 + t_r // 2) // t_r AS BIGINT)
             AS weight_ppm,
           CAST(((r_micro * 1000000 + t_r // 2) // t_r) * 1000000
                // GREATEST((n_docs * 1000000 + t_docs // 2) // t_docs, 1)
             AS BIGINT) AS boost_micro
    FROM per CROSS JOIN tot
    """,
    survey_ref="training-data pipeline: temperature-weighted domain "
               "mixing — sampling weights w_d proportional to n_d^0.5 "
               "(the mBERT/XLM-R exponential-smoothing formula, "
               "alpha=0.5), flattening the natural distribution so "
               "small domains aren't drowned; complements "
               "q_domain_mix's downsample-to-uniform and q_domain_cap's "
               "hard ceiling",
    doc="per-source sqrt(count) rounded to integer micro BEFORE the "
        "normalizing sum, then pure-integer ppm ratios (weight, natural "
        "share, boost = weight/share) — no float crosses rows",
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tiny aggregates (one per-source, one 1-row total crossed
    back in as a broadcast) — corpus scanned once, output is
    |sources| rows. The only float op is one sqrt per SOURCE, rounded
    to integer micro before the normalizing sum, so the fold is
    order-independent and engine-stable at any partitioning."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.expr("cast(floor(sqrt(cast(count(1) as double)) * 1000000.0d "
               "+ 0.5d) as bigint)").alias("r_micro"))
    tot = F.broadcast(per.agg(
        F.sum("n_docs").cast("long").alias("t_docs"),
        F.sum("r_micro").cast("long").alias("t_r")))
    return (per.crossJoin(tot)
            .select(
                "source", "n_docs", "n_chars",
                F.expr("(n_docs * 1000000 + t_docs div 2) div t_docs")
                 .cast("long").alias("share_ppm"),
                F.expr("(r_micro * 1000000 + t_r div 2) div t_r")
                 .cast("long").alias("weight_ppm"),
                F.expr("((r_micro * 1000000 + t_r div 2) div t_r) "
                       "* 1000000 div greatest((n_docs * 1000000 "
                       "+ t_docs div 2) div t_docs, 1L)")
                 .cast("long").alias("boost_micro")))



# ---------------------------------------------------------------------------
# full-text search over posting lists: conjunctive terms + phrase match
# ---------------------------------------------------------------------------

_FTS_TERMS = ("join", "vector", "window")


_FTS_PHRASE = ("hash", "value")


@register(
    "q_fts_phrase",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, g.i AS pos, t[g.i] AS term
      FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
    )
    SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = '{_FTS_PHRASE[0]}' AND b.term = '{_FTS_PHRASE[1]}'
    GROUP BY a.doc_id
    """,
    survey_ref="training-data corpus search: exact phrase query via a "
               "POSITIONAL posting join (adjacent-position match) — the "
               "operator shape LIKE '%phrase%' scans cannot give an "
               "index at scale",
    doc="posexplode -> per-term position lists -> self-join on "
        "(doc, pos+1) adjacency -> occurrence counts per doc",
)
def q_fts_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index probe: both join inputs are filtered
    to ONE term's postings in the scan stage, so the adjacency join
    moves two tiny position lists, never documents. At 100 TB the
    (term, doc, pos) table is the stored artifact; phrase cost is
    proportional to the rarer term's posting list — the classic
    intersect-by-position plan."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " ")
    pos = d.select("doc_id", F.posexplode(toks).alias("pos", "term"))
    a = pos.filter(F.col("term") == _FTS_PHRASE[0]) \
        .select("doc_id", F.col("pos").alias("__pa"))
    b = pos.filter(F.col("term") == _FTS_PHRASE[1]) \
        .select("doc_id", F.col("pos").alias("__pb"))
    return (a.join(b, ["doc_id"])
            .filter(F.col("__pb") == F.col("__pa") + 1)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_occurrences").cast("long")
                     .alias("n_occurrences")))


# ---------------------------------------------------------------------------
# streaming ANN index maintenance: incremental IVF assignments
# ---------------------------------------------------------------------------

@register(
    "q_stream_ann_index",
    oracle="""
    WITH e AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    seeds AS (
      SELECT cid, emb FROM (
        SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM e WHERE vec_id % 3 = 0
      ) WHERE cid < 8
    ),
    d AS (
      SELECT e.vec_id, s.cid,
             round(list_sum(list_transform(list_zip(e.emb, s.emb),
                   x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS d2
      FROM e CROSS JOIN seeds s
    ),
    a AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, cid ASC) AS r
      FROM d
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS centroid FROM a WHERE r = 1
    """,
    survey_ref="training-data similarity x streaming: incremental ANN "
               "index maintenance — vectors arrive in batches, each "
               "assigns to the persisted codebook and appends its "
               "inverted-list rows exactly-once (the vector-index "
               "analog of the incremental MinHash index)",
    doc="3 vec_id%3 batches through incremental_ivf_assignments (batch 0 "
        "seeds the 8-centroid codebook, replayed batch no-ops); the "
        "accumulated assignment table must equal DuckDB's one-shot "
        "nearest-centroid computation (6dp-rounded L2, lowest-cid ties)",
)
def q_stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import incremental_ivf_assignments
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="ivfidx_"))
        e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        for b in range(3):
            part = e.filter(F.col("vec_id") % 3 == b)
            incremental_ivf_assignments(store, part, batch_id=b,
                                        n_centroids=8)
        incremental_ivf_assignments(  # replay: must no-op
            store, e.filter(F.col("vec_id") % 3 == 1), batch_id=1,
            n_centroids=8)
        return (store.read("ivf_assignments"),)

    (a,) = _cached_pipeline("ivfidx", spark, sf_dir, build)
    return a.select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("centroid").cast("long").alias("centroid"))


# ---------------------------------------------------------------------------
# BPE merge candidates: adjacent-token pair counts, the tokenizer-training step
# ---------------------------------------------------------------------------

_BPE_TOP = 20


# ---------------------------------------------------------------------------
# BPE trainer: k unrolled merge rounds producing an actual merge table
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6
_BPE_WORDS = 300


def _bpe_train_oracle(final_select: str | None = None) -> str:
    """Unrolled-CTE BPE oracle; ``final_select`` overrides the default
    merge-table projection (q_bpe_encode selects the final vocab
    segmentation from the last w CTE instead)."""
    word = _NORM.format(col="text")
    parts = [
        f"""words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({word}, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w ORDER BY freq DESC, w ASC LIMIT {_BPE_WORDS}
)""",
        "w1 AS (SELECT word, freq, regexp_extract_all(word, '.') AS s "
        "FROM words)",
    ]
    for i in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""p{i} AS (
  SELECT s[g.i] AS lhs, s[g.i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS n
  FROM w{i}, UNNEST(generate_series(1, len(s) - 1)) AS g(i)
  GROUP BY 1, 2
)""")
        parts.append(
            f"m{i} AS (SELECT lhs, rhs, n FROM p{i} "
            f"ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1)")
        # sentinel-coalesced twin: if a round has NO candidate pairs
        # (vocab exhausted before the last round), the cross join must
        # not annihilate later CTEs — an impossible merge pair makes
        # w{i+1} = w{i}, matching the Spark side's loop break
        parts.append(
            f"mm{i} AS (SELECT "
            f"coalesce((SELECT lhs FROM m{i}), chr(1)) AS lhs, "
            f"coalesce((SELECT rhs FROM m{i}), chr(1)) AS rhs)")
        parts.append(f"""w{i + 1} AS (
  SELECT word, freq,
    string_split(
      list_reduce(s, (acc, x) -> CASE
        WHEN list_extract(string_split(acc, chr(31)),
                          len(string_split(acc, chr(31)))) = mm{i}.lhs
             AND x = mm{i}.rhs
        THEN left(acc, len(acc) - len(mm{i}.lhs)) || mm{i}.lhs || mm{i}.rhs
        ELSE acc || chr(31) || x END),
      chr(31)) AS s
  FROM w{i} CROSS JOIN mm{i}
)""")
    sel = " UNION ALL ".join(
        f"SELECT {i} AS step, lhs, rhs, n FROM m{i}"
        for i in range(1, _BPE_ROUNDS + 1))
    if final_select is None:
        final_select = (f"SELECT CAST(step AS INT) AS step, lhs, rhs, n "
                        f"FROM ({sel}) ORDER BY step")
    return "WITH " + ",\n".join(parts) + "\n" + final_select


@register(
    "q_bpe_train",
    oracle=_bpe_train_oracle(),
    survey_ref="training-data tokenizer: full BPE training loop — "
               f"{_BPE_ROUNDS} unrolled merge rounds over the "
               "word-frequency table, each round applying the previous "
               "round's winning merge to the symbol sequences "
               "(the single-step merge-candidate scan unrolled to a full trainer)",
    doc=f"corpus -> capped word-frequency vocab (top {_BPE_WORDS} by "
        "freq desc, word asc) -> char symbol arrays -> per round: "
        "freq-weighted adjacent-pair count, deterministic top-1 "
        "(n desc, lhs asc, rhs asc), greedy left-to-right non-"
        "overlapping merge fold applied to every word; returns the "
        "merge table (step, lhs, rhs, n)",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training the way every production tokenizer trainer does
    it: ONE corpus-scale aggregation builds the word-frequency table
    (map-side combinable explode+count), and the k merge rounds then
    run on that capped vocabulary — O(k x V) work that is independent
    of corpus size, so the loop costs the same at 100 TB as at sf0.01.
    The capped vocab is model-sized state (one bounded collect, the
    same shape as the classifier's weight vector), so the rounds run
    driver-side — see ``_bpe_train_run``."""
    (merge_df, _words) = _bpe_train_run(spark, sf_dir)
    return merge_df


def _bpe_train_run(spark: SparkSession, sf_dir: str):
    """Shared BPE trainer: returns (merge table DataFrame, final
    segmented vocab DataFrame). Cached per (session, sf) — the encode
    query reads the same trained state the merge-table query gates.

    The ONE corpus-scale aggregation (word-frequency top-V) runs on
    Spark; the k merge rounds then operate on the capped <=V-row
    vocabulary, which is model-sized state, so they run driver-side
    in exact Python string/long arithmetic (r14, guide §8 decide
    with small rows): identical pair counts (every adjacent
    occurrence, freq-weighted), identical (n desc, lhs asc, rhs asc)
    winner, identical greedy left-to-right fold (the accumulator's
    last symbol merges with the next on a rule match, so ``aaa``
    under merge (a,a) gives [aa, a] — same algebra as the previous
    in-plan ``F.aggregate`` fold, which spent ~4 jobs per round on a
    300-row single-partition table)."""
    from .queries_bmp import _cached_pipeline

    def build(spark):
        d = load_tables(spark, sf_dir, ("documents",))["documents"]
        norm = F.lower(F.trim(F.regexp_replace(F.col("text"),
                                               r"\s+", " ")))
        vocab_rows = (d.select(F.explode(F.split(norm, " "))
                               .alias("word"))
                      .filter(F.col("word").rlike("^[a-z]+$"))
                      .groupBy("word").agg(F.count(F.lit(1)).cast("long")
                                           .alias("freq"))
                      .orderBy(F.col("freq").desc(), F.col("word").asc())
                      .limit(_BPE_WORDS)
                      .collect())
        vocab = [(r["word"], int(r["freq"]), list(r["word"]))
                 for r in vocab_rows]
        merges: list[tuple] = []
        for i in range(1, _BPE_ROUNDS + 1):
            counts: dict[tuple, int] = {}
            for _w, freq, s in vocab:
                for j in range(len(s) - 1):
                    p = (s[j], s[j + 1])
                    counts[p] = counts.get(p, 0) + freq
            if not counts:
                break
            (lhs, rhs), n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((i, lhs, rhs, n))
            merged = lhs + rhs
            nxt = []
            for w, freq, s in vocab:
                if len(s) > 1:
                    acc = [s[0]]
                    for x in s[1:]:
                        if acc[-1] == lhs and x == rhs:
                            acc[-1] = merged
                        else:
                            acc.append(x)
                    s = acc
                nxt.append((w, freq, s))
            vocab = nxt
        merge_df = tiny_df(
            spark, merges, "step int, lhs string, rhs string, n long")
        words = tiny_df(spark, vocab,
                        "word string, freq long, s array<string>")
        return merge_df, words

    return _cached_pipeline("bpe", spark, sf_dir, build)


@register(
    "q_bpe_encode",
    oracle=_bpe_train_oracle(final_select=f"""
SELECT word, freq, array_to_string(s, '|') AS tokens,
       CAST(len(s) AS BIGINT) AS n_tokens
FROM w{_BPE_ROUNDS + 1} ORDER BY word"""),
    survey_ref="training-data tokenizer: apply the trained BPE merge "
               "table — the encode half that pairs with q_bpe_train "
               "(segmentation of the vocab after all merge rounds)",
    doc="the trained merge sequence applied in order to every vocab "
        "word's symbol array; returns (word, freq, tokens, n_tokens) "
        "— both engines derive the segmentation independently from "
        "the same corpus",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding is the same greedy fold as training, replayed per
    merge in training order — at corpus scale this runs as a
    broadcast of the (k-row) merge table into a per-document fold, so
    the cost is one scan regardless of corpus size; here it is gated
    on the vocab segmentation both engines can derive exactly."""
    (_merges, words) = _bpe_train_run(spark, sf_dir)
    return (words.select(
        "word", "freq",
        F.array_join("s", "|").alias("tokens"),
        F.size("s").cast("long").alias("n_tokens"))
        .orderBy("word"))


# ---------------------------------------------------------------------------
# per-domain cap: keep at most N docs per source, best-first
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 50


@register(
    "q_domain_cap",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(n_chars AS BIGINT) AS n_chars, CAST(rank AS INT) AS rank
    FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rank
      FROM documents)
    WHERE rank <= {_DOMAIN_CAP}
    """,
    survey_ref="training-data curation: per-domain document cap — bound "
               "any single source's contribution by keeping its best N "
               "docs (the anti-domination guard next to q_domain_mix's "
               "rate-based mixing)",
    doc="window rank per source by (n_chars desc, doc_id asc), keep "
        "rank <= N; deterministic, no RNG",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one hash-partitioned window by source. For skewed
    domains (one source = half the corpus) the rank-N cutoff is the
    textbook case for a two-level top-N: per-partition partial top-N
    before the final window bounds the shuffle at N rows per
    (partition, source) — Spark plans exactly that for row_number +
    rank filter via WindowGroupLimit pushdown."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = W.partitionBy("source").orderBy(F.col("n_chars").desc(),
                                        F.col("doc_id").asc())
    return (d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _DOMAIN_CAP)
            .select(F.col("doc_id").cast("long").alias("doc_id"), "source",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("rank").cast("int").alias("rank")))


@register(
    "q_multimodal_resize",
    oracle="""
    WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
    dims AS (SELECT did, 4 + did % 5 AS w, 3 + did % 4 AS h FROM ids),
    px AS (
      -- nearest-neighbor index maps of resize_images(4, 3):
      -- source row = y*h//3, source col = x*w//4
      SELECT did, w, h,
             (yy.y * h) // 3 AS sy, (xx.x * w) // 4 AS sx
      FROM dims
      CROSS JOIN generate_series(0, 2) AS yy(y)
      CROSS JOIN generate_series(0, 3) AS xx(x)
    ),
    sums AS (
      SELECT did,
             sum((did * 1 + 7 * sy + 11 * sx) % 256) AS s_r,
             sum((did * 2 + 7 * sy + 11 * sx) % 256) AS s_g,
             sum((did * 3 + 7 * sy + 11 * sx) % 256) AS s_b
      FROM px GROUP BY did
    )
    SELECT did AS doc_id, 'ppm' AS format,
           CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
           CAST(s_r * 1000000 // 12 AS BIGINT) AS mean_r_ppm,
           CAST(s_g * 1000000 // 12 AS BIGINT) AS mean_g_ppm,
           CAST(s_b * 1000000 // 12 AS BIGINT) AS mean_b_ppm
    FROM sums
    """,
    survey_ref="training-data multimodal: the RESIZE kernel hash-gated "
               "end-to-end — generate -> decode -> nearest-neighbor "
               "resample -> re-encode -> decode -> aggregate, all real "
               "pixel math in-container (netpbm kernel)",
    doc="deterministic P6 payloads resized to 4x3 via the pure-Python "
        "netpbm path; DuckDB recomputes the resampled channel means "
        "from the closed-form pixel formula + the documented NN index "
        "maps, so a resampling off-by-one flips the hash",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (generate_ppm_payloads,
                                       image_channel_stats, resize_images)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    payloads = generate_ppm_payloads(
        d.select(F.col("doc_id").cast("long").alias("doc_id")))
    resized = resize_images(payloads, 4, 3)
    return image_channel_stats(resized)


# ---------------------------------------------------------------------------
# MinHash estimator-accuracy gate: est vs true Jaccard per candidate pair
# ---------------------------------------------------------------------------

_EST_AGREE_SQL = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
    for i in range(_NUM_HASHES))

_MINHASH_EST_ORACLE = f"""
WITH {_CORPUS_SQL},
toks AS (
  SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t FROM corpus
),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{_SHINGLE_N - 1}], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - {_SHINGLE_N - 1})) AS g(i)
),
mh AS (
  SELECT doc_id, {_minhash_cols}
  FROM sh GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_band_exprs} FROM mh
),
banded AS (
{_band_union}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, s FROM sh),
ssz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS i
  FROM pairs p
  JOIN shd x ON x.doc_id = p.id_a
  JOIN shd y ON y.doc_id = p.id_b AND y.s = x.s
  GROUP BY p.id_a, p.id_b
),
est AS (
  SELECT p.id_a, p.id_b,
         ({_EST_AGREE_SQL}) * 1000000 // {_NUM_HASHES} AS est_ppm
  FROM pairs p
  JOIN mh a ON a.doc_id = p.id_a
  JOIN mh b ON b.doc_id = p.id_b
)
SELECT CAST(e.id_a AS BIGINT) AS id_a, CAST(e.id_b AS BIGINT) AS id_b,
       CAST(e.est_ppm AS BIGINT) AS est_ppm,
       CAST(coalesce(i.i, 0) * 1000000
            // (sa.n + sb.n - coalesce(i.i, 0)) AS BIGINT) AS true_ppm,
       CAST(abs(e.est_ppm - coalesce(i.i, 0) * 1000000
            // (sa.n + sb.n - coalesce(i.i, 0))) AS BIGINT) AS err_ppm
FROM est e
LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN ssz sa ON sa.doc_id = e.id_a
JOIN ssz sb ON sb.doc_id = e.id_b
"""


@register(
    "q_minhash_est_gate",
    oracle=_MINHASH_EST_ORACLE,
    survey_ref="training-data dedup: MinHash ESTIMATOR-accuracy gate — "
               "per candidate pair, the signature-agreement Jaccard "
               "estimate vs the exact shingle-set Jaccard as integer "
               "ppm (the recall-handshake idea applied to the sketch "
               "itself, like q_approx_distinct_gate does for HLL++)",
    doc="16-component signature agreement -> est_ppm; exact distinct-"
        "shingle intersection/union of the per-doc shingle sets -> "
        "true_ppm; both engines must land on identical (est, true, err) "
        "rows — proving the sketch's deviation every driver run instead "
        "of citing the textbook bound",
)
def q_minhash_est_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE explode + groupBy(doc) computes the 16 min-md5
    signature columns and the doc's distinct shingle set together,
    persisted once; it feeds the LSH band table and both sides of the
    pair join. The join touches only CANDIDATE pairs (banding-bounded,
    never all pairs) and reads est_ppm and true_ppm off the same two
    signature rows: per-pair cost proportional to the two documents'
    shingle counts, the same bounded unit the n-gram-Jaccard operator
    pays. Integer-ppm arithmetic throughout."""
    from .operators.cache import owned_persist
    from .operators.dedup import minhash_aggregates
    from .operators.dedup import shingle as mk_shingle

    c = _corpus(spark, sf_dir).withColumn("text", F.lower(F.col("text")))
    # ONE signature build feeds the LSH band table AND both sides of
    # the pair join; un-persisted, the full shingle explode + 16-way
    # min-md5 aggregate ran three times (r14, guide §7.2 duplicated
    # subtrees). collect_set keeps the distinct-shingle semantics of
    # the oracle's shd.
    sh = c.select(F.col("doc_id").alias("__id"),
                  F.explode(mk_shingle("text", _SHINGLE_N))
                   .alias("__s"))
    sig = owned_persist(sh.groupBy("__id").agg(
        *minhash_aggregates(_NUM_HASHES), F.collect_set("__s").alias("__set")))
    pairs = minhash_lsh_pairs(c, "doc_id", "text",
                              num_hashes=_NUM_HASHES, bands=_BANDS,
                              shingle_n=_SHINGLE_N, signatures=sig)
    # parsed projections: the 16-term agreement sum alone is ~180 py4j
    # calls as Column algebra, one as SQL text
    agree = " + ".join(f"CASE WHEN a.__h{i} = b.__h{i} THEN 1 ELSE 0 END"
                       for i in range(_NUM_HASHES))
    return (pairs
            .join(sig.alias("a"), F.col("id_a") == F.col("a.__id"))
            .join(sig.alias("b"), F.col("id_b") == F.col("b.__id"))
            .selectExpr("CAST(id_a AS BIGINT) AS id_a",
                        "CAST(id_b AS BIGINT) AS id_b",
                        f"CAST(({agree}) * 1000000 / {_NUM_HASHES} AS BIGINT)"
                        " AS est_ppm",
                        "size(array_intersect(a.__set, b.__set)) AS __i",
                        "size(a.__set) + size(b.__set) AS __n")
            .selectExpr("id_a", "id_b", "est_ppm",
                        "__i * 1000000L div (__n - __i) AS true_ppm")
            .selectExpr("id_a", "id_b", "est_ppm", "true_ppm",
                        "abs(est_ppm - true_ppm) AS err_ppm"))


# ---------------------------------------------------------------------------
# unigram-LM surprisal: the classic model-based quality signal
# ---------------------------------------------------------------------------

@register(
    "q_doc_unigram_ppl",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM.format(col='text')}, ' ')) AS term
      FROM documents
    ), t AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
    cf AS (SELECT term, count(*) AS c FROM t GROUP BY term),
    n AS (SELECT sum(c) AS total FROM cf),
    bits AS (
      SELECT t.doc_id,
             CAST(round((ln((SELECT total FROM n)) - ln(cf.c))
                        / ln(2) * 1000000) AS BIGINT) AS mb
      FROM t JOIN cf USING (term)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(mb) // count(*) AS BIGINT) AS avg_microbits
    FROM bits GROUP BY doc_id
    """,
    survey_ref="training-data quality: unigram-LM surprisal per document "
               "(mean -log2 p(token) under the corpus MLE) — the classic "
               "model-based quality/outlier signal next to the heuristic "
               "q_quality_score",
    doc="corpus term counts -> per-token surprisal ROUNDED TO INTEGER "
        "micro-bits BEFORE the per-doc sum (float sums are engine-order-"
        "dependent; integer sums are not) -> integer mean per doc",
)
def q_doc_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one explode, one term-keyed count agg (distinct-
    token bounded), the corpus total joined in as a broadcast scalar,
    one doc-keyed agg. The per-token rounding is the hash-stability
    trick: round(surprisal * 1e6) per TOKEN, then exact integer
    sum/div — cross-row float accumulation never enters the hash."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " ")
    t = (d.select("doc_id", F.explode(toks).alias("term"))
         .filter(F.length("term") > 0))
    cf = t.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = F.broadcast(cf.agg(F.sum("c").cast("double").alias("__total")))
    bits = (t.join(cf, "term").crossJoin(n)
            .select("doc_id",
                    F.round((F.log("__total") - F.log("c"))
                            / F.lit(float(__import__("math").log(2)))
                            * 1_000_000).cast("long").alias("__mb")))
    return (bits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("__mb").alias("__s"))
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.expr("__s div n_tokens").alias("avg_microbits")))


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_SALT = "split-v1:"


def _split_bucket(col):
    """md5(salt || id) % 100 — THE split bucket. One definition shared
    by q_leakage_split (per-doc naive baseline and per-group
    representative) so the two queries can never disagree about which
    split an id lands in; the DuckDB mirrors inline the same salt and
    thresholds via _SPLIT_SALT / _SPLIT_CASE_SQL."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(_SPLIT_SALT), col.cast("string"))),
        1, 8), 16, 10).cast("long") % 100)


def _split_label(bucket):
    """90/5/5 thresholds over a _split_bucket value."""
    return (F.when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test"))


# the same bucket + thresholds in DuckDB SQL, templated on the id expr
_SPLIT_BUCKET_SQL = ("CAST(('0x' || substr(md5('" + _SPLIT_SALT
                     + "' || CAST({id} AS VARCHAR)), 1, 8)) AS BIGINT)"
                     " % 100")
_SPLIT_CASE_SQL = ("CASE WHEN {b} < 90 THEN 'train' "
                   "WHEN {b} < 95 THEN 'val' ELSE 'test' END")


@register(
    "q_leakage_split",
    oracle=f"""
    WITH {_CORPUS_SQL},
    fp AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5({_NORM.format(col='text')}), 1, 12))
               AS BIGINT) AS fp64
      FROM corpus
    ), grp AS (
      SELECT fp64, min(doc_id) AS group_rep FROM fp GROUP BY fp64
    ), assigned AS (
      SELECT fp.doc_id, grp.group_rep,
             {_SPLIT_BUCKET_SQL.format(id='grp.group_rep')} AS gb,
             {_SPLIT_BUCKET_SQL.format(id='fp.doc_id')} AS nb
      FROM fp JOIN grp USING (fp64)
    ), labeled AS (
      SELECT doc_id, group_rep,
             {_SPLIT_CASE_SQL.format(b='gb')} AS split,
             {_SPLIT_CASE_SQL.format(b='nb')} AS naive_split
      FROM assigned
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT group_rep) AS BIGINT) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(count(*) FILTER (WHERE naive_split <> split) AS BIGINT)
             AS rescued_docs
    FROM labeled GROUP BY split
    """,
    survey_ref="training-data pipeline: leakage-safe train/val/test "
               "split — the split unit is the DEDUP GROUP, not the "
               "document, so exact near-copies can never straddle "
               "train and eval (contamination-by-construction guard; "
               "composes q_dedup_exact's fingerprint with "
               "the naive per-doc hash buckets)",
    doc="fingerprint-group min-id representative -> hash-bucket the "
        "REPRESENTATIVE; rescued_docs counts members the naive per-doc "
        "split would have separated from their group",
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware split: every member of an exact-dup cluster gets
    the cluster representative's bucket. On the clone-augmented corpus
    the naive per-doc hash provably leaks (doc and its +10000 clone
    hash independently: ~10% of pairs straddle); the group split
    leaks zero by construction and `rescued_docs` quantifies the
    difference. One groupBy + one broadcast-sized join; the
    fingerprint grain is the same as q_dedup_exact. The rep join keys
    on fp64 — the same key the groupBy just shuffled on — so the sort
    -merge join reuses that partitioning rather than re-shuffling;
    AQE may downgrade it to broadcast when the group table is small,
    but at 100 TB it is N-sized, so we don't force a broadcast."""
    c = _corpus(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    fp = c.select(
        "doc_id",
        F.conv(F.substring(F.md5(norm), 1, 12), 16, 10)
         .cast("long").alias("fp64"))
    grp = fp.groupBy("fp64").agg(F.min("doc_id").alias("group_rep"))
    assigned = (fp.join(grp, "fp64")
                .select("doc_id", "group_rep",
                        _split_label(_split_bucket(F.col("group_rep")))
                        .alias("split"),
                        _split_label(_split_bucket(F.col("doc_id")))
                        .alias("naive_split")))
    return (assigned.groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("group_rep").cast("long")
                  .alias("n_groups"),
                 F.sum("doc_id").cast("long").alias("id_checksum"),
                 F.sum(F.when(F.col("naive_split") != F.col("split"), 1)
                        .otherwise(0)).cast("long").alias("rescued_docs")))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup = k-means clusters -> within-cluster near-dup
# ---------------------------------------------------------------------------

def _semantic_dedup_oracle(sf_dir: str,
                           name: str = "q_semantic_dedup_banded") -> str:
    """DuckDB half of the SemDeDup handshake: read the published
    cluster-assignment dump, join the (clone-augmented) embedding
    table, and re-derive the keep/drop decision with the identical
    within-cluster keep-lowest-id rule. Hash-equal iff both engines
    agree on every kept/dropped row and representative. The blocking
    key is opaque in the published assignment, so the oracle is
    independent of the cap policy (hash-shard or centered-LSH band)."""
    aux = _aux(name, _sf_tag(sf_dir))
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 3 = 0
    ), ap AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(cluster_id AS BIGINT) AS cluster_id
      FROM read_parquet('{aux}/*.parquet')
    ), j AS (
      SELECT ap.vec_id, ap.cluster_id, e.emb,
             sqrt(list_sum(list_transform(e.emb, x -> x*x))) AS nrm
      FROM ap JOIN e USING (vec_id)
    ), dup AS (
      SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
      FROM j a JOIN j b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.emb, b.emb),
                                    x -> x[1]*x[2])) / (a.nrm * b.nrm)
            >= 0.95
      GROUP BY b.vec_id
    )
    SELECT j.vec_id, j.cluster_id,
           CAST(CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS INT)
             AS kept,
           CAST(dup.dup_of AS BIGINT) AS dup_of
    FROM j LEFT JOIN dup USING (vec_id)
    """


@register(
    "q_semantic_dedup_banded",
    oracle=lambda sf_dir: _semantic_dedup_oracle(
        sf_dir, "q_semantic_dedup_banded"),
    survey_ref="training-data dedup: SemDeDup with recall-aware "
               "centered-LSH pre-banding of oversized clusters "
               "(band_oversized_clusters) before the hash-shard cap — "
               "near-dups co-band instead of surviving the cap at "
               "~1/n_shards",
    doc="kmeans_assign -> centered sign-banding of oversized clusters "
        "-> residual hash-shard cap -> parquet assignment handoff -> "
        "within-cluster cosine keep-lowest-id, re-derived by both "
        "engines from the published blocking key",
)
def q_semantic_dedup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_semantic_dedup with the recall-aware cap:
    oversized clusters band by hyperplane signs AROUND THEIR OWN
    CENTROID (global planes saturate on a dense direction), then the
    unconditional hash cap handles any still-tight band. A small cap
    is used so the policy actually engages at driver scale."""
    from .operators.cache import build_artifacts
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    aug = e.unionByName(
        e.filter(F.col("vec_id") % 3 == 0)
         .withColumn("vec_id", F.col("vec_id") + 10000))
    aux = _aux("q_semantic_dedup_banded", _sf_tag(sf_dir))
    with build_artifacts():
        af = fan_out(aug, spark)
        assigned = similarity.kmeans_assign(
            af, n_clusters=16, train_iters=1)
        assigned = similarity.band_oversized_clusters(
            assigned, af, max_cluster_size=120, n_planes=3)
        publish_aux(
            assigned.select(F.col("vec_id").cast("long").alias("vec_id"),
                            F.col("cluster_id").cast("long")
                             .alias("cluster_id")),
            aux)
    ap = spark.read.parquet(aux)
    return similarity.semantic_dedup_within(ap, aug, threshold=0.95)


# ---------------------------------------------------------------------------
# distributed PCA: map-side Gram reduction -> driver eigh -> projection
# ---------------------------------------------------------------------------

def _pca_project_oracle(sf_dir: str, name: str = "q_pca_project") -> str:
    """DuckDB half of the PCA handshake: read the published model
    (mean + 2 sign-normalized components), project every embedding
    with the identical centered dot products, and emit the same raw
    coordinates + integer energy ppm. Hash-equal iff both engines
    project bit-for-bit from the same published matrix. Shared by the
    batch fit (q_pca_project) and the incremental store-backed fit
    (q_stream_pca) — only the aux dump name differs."""
    aux = _aux(name, _sf_tag(sf_dir))
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), w AS (
      SELECT mean, w1, w2 FROM read_parquet('{aux}/*.parquet')
    ), c AS (
      SELECT e.vec_id,
             list_transform(list_zip(e.emb, w.mean), x -> x[1] - x[2]) AS cv,
             w.w1 AS w1, w.w2 AS w2
      FROM e CROSS JOIN w
    ), p AS (
      SELECT vec_id,
             list_sum(list_transform(list_zip(cv, w1), x -> x[1]*x[2])) AS p1,
             list_sum(list_transform(list_zip(cv, w2), x -> x[1]*x[2])) AS p2,
             list_sum(list_transform(cv, x -> x*x)) AS d2
      FROM c
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id, p1, p2,
           CAST(floor((p1*p1 + p2*p2) * 1000000.0 / nullif(d2, 0.0))
                AS BIGINT) AS energy_ppm
    FROM p
    """


def _publish_and_project(spark: SparkSession, e: DataFrame,
                         mean, comps, name: str, sf_dir: str) -> DataFrame:
    """Publish a fitted 2-component model and return the projection
    plan both engines score (the Spark half of _pca_project_oracle)."""
    aux = _aux(name, _sf_tag(sf_dir))
    model = tiny_df(
        spark, [(mean, comps[0], comps[1])],
        "mean array<double>, w1 array<double>, w2 array<double>")
    publish_aux(model, aux)
    w = spark.read.parquet(aux)
    cv = F.zip_with(similarity.as_double(F.col("embedding")),
                    F.col("mean"), lambda x, m: x - m)
    proj = (e.crossJoin(F.broadcast(w))
            .withColumn("__cv", cv)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    similarity.dot(F.col("__cv"), F.col("w1")).alias("p1"),
                    similarity.dot(F.col("__cv"), F.col("w2")).alias("p2"),
                    similarity.dot(F.col("__cv"), F.col("__cv"))
                    .alias("__d2")))
    return proj.select(
        "vec_id", "p1", "p2",
        F.expr("cast(floor((p1*p1 + p2*p2) * 1000000.0d / "
               "nullif(__d2, 0.0d)) as bigint)").alias("energy_ppm"))


@register(
    "q_pca_project",
    oracle=_pca_project_oracle,
    survey_ref="training-data embeddings: distributed PCA — map-side "
               "Gram reduction (O(partitions x d^2) shuffle, row-count "
               "independent), driver-side eigh on the d x d covariance, "
               "published-model projection (whitening / component "
               "pruning before ANN indexing)",
    doc="gram partials via Arrow mapInPandas -> eigh -> sign-normalized "
        "2-component model dump -> both engines project independently; "
        "energy_ppm = centered variance captured, integer-floored",
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import pca

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    mean, comps, _eig = pca.pca_fit(fan_out(e, spark), "embedding",
                                    dims=_DIMS, n_components=2)
    return _publish_and_project(spark, e, mean, comps,
                                "q_pca_project", sf_dir)


@register(
    "q_stream_pca",
    oracle=lambda sf: _pca_project_oracle(sf, "q_stream_pca"),
    survey_ref="training-data embeddings: STREAMING PCA — incremental "
               "Gram-partial maintenance through the transactional "
               "store (the model-state member of the incremental-index "
               "family next to the MinHash band index and the IVF "
               "assignment index); vectors arrive in batches, each "
               "appends its (count, sums, X^T X) partial atomically, "
               "old vectors are never rescanned, and the model is "
               "recovered at read time from the summed partials",
    doc="3 batches -> incremental_gram_update (exactly-once txn, "
        "replay no-op) -> pca_fit_from_store -> same projection "
        "handshake as q_pca_project; batch sums commute so any split "
        "yields the identical sufficient statistics",
)
def q_stream_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import pca
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="pcagram_"))
        for b in range(3):
            pca.incremental_gram_update(
                store, e.filter(F.col("vec_id") % 3 == b),
                "embedding", _DIMS, batch_id=b)
        pca.incremental_gram_update(  # replay: must no-op
            store, e.filter(F.col("vec_id") % 3 == 1),
            "embedding", _DIMS, batch_id=1)
        mean, comps, _eig = pca.pca_fit_from_store(store, _DIMS,
                                                   n_components=2)
        return (_publish_and_project(spark, e, mean, comps,
                                     "q_stream_pca", sf_dir),)

    (out,) = _cached_pipeline("streampca", spark, sf_dir, build)
    return out


# ---------------------------------------------------------------------------
# model-based quality filtering: distributed logistic regression
# ---------------------------------------------------------------------------

def _quality_classifier_oracle(sf_dir: str,
                               name: str = "q_quality_classifier") -> str:
    """DuckDB half of the classifier handshake: rebuild the identical
    feature vector per document (the q_quality_score parity
    expressions), read the published trained weights, and score with
    the same left-associated linear form. No transcendental enters
    the gate — the sigmoid is monotone, so the raw margin and its
    sign carry the full decision."""
    aux = _aux(name, _sf_tag(sf_dir))
    return f"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(trim(regexp_replace(text,'\\s+',' ','g')),' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split({_NORM.format(col='text')}, ' '),
                                  t -> t IN ({_STOP_SQL}))) AS BIGINT) AS n_stop
      FROM documents
    ), x AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             1.0 AS x0,
             ((CASE WHEN n_tokens > 0
                    THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                    ELSE 0.0 END) - 0.06) * 16.0 AS x1,
             (CASE WHEN n_tokens > 0
                   THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)
                        / CAST(n_tokens AS DOUBLE)
                   ELSE 0.0 END) / 16.0 AS x2,
             CAST(n_tokens AS DOUBLE) / 256.0 AS x3
      FROM f
    ), s AS (
      SELECT doc_id, x1,
             w0*x0 + w1*x1 + w2*x2 + w3*x3 AS score
      FROM x CROSS JOIN read_parquet('{aux}/*.parquet')
    )
    SELECT doc_id, score,
           CAST(CASE WHEN score >= 0.0 THEN 1 ELSE 0 END AS INT) AS pred,
           CAST(CASE WHEN x1 >= 0.0 THEN 1 ELSE 0 END AS INT) AS label
    FROM s
    """


@register(
    "q_quality_classifier",
    oracle=_quality_classifier_oracle,
    survey_ref="training-data quality filtering: CCNet/fastText-style "
               "model-based filter — logistic regression trained by "
               "distributed full-batch gradient descent (one aggregation "
               "per round, weights driver-side), published weights score "
               "the corpus JVM-side",
    doc="quality features -> logreg_train (6 rounds) -> 1-row weight "
        "dump -> both engines score the identical linear margin; label "
        "is the deterministic stopword-ratio rule the model must learn",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _train_quality_scores(spark, sf_dir, "q_quality_classifier")
    return scored.select(
        "doc_id", "score",
        F.expr("cast(case when score >= 0.0d then 1 else 0 "
               "end as int)").alias("pred"),
        "label")


def _train_quality_scores(spark: SparkSession, sf_dir: str,
                          aux_name: str) -> DataFrame:
    """Shared trainer+scorer: quality features -> 6-round full-batch
    logreg -> weights published under ``aux_name`` -> per-doc linear
    margin. Each consumer publishes its OWN aux dump so the driver can
    run it standalone (no cross-query ordering dependency)."""
    from .functions.text import quality_features
    from .operators.cache import build_artifacts, owned_persist
    from .operators.classifier import logreg_train

    d = fan_out(load_tables(spark, sf_dir, ("documents",))["documents"],
                spark)
    feats = quality_features(F.col("text"))
    # x1 is centered on the label boundary and rescaled to O(1)
    # (exact float ops, mirrored in the oracle) — without this the
    # raw ratio's ~0.06 scale needs a ~100x weight that full-batch
    # GD can't reach in a few rounds (measured: collapsed to the
    # majority class at 12 rounds on the raw feature)
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(1.0).alias("x0"),
        ((feats["stopword_ratio"] - F.lit(0.06)) * F.lit(16.0)).alias("x1"),
        (feats["avg_token_len"] / F.lit(16.0)).alias("x2"),
        (feats["n_tokens"].cast("double") / F.lit(256.0)).alias("x3"))
    base = base.withColumn(
        "label", F.when(F.col("x1") >= 0.0, 1).otherwise(0).cast("int"))
    aux = _aux(aux_name, _sf_tag(sf_dir))
    with build_artifacts():
        # feature extraction is regex-heavy: persist for the 12
        # gradient scans, release once the weights are published
        trained = owned_persist(base)
        # 6 rounds at lr 8 reaches the same 0.997 training accuracy
        # as 12 at lr 4 (measured at sf0.1) in half the job barriers
        w = logreg_train(trained, ["x0", "x1", "x2", "x3"], "label",
                         iters=6, lr=8.0)
        publish_aux(
            tiny_df(
                spark, [tuple(w)], "w0 double, w1 double, w2 double, w3 double"),
            aux)
    wdf = spark.read.parquet(aux)
    return (base.crossJoin(F.broadcast(wdf))
            .withColumn("score", F.expr("w0*x0 + w1*x1 + w2*x2 + w3*x3")))


_UNCERTAIN_K = 32


def _uncertainty_oracle(sf_dir: str) -> str:
    """Same trained-weights scoring CTEs as the classifier gate (over
    THIS query's own aux dump), then the deterministic bottom-K by
    |margin| with doc_id tie-break. The linear margin is the identical
    IEEE expression on both engines (proven by q_quality_classifier's
    raw-double hash match), so ordering on it is engine-stable."""
    scored = _quality_classifier_oracle(sf_dir, "q_uncertainty_select")
    return f"""
    WITH scored AS ({scored}),
    k AS (
      SELECT doc_id, score, pred
      FROM scored ORDER BY abs(score), doc_id LIMIT {_UNCERTAIN_K}
    )
    SELECT doc_id,
           CAST(floor(abs(score) * 1000000000.0 + 0.5) AS BIGINT)
             AS margin_nano,
           CAST(pred AS INT) AS pred,
           CAST(row_number() OVER (ORDER BY abs(score), doc_id)
             AS BIGINT) AS sel_rank
    FROM k
    """


@register(
    "q_uncertainty_select",
    oracle=_uncertainty_oracle,
    survey_ref="training-data pipeline: active-learning selection — "
               "the K documents nearest the quality classifier's "
               "decision boundary (smallest |margin|), the uncertainty-"
               "sampling batch a labeling loop sends for human review; "
               "composes the q_quality_classifier trainer",
    doc=f"train (6 GD rounds) -> publish weights -> score -> "
        f"distributed bottom-{_UNCERTAIN_K} by |margin| (TakeOrdered, "
        f"doc_id tie-break) -> margin_nano + selection rank",
)
def q_uncertainty_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global bottom-K is Spark's TakeOrderedAndProject — each
    partition keeps K candidates, the driver merges K x partitions
    rows — never a full sort, so the selection costs one scan at any
    corpus size. The K-row window rank is driver-scale by
    construction."""
    from pyspark.sql import Window

    scored = _train_quality_scores(spark, sf_dir, "q_uncertainty_select")
    sel = (scored
           .select("doc_id", "score",
                   F.expr("cast(case when score >= 0.0d then 1 else 0 "
                          "end as int)").alias("pred"))
           .orderBy(F.abs(F.col("score")), F.col("doc_id"))
           .limit(_UNCERTAIN_K))
    w = Window.orderBy(F.abs(F.col("score")), F.col("doc_id"))
    return sel.select(
        "doc_id",
        F.expr("cast(floor(abs(score) * 1000000000.0d + 0.5d) as bigint)")
         .alias("margin_nano"),
        "pred",
        F.row_number().over(w).cast("long").alias("sel_rank"))


# ---------------------------------------------------------------------------
# DSIR-style importance selection: target-vs-raw unigram log-likelihood ratio
# ---------------------------------------------------------------------------

@register(
    "q_dsir_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(string_split({_NORM.format(col='text')}, ' ')) AS term
      FROM documents
    ), t AS (SELECT doc_id, source, term FROM tok WHERE length(term) > 0),
    cf AS (
      SELECT term, count(*) AS c_all,
             count(*) FILTER (WHERE source = 'src0') AS c_tgt
      FROM t GROUP BY term
    ),
    tot AS (
      SELECT sum(c_all) AS t_all,
             sum(c_tgt) + count(*) AS t_tgt_denom
      FROM cf
    ), mb AS (
      SELECT t.doc_id,
             CAST(round((ln(cf.c_tgt + 1)
                         - ln(CAST(tot.t_tgt_denom AS DOUBLE))
                         - ln(cf.c_all)
                         + ln(CAST(tot.t_all AS DOUBLE)))
                        / ln(2) * 1000000) AS BIGINT) AS mb
      FROM t
      JOIN cf USING (term)
      CROSS JOIN tot
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(mb) AS BIGINT) AS llr_microbits,
           CAST(CASE WHEN sum(mb) >= 0 THEN 1 ELSE 0 END AS INT)
             AS selected
    FROM mb GROUP BY doc_id
    """,
    survey_ref="training-data selection: DSIR-style importance scoring "
               "(Xie et al. 2023) — per-token log2 p_target/p_raw under "
               "add-one-smoothed unigram LMs, summed per doc; docs whose "
               "token mix looks more target-like than corpus-average are "
               "selected (the hashed-ngram importance-resampling recipe, "
               "unigram instantiation)",
    doc="one combined count agg (corpus total + FILTERed target count "
        "per term, single shuffle) -> per-token LLR rounded to integer "
        "micro-bits BEFORE the doc sum (engine-order-safe) -> integer "
        "sum + >=0 selection; NO division so trunc-vs-floor semantics "
        "never enter the hash (llr sums go negative)",
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one explode (persisted — three plan branches read
    it: term counts, totals, and the scoring join), ONE term-keyed
    aggregate carrying both LM counts (conditional count, map-side
    combined), 1-row LM totals broadcast as the scalar-subquery
    pattern, one doc-keyed integer agg. Vocabulary bounds the join
    keys."""
    import math as _math

    from .operators.cache import owned_persist

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " ")
    t = owned_persist(
        d.select("doc_id", "source", F.explode(toks).alias("term"))
        .filter(F.length("term") > 0))
    cf = t.groupBy("term").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.count_if(F.col("source") == "src0").alias("c_tgt"))
    tot = F.broadcast(
        cf.agg(F.sum("c_all").cast("double").alias("__t_all"),
               (F.sum("c_tgt") + F.count(F.lit(1))).cast("double")
               .alias("__t_tgt_denom")))
    mb = (t.join(cf, "term")
          .crossJoin(tot)
          .select("doc_id",
                  F.round((F.log(F.col("c_tgt") + F.lit(1))
                           - F.log("__t_tgt_denom")
                           - F.log("c_all")
                           + F.log("__t_all"))
                          / F.lit(float(_math.log(2))) * 1_000_000)
                  .cast("long").alias("__mb")))
    return (mb.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("__mb").alias("llr_microbits"))
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("llr_microbits").cast("long")
                    .alias("llr_microbits"),
                    F.when(F.col("llr_microbits") >= 0, 1).otherwise(0)
                    .cast("int").alias("selected")))


# ---------------------------------------------------------------------------
# embedding-space outlier pruning: cosine-to-own-centroid
# ---------------------------------------------------------------------------

def _embed_outliers_oracle(sf_dir: str) -> str:
    """DuckDB half of the outlier handshake: the dump carries each
    vector's cluster AND that cluster's centroid (denormalized so one
    dump is self-contained); both engines recompute cos(v, centroid)
    with the identical expression and flag the same low band."""
    aux = _aux("q_embed_outliers", _sf_tag(sf_dir))
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), ap AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(cluster_id AS BIGINT) AS cluster_id, centroid
      FROM read_parquet('{aux}/*.parquet')
    ), s AS (
      SELECT ap.vec_id, ap.cluster_id,
             list_sum(list_transform(list_zip(e.emb, ap.centroid),
                                     x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(e.emb, x -> x*x)))
                  * sqrt(list_sum(list_transform(ap.centroid, x -> x*x))))
               AS cos_centroid
      FROM ap JOIN e USING (vec_id)
    ), cut AS (SELECT quantile_cont(cos_centroid, 0.05) AS p5 FROM s)
    SELECT vec_id, cluster_id, cos_centroid,
           CAST(CASE WHEN cos_centroid < cut.p5 THEN 1 ELSE 0 END AS INT)
             AS is_outlier
    FROM s CROSS JOIN cut
    """


@register(
    "q_embed_outliers",
    oracle=_embed_outliers_oracle,
    survey_ref="training-data curation: embedding-space outlier pruning "
               "— cosine of each vector to its own k-means centroid, low "
               "band flagged (the prune-before-train step next to "
               "SemDeDup; far-from-every-centroid vectors are mislabeled "
               "or off-distribution)",
    doc="kmeans_assign -> assignment+centroid handoff (denormalized, "
        "self-contained) -> both engines recompute cos(v, own centroid) "
        "and flag the identical bottom-5% band (interpolated percentile "
        "cut — a fixed constant would be degenerate on any given "
        "corpus's cohesion distribution)",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cache import build_artifacts

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    aux = _aux("q_embed_outliers", _sf_tag(sf_dir))
    with build_artifacts():
        assigned = similarity.kmeans_assign(
            fan_out(e, spark), n_clusters=16, train_iters=1)
        # per-centroid means in ONE aggregate pass: dims
        # avg(element_at) columns instead of a dims-x row posexplode
        # blowup through two aggregates + a collect_list re-assembly
        # (r14, guide §2.2 — same shape as the Lloyd means inside
        # kmeans_assign). dims probe is one bounded head() row.
        head = e.select(F.col("embedding")).head()
        dims = len(head["embedding"]) if head else 0
        cents = (assigned.join(
            e.select("vec_id", similarity.as_double(F.col("embedding"))
                     .alias("__v")), "vec_id")
            .groupBy("cluster_id")
            .agg(F.array(*[
                F.avg(F.element_at(F.col("__v"), i + 1))
                for i in range(dims)]).alias("centroid")))
        publish_aux(
            assigned.select(F.col("vec_id").cast("long").alias("vec_id"),
                            F.col("cluster_id").cast("long")
                            .alias("cluster_id"))
            .join(F.broadcast(cents), "cluster_id")
            .select("vec_id", "cluster_id", "centroid"),
            aux)
    ap = spark.read.parquet(aux)
    s = (ap.join(e.select("vec_id",
                          similarity.as_double(F.col("embedding"))
                          .alias("__v")), "vec_id")
         .select("vec_id", F.col("cluster_id").cast("long")
                 .alias("cluster_id"),
                 (similarity.dot(F.col("__v"), F.col("centroid"))
                  / (similarity.l2norm(F.col("__v"))
                     * similarity.l2norm(F.col("centroid"))))
                 .alias("cos_centroid")))
    cut = F.broadcast(
        s.agg(F.expr("percentile(cos_centroid, 0.05)").alias("__p5")))
    return (s.crossJoin(cut)
            .select("vec_id", "cluster_id", "cos_centroid",
                    F.when(F.col("cos_centroid") < F.col("__p5"), 1)
                    .otherwise(0).cast("int").alias("is_outlier")))


# ---------------------------------------------------------------------------
# streaming SemDeDup: per-batch dedup against the already-ingested corpus
# ---------------------------------------------------------------------------

@register(
    "q_stream_semantic_dedup",
    oracle=f"""
    WITH e AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      UNION ALL
      SELECT CAST(vec_id + 10000 AS BIGINT),
             list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 3 = 0
    ),
    seeds AS (
      SELECT cid, emb FROM (
        SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM e WHERE vec_id % 3 = 0
      ) WHERE cid < 8
    ),
    d AS (
      SELECT e.vec_id, s.cid,
             round(list_sum(list_transform(list_zip(e.emb, s.emb),
                   x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS d2
      FROM e CROSS JOIN seeds s
    ),
    a AS (
      SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, cid ASC) AS r
      FROM d
    ),
    m AS (
      SELECT e.vec_id, e.vec_id % 3 AS batch_id, a.cluster_id, e.emb,
             sqrt(list_sum(list_transform(e.emb, x -> x*x))) AS nrm
      FROM e JOIN a ON e.vec_id = a.vec_id AND a.r = 1
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, min(p.vec_id) AS dup_of
      FROM m b JOIN m p
        ON p.cluster_id = b.cluster_id
       AND (p.batch_id < b.batch_id
            OR (p.batch_id = b.batch_id AND p.vec_id < b.vec_id))
      WHERE list_sum(list_transform(list_zip(p.emb, b.emb),
                                    x -> x[1]*x[2])) / (p.nrm * b.nrm)
            >= 0.95
      GROUP BY b.vec_id
    )
    SELECT m.vec_id, CAST(m.batch_id AS BIGINT) AS batch_id,
           m.cluster_id,
           CAST(CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS INT)
             AS kept,
           CAST(dup.dup_of AS BIGINT) AS dup_of
    FROM m LEFT JOIN dup USING (vec_id)
    """,
    survey_ref="training-data dedup x streaming: SemDeDup against the "
               "LIVE corpus — each arriving batch assigns to the stored "
               "codebook and near-dups only against stored members of "
               "its clusters (plus earlier rows of its own batch); the "
               "embedding analog of the incremental MinHash dedup and "
               "the third member of the streaming-index family",
    doc="3 vec_id%3 batches (clones at +10000 land one batch after "
        "their source: cross-batch dups are exercised) through "
        "incremental_semantic_dedup, replayed batch no-ops; drop "
        "status never feeds back, so the accumulated verdicts must "
        "equal DuckDB's one-shot (batch, id)-ordered computation",
)
def q_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import incremental_semantic_dedup
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
        aug = e.unionByName(
            e.filter(F.col("vec_id") % 3 == 0)
             .withColumn("vec_id", F.col("vec_id") + 10000))
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="semdd_"))
        for b in range(3):
            incremental_semantic_dedup(
                store, aug.filter(F.col("vec_id") % 3 == b),
                batch_id=b, n_centroids=8, threshold=0.95)
        incremental_semantic_dedup(  # replay: must no-op
            store, aug.filter(F.col("vec_id") % 3 == 1),
            batch_id=1, n_centroids=8, threshold=0.95)
        return (store.read("semdedup_verdicts"),)

    (v,) = _cached_pipeline("semdd", spark, sf_dir, build)
    return v.select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("batch_id").cast("long").alias("batch_id"),
                    F.col("cluster_id").cast("long").alias("cluster_id"),
                    F.col("kept").cast("int").alias("kept"),
                    F.col("dup_of").cast("long").alias("dup_of"))


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules (Rae et al. 2021, table A1)
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "a", "of", "to", "in", "and")


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, {_NORM.format(col='text')} AS t FROM documents
    ), w AS (
      SELECT doc_id, t, string_split(t, ' ') AS words,
             CAST(len(replace(t, ' ', '')) AS BIGINT) AS chars
      FROM n
    ), m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             chars * 1000000 // len(words) AS mean_wlen_ppm,
             CAST(len(list_filter(words, x ->
                 list_contains({list(_GOPHER_STOPS)}, x))) AS BIGINT)
               AS stop_hits,
             CAST(len(list_filter(words, x ->
                 regexp_matches(x, '[a-z]'))) AS BIGINT) * 1000000
               // len(words) AS alpha_ppm
      FROM w
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_words, mean_wlen_ppm,
           stop_hits, alpha_ppm,
           CAST(CASE WHEN n_words BETWEEN 30 AND 10000
                      AND mean_wlen_ppm BETWEEN 3000000 AND 10000000
                      AND stop_hits >= 2
                      AND alpha_ppm >= 800000
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM m
    """,
    survey_ref="training-data curation: Gopher rule filter (Rae et al. "
               "2021 Table A1 subset) — word-count bounds, mean word "
               "length bounds, stop-word presence, alphabetic-word "
               "ratio as one composite keep decision",
    doc="pure-expression per-doc rule evaluation (split + list_filter "
        "counts, integer-ppm ratios); one scan, no shuffle, no UDF",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four rules evaluate inside whole-stage codegen on a single
    scan of documents (no shuffle at any scale): array higher-order
    functions give the per-word counts, and every ratio is integer
    ppm with floor division so the keep decision is bit-identical on
    any engine. The thresholds are the Gopher paper's, adapted to the
    fixture's synthetic prose (word-count floor 30)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    base = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                    norm.alias("t"),
                    F.split(norm, " ").alias("words"))
    m = base.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.expr("length(replace(t, ' ', '')) * cast(1000000 as bigint)"
               " div size(words)").alias("mean_wlen_ppm"),
        F.size(F.filter("words",
                        lambda x: x.isin(*_GOPHER_STOPS)))
         .cast("long").alias("stop_hits"),
        (F.size(F.filter("words", lambda x: x.rlike("[a-z]")))
         .cast("long") * F.lit(1_000_000).cast("long")).alias("__a"),
    ).withColumn("alpha_ppm", F.expr("__a div n_words")).drop("__a")
    kept = (F.col("n_words").between(30, 10000)
            & F.col("mean_wlen_ppm").between(3_000_000, 10_000_000)
            & (F.col("stop_hits") >= 2)
            & (F.col("alpha_ppm") >= 800_000))
    return m.withColumn("kept", kept.cast("int"))


# ---------------------------------------------------------------------------
# audio modality: WAV/PCM binary -> decoded signal features
# ---------------------------------------------------------------------------

@register(
    "q_audio_features",
    oracle="""
    WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
    ns AS (SELECT did, 64 + did % 129 AS n FROM ids),
    -- generate_series takes no lateral column args; n <= 192 is
    -- bounded by construction, so a fixed grid + filter is equivalent
    ts AS (
      SELECT did, n, tt.t AS t
      FROM ns CROSS JOIN generate_series(0, 192) AS tt(t)
      WHERE tt.t < n
    ),
    s AS (
      SELECT did, n, t,
             (did * 5 + t * 13) % 256 - 128 AS dev,
             CASE WHEN (did * 5 + t * 13) % 256 - 128 >= 0
                  THEN 1 ELSE 0 END AS sgn,
             CASE WHEN (did * 5 + (t - 1) * 13) % 256 - 128 >= 0
                  THEN 1 ELSE 0 END AS prev_sgn
      FROM ts
    ),
    agg AS (
      SELECT did, n,
             sum(dev * dev) AS energy,
             sum(CASE WHEN t >= 1 AND sgn <> prev_sgn
                      THEN 1 ELSE 0 END) AS zc,
             max(abs(dev)) AS peak
      FROM s GROUP BY did, n
    )
    SELECT did AS doc_id, CAST(8000 AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(energy * 1000000 // n AS BIGINT) AS energy_ppm,
           CAST(zc AS BIGINT) AS zero_crossings,
           CAST(peak AS INT) AS peak_dev
    FROM agg
    """,
    survey_ref="training-data multimodal: REAL audio decode in-container "
               "— RIFF/WAVE chunk-walk + PCM signal features complete "
               "the image(netpbm)/audio(wav)/video(frame-sample) "
               "binary-column family",
    doc="deterministic 8-bit PCM WAV payloads per doc_id -> struct-"
        "packed RIFF encode -> chunk-walk decode -> integer energy-ppm "
        "/ zero-crossing / peak features; DuckDB recomputes from the "
        "closed-form sample formula alone, hash-gating the whole byte "
        "round-trip",
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_multimodal_decode for the audio column
    family: payload bytes are REAL WAV files (canonical 44-byte
    header) built and parsed by pure-Python kernels, the features are
    all-integer, and the mapInPandas batch shape is exactly what a
    mel-spectrogram extractor would use at 100 TB — blobs scanned
    once, features shuffled never."""
    from .operators.multimodal import audio_features, generate_wav_payloads
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    payloads = generate_wav_payloads(
        d.select(F.col("doc_id").cast("long").alias("doc_id")))
    return audio_features(payloads)


# ---------------------------------------------------------------------------
# video modality: concatenated-netpbm stream -> real frame sample -> stats
# ---------------------------------------------------------------------------

@register(
    "q_video_frames",
    oracle="""
    WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
    nf AS (SELECT did, 3 + did % 6 AS n_frames FROM ids),
    -- fixed grids + filters (n_frames <= 8, w <= 8, h <= 6 bounded by
    -- construction; generate_series takes no lateral column args)
    fr AS (
      SELECT did, ff.f AS f,
             4 + (did + ff.f) % 5 AS w, 3 + (did + ff.f) % 4 AS h
      FROM nf CROSS JOIN generate_series(0, 8) AS ff(f)
      WHERE ff.f < n_frames AND ff.f % 2 = 0
    ),
    px AS (
      SELECT did, f, w, h, yy.y AS y, xx.x AS x
      FROM fr
      CROSS JOIN generate_series(0, 5) AS yy(y)
      CROSS JOIN generate_series(0, 7) AS xx(x)
      WHERE yy.y < h AND xx.x < w
    ),
    sums AS (
      SELECT did, f, w, h,
             sum((did * 1 + 13 * f + 7 * y + 11 * x) % 256) AS s_r,
             sum((did * 2 + 13 * f + 7 * y + 11 * x) % 256) AS s_g,
             sum((did * 3 + 13 * f + 7 * y + 11 * x) % 256) AS s_b
      FROM px GROUP BY did, f, w, h
    )
    SELECT did AS doc_id, CAST(f AS INT) AS frame_index, 'ppm' AS format,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(s_r * 1000000 // (w * h) AS BIGINT) AS mean_r_ppm,
           CAST(s_g * 1000000 // (w * h) AS BIGINT) AS mean_g_ppm,
           CAST(s_b * 1000000 // (w * h) AS BIGINT) AS mean_b_ppm
    FROM sums
    """,
    survey_ref="training-data multimodal: REAL video frame-sampling — "
               "concatenated-netpbm stream split by walking actual "
               "frame headers (ffmpeg image2pipe framing), every 2nd "
               "frame decoded to channel stats; closes the last "
               "fixed-stride slicing stub in the binary-column family",
    doc="deterministic multi-frame P6 streams per doc_id -> header-walk "
        "frame split -> every-2nd-frame sample -> pure-Python pixel "
        "decode -> integer-ppm channel means; DuckDB recomputes from "
        "the closed-form frame formula alone",
)
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full video plumbing chain is real byte work: frames are
    found by PARSING headers (not fixed offsets), each sampled frame
    re-enters the standard image kernel, and every statistic is
    integer. frame_index rides through the per-image stats kernel as
    a composite id (frame_index <= 8 < 16), the zero-extra-shuffle
    way to keep a two-column key on a one-key kernel."""
    from .operators.multimodal import (generate_video_payloads,
                                       image_channel_stats,
                                       sample_video_frames)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    vids = generate_video_payloads(
        d.select(F.col("doc_id").cast("long").alias("doc_id")))
    frames = sample_video_frames(vids, every_n=2)
    comp = frames.select(
        (F.col("doc_id") * 16 + F.col("frame_index")).alias("doc_id"),
        F.col("frame_payload").alias("payload"))
    stats = image_channel_stats(comp)
    return stats.select(
        F.expr("doc_id div 16").cast("long").alias("doc_id"),
        (F.col("doc_id") % 16).cast("int").alias("frame_index"),
        "format", "width", "height",
        "mean_r_ppm", "mean_g_ppm", "mean_b_ppm")


# ---------------------------------------------------------------------------
# image perceptual near-dup: dHash -> pigeonhole banding -> hamming
# ---------------------------------------------------------------------------

# band-bucket cap at gate scale so the cap path provably engages
# (production corpora set this in the hundreds; a pair lost to the cap
# is still found through any other small band, same semantics as the
# SimHash cap). Pair work is bounded by bands x sum(min(bucket, cap)^2)
# <= N x bands x cap — never all-pairs.
_IMG_CAP = 4


def _image_neardup_oracle(sf_dir: str) -> str:
    """DuckDB half of the dHash handshake: re-derive BOTH the exact
    near-dup set (uncapped banding is lossless ground truth by
    pigeonhole — 7 bands over 63 bits find every pair within hamming
    6 > threshold 3) and the bucket-capped set from the published
    (img_id, dhash) dump. The dHash kernel itself is pinned by unit
    tests on closed-form images; the oracle gates the banding, cap,
    and verify algebra bit for bit."""
    aux = _aux("q_image_neardup", _sf_tag(sf_dir))
    return f"""
    WITH fp AS (
      SELECT CAST(img_id AS BIGINT) AS img_id,
             CAST(dhash AS BIGINT) AS dhash
      FROM read_parquet('{aux}/*.parquet')
    ), bands AS (
      SELECT img_id, dhash, g.b AS band, (dhash >> (g.b * 9)) & 511 AS bv
      FROM fp, UNNEST(generate_series(0, 6)) AS g(b)
    ), bands4 AS (
      -- exact side at MINIMUM pigeonhole banding (hamming+1 = 4 bands,
      -- w = 15): same lossless pair set, 2^6x lower bucket occupancy
      -- (finding 34)
      SELECT img_id, dhash, g.b AS band,
             (dhash >> (g.b * 15)) & 32767 AS bv
      FROM fp, UNNEST(generate_series(0, 3)) AS g(b)
    ), exact_pairs AS (
      SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
      FROM bands4 a JOIN bands4 b
        ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    ), counted AS (
      SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn FROM bands
    ), kept AS (
      SELECT * FROM counted WHERE bn <= {_IMG_CAP}
    ), capped_pairs AS (
      SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    ), kept_auto AS (
      -- occupancy-adaptive cap: max(4, ceil(4 * N / 2^9)) in exact
      -- integer arithmetic, same formula as dedup.AUTO_CAP_* policy
      SELECT * FROM counted
      WHERE bn <= GREATEST(4, (4 * (SELECT count(*) FROM fp) + 511) // 512)
    ), auto_pairs AS (
      SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b
      FROM kept_auto a JOIN kept_auto b
        ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    )
    SELECT e.id_a, e.id_b, e.hamming,
           CAST(CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS INT) AS banded,
           CAST(CASE WHEN au.id_a IS NULL THEN 0 ELSE 1 END AS INT)
             AS banded_auto
    FROM exact_pairs e
    LEFT JOIN capped_pairs c USING (id_a, id_b)
    LEFT JOIN auto_pairs au USING (id_a, id_b)
    """


def _image_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared image-dedup corpus: noise images per document plus exact
    copies (every 3rd doc) and 3x3-patched clones (every 5th), decoded
    and dHashed. Checkpointed + session-memoized: the batch gate and
    the streaming index gate score the SAME fingerprint table, and the
    checkpoint keeps the narrow generate->decode->hash chain parallel
    (publish_aux's single-writer coalesce would otherwise collapse it
    onto one task — measured 7.6 s -> 5.3 s)."""
    from .operators.multimodal import dhash63, generate_noise_ppm
    from .queries_bmp import _cached_pipeline

    def build(spark):
        d = load_tables(spark, sf_dir, ("documents",))["documents"] \
            .select(F.col("doc_id").cast("long").alias("doc_id"))
        base = d.select(F.col("doc_id").alias("img_id"),
                        F.col("doc_id").alias("base_id"),
                        F.lit(False).alias("patched"))
        copies = d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("img_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(False).alias("patched"))
        patched = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 200000).alias("img_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(True).alias("patched"))
        imgs = generate_noise_ppm(
            fan_out(base.unionByName(copies).unionByName(patched), spark))
        return (dhash63(imgs, id_col="img_id"),)

    (fp,) = _cached_pipeline("imgfp", spark, sf_dir, build)
    return fp


@register(
    "q_image_neardup",
    oracle=_image_neardup_oracle,
    survey_ref="training-data multimodal dedup: perceptual-hash image "
               "near-duplicates — dHash over REAL decoded pixels, "
               "banded like SimHash (pigeonhole), bucket-capped, "
               "hamming-verified; completes the dedup story for the "
               "image modality",
    doc="noise-image corpus + exact copies (every 3rd doc) + patched "
        "clones (every 5th, 3x3 edit) -> dhash63 Arrow kernel -> "
        "(img_id, dhash) handoff -> output is every TRUE pair "
        "(hamming<=3) flagged with whether the fixed-cap banding kept "
        "it AND whether the occupancy-adaptive auto cap (max(4, "
        "ceil(4N/2^w)), same integer formula both engines) kept it, "
        "so the driver hash pins per-pair recall of BOTH cap "
        "policies, not just a scalar",
)
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production path is the capped banding (fingerprint_neardup
    _pairs; N x bands x cap pair bound); the uncapped exact side is
    the gate's ground truth and stays an equi-join too (pigeonhole:
    with bands > max_hamming the band join loses nothing), so even
    the gate never goes all-pairs."""
    from .operators.dedup import fingerprint_neardup_pairs

    fp = _image_fingerprints(spark, sf_dir)
    aux = _aux("q_image_neardup", _sf_tag(sf_dir))
    publish_aux(fp.select("img_id", "dhash"), aux)
    fpd = spark.read.parquet(aux)
    # exact ground truth at minimum pigeonhole banding (finding 34:
    # fewer bands = wider w = 64x lower occupancy, same lossless set,
    # measured 2.4x at 77k fps); the capped policies keep 7 bands —
    # band redundancy is what a drop-cap trades against
    exact = fingerprint_neardup_pairs(
        fpd, "img_id", "dhash", bits=60, bands=4, max_hamming=3,
        max_bucket_size=None)
    capped = fingerprint_neardup_pairs(
        fpd, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size=_IMG_CAP)
    auto = fingerprint_neardup_pairs(
        fpd, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size="auto")
    return (
        exact.join(capped.select("id_a", "id_b")
                   .withColumn("__kept", F.lit(1)),
                   ["id_a", "id_b"], "left")
        .join(auto.select("id_a", "id_b")
              .withColumn("__kepta", F.lit(1)),
              ["id_a", "id_b"], "left")
        .select("id_a", "id_b", "hamming",
                F.coalesce(F.col("__kept"), F.lit(0)).cast("int")
                 .alias("banded"),
                F.coalesce(F.col("__kepta"), F.lit(0)).cast("int")
                 .alias("banded_auto"))
    )


def _stream_image_oracle(sf_dir: str) -> str:
    """Exact uncapped near-dup set from the streaming query's own
    fingerprint dump — by pigeonhole this equals what the incremental
    index must have accumulated after all batches (and a replayed
    batch would double pairs and hash-mismatch, so exactly-once is
    part of what the gate pins)."""
    aux = _aux("q_stream_image_dedup", _sf_tag(sf_dir))
    return f"""
    WITH fp AS (
      SELECT CAST(img_id AS BIGINT) AS img_id,
             CAST(dhash AS BIGINT) AS dhash
      FROM read_parquet('{aux}/*.parquet')
    ), bands AS (
      SELECT img_id, dhash, g.b AS band, (dhash >> (g.b * 9)) & 511 AS bv
      FROM fp, UNNEST(generate_series(0, 6)) AS g(b)
    )
    SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """


@register(
    "q_stream_image_dedup",
    oracle=_stream_image_oracle,
    survey_ref="training-data multimodal dedup x streaming: incremental "
               "dHash band index through the transactional store (the "
               "image twin of q_stream_doc_dedup's MinHash index; "
               "exactly-once via batch txn actions)",
    doc="images arrive in two micro-batches; each batch dHash-bands "
        "only its own images (O(batch)), joins them against the "
        "persisted index union themselves, hamming-verifies, and "
        "commits bands+pairs atomically (a replayed batch is a no-op); "
        "the accumulated pair set must equal the batch-built uncapped "
        "exact set derived by both engines from the fingerprint dump",
)
def q_stream_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import incremental_fingerprint_pairs
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        fp = _image_fingerprints(spark, sf_dir)
        aux = _aux("q_stream_image_dedup", _sf_tag(sf_dir))
        publish_aux(fp.select("img_id", "dhash"), aux)
        fpd = spark.read.parquet(aux)
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="imgidx_"))
        b1 = fpd.filter(F.col("img_id") % 2 == 0)
        b2 = fpd.filter(F.col("img_id") % 2 == 1)
        kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size=None)
        incremental_fingerprint_pairs(store, b1, "img_id", "dhash",
                                      batch_id=0, **kw)
        incremental_fingerprint_pairs(store, b2, "img_id", "dhash",
                                      batch_id=1, **kw)
        # a compaction commit INSIDE the gate (finding 32): pair output
        # is unchanged by compaction, so the oracle needs no knowledge
        # of it — but a compaction that corrupted the index or broke
        # the replay guard would hash-mismatch here
        store.optimize("img_bands")
        incremental_fingerprint_pairs(store, b1, "img_id", "dhash",
                                      batch_id=0, **kw)  # replay: no-op
        return (store.read("img_pairs"),)

    (pairs,) = _cached_pipeline("imgidx", spark, sf_dir, build)
    return pairs.select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# audio perceptual near-dup: energy-envelope fingerprint -> banding
# ---------------------------------------------------------------------------

def _audio_neardup_oracle(sf_dir: str) -> str:
    """DuckDB half of the audio-fingerprint handshake: re-derive the
    exact near-dup set (uncapped banding is lossless ground truth by
    pigeonhole) AND the occupancy-adaptive auto-capped set from the
    published (aud_id, afp) dump. The energy-envelope kernel itself is
    pinned by unit tests on closed-form clips; the oracle gates the
    banding, the integer auto-cap formula, and the verify algebra bit
    for bit."""
    aux = _aux("q_audio_neardup", _sf_tag(sf_dir))
    return f"""
    WITH fp AS (
      SELECT CAST(aud_id AS BIGINT) AS aud_id,
             CAST(afp AS BIGINT) AS afp
      FROM read_parquet('{aux}/*.parquet')
    ), bands AS (
      SELECT aud_id, afp, g.b AS band, (afp >> (g.b * 9)) & 511 AS bv
      FROM fp, UNNEST(generate_series(0, 6)) AS g(b)
    ), bands4 AS (
      -- exact side at minimum pigeonhole banding (finding 34)
      SELECT aud_id, afp, g.b AS band, (afp >> (g.b * 15)) & 32767 AS bv
      FROM fp, UNNEST(generate_series(0, 3)) AS g(b)
    ), exact_pairs AS (
      SELECT DISTINCT a.aud_id AS id_a, b.aud_id AS id_b,
             CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
      FROM bands4 a JOIN bands4 b
        ON a.band = b.band AND a.bv = b.bv AND a.aud_id < b.aud_id
      WHERE bit_count(xor(a.afp, b.afp)) <= 3
    ), kept_auto AS (
      -- same integer auto-cap law as dedup.AUTO_CAP_*: max(4,
      -- ceil(4 * N / 2^9)) with N = fingerprint count
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bv) AS bn FROM bands)
      WHERE bn <= GREATEST(4, (4 * (SELECT count(*) FROM fp) + 511) // 512)
    ), auto_pairs AS (
      SELECT DISTINCT a.aud_id AS id_a, b.aud_id AS id_b
      FROM kept_auto a JOIN kept_auto b
        ON a.band = b.band AND a.bv = b.bv AND a.aud_id < b.aud_id
      WHERE bit_count(xor(a.afp, b.afp)) <= 3
    )
    SELECT e.id_a, e.id_b, e.hamming,
           CAST(CASE WHEN au.id_a IS NULL THEN 0 ELSE 1 END AS INT)
             AS banded_auto
    FROM exact_pairs e
    LEFT JOIN auto_pairs au USING (id_a, id_b)
    """


def _audio_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared audio-dedup corpus: noise clips per document plus exact
    copies (every 3rd doc) and first-two-window perturbed clones
    (every 5th), encoded as real PCM WAV, decoded and fingerprinted
    by the energy-envelope kernel. Session-memoized like the image
    corpus so a streaming twin could score the same table."""
    from .operators.multimodal import audio_fingerprint63, generate_noise_wav
    from .queries_bmp import _cached_pipeline

    def build(spark):
        d = load_tables(spark, sf_dir, ("documents",))["documents"] \
            .select(F.col("doc_id").cast("long").alias("doc_id"))
        base = d.select(F.col("doc_id").alias("aud_id"),
                        F.col("doc_id").alias("base_id"),
                        F.lit(False).alias("perturbed"))
        copies = d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("aud_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(False).alias("perturbed"))
        pert = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 200000).alias("aud_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(True).alias("perturbed"))
        clips = generate_noise_wav(
            fan_out(base.unionByName(copies).unionByName(pert), spark))
        return (audio_fingerprint63(clips, id_col="aud_id"),)

    (fp,) = _cached_pipeline("audfp", spark, sf_dir, build)
    return fp


@register(
    "q_audio_neardup",
    oracle=_audio_neardup_oracle,
    survey_ref="training-data multimodal dedup: perceptual audio "
               "near-duplicates — energy-envelope fingerprint over "
               "REAL decoded PCM (the temporal analog of dHash), "
               "through the SAME banded core as text/image, with the "
               "occupancy-adaptive auto cap",
    doc="noise-clip corpus + exact copies (every 3rd doc) + perturbed "
        "clones (every 5th, first-16-samples edit) -> "
        "audio_fingerprint63 Arrow kernel -> (aud_id, afp) handoff -> "
        "output is every TRUE pair (hamming<=3) flagged with whether "
        "the auto-capped banding kept it, pinning the cap policy "
        "hash-exactly on a second modality",
)
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path = auto-capped banding (N x bands x cap pair
    bound with the cap tracking occupancy); the uncapped exact side is
    ground truth and stays an equi-join (pigeonhole losslessness)."""
    from .operators.dedup import fingerprint_neardup_pairs

    fp = _audio_fingerprints(spark, sf_dir)
    aux = _aux("q_audio_neardup", _sf_tag(sf_dir))
    publish_aux(fp.select("aud_id", "afp"), aux)
    fpd = spark.read.parquet(aux)
    # minimum pigeonhole banding for the exact side (finding 34)
    exact = fingerprint_neardup_pairs(
        fpd, "aud_id", "afp", bits=60, bands=4, max_hamming=3,
        max_bucket_size=None)
    auto = fingerprint_neardup_pairs(
        fpd, "aud_id", "afp", bits=63, bands=7, max_hamming=3,
        max_bucket_size="auto")
    return (
        exact.join(auto.select("id_a", "id_b")
                   .withColumn("__kepta", F.lit(1)),
                   ["id_a", "id_b"], "left")
        .select("id_a", "id_b", "hamming",
                F.coalesce(F.col("__kepta"), F.lit(0)).cast("int")
                 .alias("banded_auto"))
    )


# ---------------------------------------------------------------------------
# video perceptual near-dup: per-frame dHash sets -> frameset banding
# ---------------------------------------------------------------------------

def _video_neardup_oracle(sf_dir: str) -> str:
    """DuckDB half of the video handshake: from the published
    (vid_id, frame_index, dhash) dump, band every frame hash, join
    across videos, Hamming-verify frame pairs, and aggregate to
    per-video-pair (min frame distance, matching-frame count) — the
    exact algebra of ``frameset_neardup_pairs``."""
    return _frameset_oracle_sql(_aux("q_video_neardup", _sf_tag(sf_dir)))


def _frameset_oracle_sql(aux: str) -> str:
    return f"""
    WITH fp AS (
      SELECT CAST(vid_id AS BIGINT) AS vid_id,
             CAST(frame_index AS INT) AS f,
             CAST(dhash AS BIGINT) AS dhash
      FROM read_parquet('{aux}/*.parquet')
    ), bands AS (
      -- minimum pigeonhole banding (finding 34): the whole gate is
      -- uncapped ground truth, so hamming+1 = 4 bands suffice
      SELECT vid_id, f, dhash,
             g.b AS band, (dhash >> (g.b * 15)) & 32767 AS bv
      FROM fp, UNNEST(generate_series(0, 3)) AS g(b)
    ), hits AS (
      SELECT DISTINCT a.vid_id AS id_a, b.vid_id AS id_b,
             a.f AS fa, b.f AS fb,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.vid_id < b.vid_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    )
    SELECT id_a, id_b,
           CAST(min(hamming) AS INT) AS min_hamming,
           CAST(count(*) AS BIGINT) AS n_hit_frames
    FROM hits GROUP BY 1, 2
    """


def _video_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared video-dedup corpus: 4-frame noise videos per document
    plus exact copies (every 3rd doc) and re-encode-artifact clones
    (every 5th: frame 0 patched, frames 1-3 exact), run through the
    REAL frame splitter and per-frame dHash. Frame identity rides a
    composite id through the flat dhash kernel (vid*16+frame) and is
    unpacked after."""
    from .operators.multimodal import (
        dhash63,
        generate_noise_video,
        sample_video_frames,
    )
    from .queries_bmp import _cached_pipeline

    def build(spark):
        # every 2nd doc: the 4-frame generate->split->dhash chain is
        # the gate's dominant cost (build 11.6 s vs join 3.1 s at
        # sf0.1) and is synthetic-corpus work a real deployment never
        # pays — half the docs keeps hundreds of gate pairs at sf0.01
        d = load_tables(spark, sf_dir, ("documents",))["documents"] \
            .select(F.col("doc_id").cast("long").alias("doc_id")) \
            .filter(F.col("doc_id") % 2 == 0)
        base = d.select(F.col("doc_id").alias("vid_id"),
                        F.col("doc_id").alias("base_id"),
                        F.lit(False).alias("edited"))
        copies = d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("vid_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(False).alias("edited"))
        edited = d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 200000).alias("vid_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(True).alias("edited"))
        vids = generate_noise_video(
            fan_out(base.unionByName(copies).unionByName(edited), spark))
        frames = sample_video_frames(vids, id_col="vid_id", every_n=1)
        fid = frames.select(
            (F.col("doc_id") * 16 + F.col("frame_index")).alias("fid"),
            F.col("frame_payload").alias("payload"))
        h = dhash63(fid, id_col="fid")
        return (h.select(
            F.expr("fid div 16").alias("vid_id"),
            F.expr("fid % 16").cast("int").alias("frame_index"),
            "dhash"),)

    (fp,) = _cached_pipeline("vidfp", spark, sf_dir, build)
    return fp


@register(
    "q_video_neardup",
    oracle=_video_neardup_oracle,
    survey_ref="training-data multimodal dedup: per-frame perceptual "
               "video near-duplicates — REAL netpbm-stream frame "
               "splitting, per-frame dHash, set-vs-set banded match "
               "(any frame pair within hamming 3); completes the dedup "
               "story across text/image/audio/video",
    doc="4-frame noise videos + exact copies (every 3rd doc) + "
        "frame-0-patched clones (every 5th) -> sample_video_frames -> "
        "per-frame dhash63 -> (vid_id, frame_index, dhash) handoff -> "
        "frameset_neardup_pairs emits per video pair the min frame "
        "hamming and the matching-frame count, both hash-pinned",
)
def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band join runs over frame fingerprints (sum of frames
    rows, a small constant per video), never payloads; the per-pair
    rollup is one map-side-combinable aggregate. Same N x bands x cap
    bound as the flat operator when the cap engages (gate runs
    uncapped: pigeonhole ground truth)."""
    from .operators.dedup import frameset_neardup_pairs

    fp = _video_fingerprints(spark, sf_dir)
    aux = _aux("q_video_neardup", _sf_tag(sf_dir))
    publish_aux(fp.select("vid_id", "frame_index", "dhash"), aux)
    fpd = spark.read.parquet(aux)
    return frameset_neardup_pairs(
        fpd, "vid_id", "frame_index", "dhash",
        bits=60, bands=4, max_hamming=3, max_bucket_size=None) \
        .select("id_a", "id_b", "min_hamming",
                F.col("n_hit_frames").cast("long").alias("n_hit_frames"))


def _stream_video_oracle(sf_dir: str) -> str:
    """Batch-built frameset ground truth from the streaming query's
    own frame-fingerprint dump: by the videos-arrive-whole contract
    this equals what the incremental frameset index must have
    accumulated after all batches — including each pair's COMPLETE
    (min_hamming, n_hit_frames) aggregate, which forms entirely in
    the younger member's batch. A replayed batch would double pairs
    and hash-mismatch, so exactly-once is part of what the gate
    pins."""
    return _frameset_oracle_sql(_aux("q_stream_video_dedup",
                                     _sf_tag(sf_dir)))


@register(
    "q_stream_video_dedup",
    oracle=_stream_video_oracle,
    survey_ref="training-data multimodal dedup x streaming: incremental "
               "per-frame dHash band index through the transactional "
               "store — completes the streaming dedup matrix "
               "(documents/images/audio fingerprints are flat; video is "
               "the frameset member, join unit = frame pairs); "
               "exactly-once via batch txn actions",
    doc="videos arrive whole in two micro-batches; each batch bands "
        "only its own frames (O(batch)), joins them against the "
        "persisted frame index union themselves, hamming-verifies "
        "frame pairs, aggregates per video pair, and commits "
        "bands+pairs atomically (a replayed batch is a no-op); the "
        "accumulated pairs table must equal the batch-built uncapped "
        "frameset set derived by both engines from the dump",
)
def q_stream_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import incremental_frameset_pairs
    from .queries_bmp import _cached_pipeline

    def build(spark):
        import tempfile

        from .state import TxnStateStore

        fp = _video_fingerprints(spark, sf_dir)
        aux = _aux("q_stream_video_dedup", _sf_tag(sf_dir))
        publish_aux(fp.select("vid_id", "frame_index", "dhash"), aux)
        fpd = spark.read.parquet(aux)
        store = TxnStateStore(spark, tempfile.mkdtemp(prefix="vididx_"))
        # split at VIDEO granularity: frames ride with their video
        b1 = fpd.filter(F.col("vid_id") % 2 == 0)
        b2 = fpd.filter(F.col("vid_id") % 2 == 1)
        # gate runs uncapped at minimum pigeonhole banding (finding
        # 34) = lossless exact parity with the batch operator
        kw = dict(bits=60, bands=4, max_hamming=3, max_bucket_size=None)
        incremental_frameset_pairs(
            store, b1, "vid_id", "frame_index", "dhash",
            batch_id=0, **kw)
        incremental_frameset_pairs(
            store, b2, "vid_id", "frame_index", "dhash",
            batch_id=1, **kw)
        store.optimize("vid_bands")  # a mid-stream compaction commit
        incremental_frameset_pairs(
            store, b1, "vid_id", "frame_index", "dhash",
            batch_id=0, **kw)  # replay: no-op
        return (store.read("vid_pairs"),)

    (pairs,) = _cached_pipeline("vididx", spark, sf_dir, build)
    return pairs.select(
        "id_a", "id_b", "min_hamming",
        F.col("n_hit_frames").cast("long").alias("n_hit_frames"))
