"""Deduplication operators.

BMP-domain use: last-write-wins state compression before upsert
(reference: WriterRunnable.java:140-153 keyed values map; the
intended DISTINCT ON semantics in UnicastPrefixQuery.java:29-34) and
the base-attribute dedup cache (ConsumerRunnable.java:485-501).

Training-data use: exact and near-duplicate document removal at
100 TB. Everything here is DataFrame algebra — shuffles hash on
the dedup key, map-side partial aggregation applies, and no Python
UDF sits in the hot path (MinHash/SimHash are built from md5/xxhash64
column expressions, evaluated JVM-side inside whole-stage codegen).
The only driver-side step is ``connected_components``' rounds under
``graph.CC_DRIVER_MAX_EDGES``, in the numpy graph kernel that label
propagation and PageRank share (``graph.py``). Wide projections are
parsed SQL strings: built as Column algebra, every expression node
costs the driver several py4j round trips.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..state import index_step
from . import graph
from .cache import owned_persist


def dedup_latest(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Keep exactly one row per key, the first under ``order_by``.

    Equivalent of ``DISTINCT ON (keys) ... ORDER BY keys, order_by``
    (UnicastPrefixQuery.java:29-34) and of the writer's within-batch
    state compression (WriterRunnable.java:140-153).

    Scale: one shuffle on ``keys``; with AQE skew-join/partition
    coalescing this is the minimal plan. Prefer this over
    ``dropDuplicates`` when "which row survives" matters.
    """
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection for text corpora (training-data pipeline ops)
# ---------------------------------------------------------------------------

def shingle(col: str, n: int = 3) -> Column:
    """Word n-gram shingles of the text column named ``col`` as
    array<string>.

    Uses sliding windows over the whitespace-token array — pure
    column expressions (transform/slice), no UDF. Built as one parsed
    expression (see ``minhash_aggregates``): as Column algebra with a
    Python lambda it cost ~90 py4j calls per use.
    """
    toks = rf"split(trim(regexp_replace(`{col}`, '\\s+', ' ')), ' ')"
    ncount = f"greatest(size({toks}) - {n - 1}, 0)"
    # n shifted slices zipped together: O(tokens) per doc. The naive
    # per-position slice (transform(sequence, i -> slice(toks, i, n)))
    # is O(tokens^2) and measured ~7x slower on real documents.
    parts = ", ".join(f"slice({toks}, {i + 1}, {ncount})" for i in range(n))
    words = ", ".join(f"s['{i}']" for i in range(n))
    return F.expr(f"transform(arrays_zip({parts}), s -> concat_ws(' ', {words}))")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, shingle_n: int = 3,
) -> DataFrame:
    """(__id, __h0..__h{n-1}) MinHash signature table: one shingle
    explode + ONE groupBy computing all ``num_hashes``
    min(md5(family:shingle)) aggregates JVM-side inside codegen.
    Split out of ``minhash_bands`` so a caller that needs BOTH the
    band table and the raw signatures (the estimator-accuracy gate)
    can compute the expensive aggregate once and share it."""
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingle(text_col, shingle_n)).alias("__s"),
    )
    return sh.groupBy("__id").agg(*minhash_aggregates(num_hashes))


def minhash_aggregates(num_hashes: int = 16) -> list[Column]:
    """The ``__h{i}`` = min(md5(i:shingle)) aggregates over ``__s`` —
    the aggregate list of ``minhash_signatures``, for a caller that
    computes more per-document aggregates in the same groupBy. Parsed
    SQL: 3 py4j round trips per column instead of 22 for the
    Column-API chain (driver plan-building time, as in
    ``ingest.split_merge_outputs``)."""
    return [F.expr(f"min(md5(concat('{i}:', __s))) AS __h{i}")
            for i in range(num_hashes)]


def minhash_bands(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH band table for a document set — the
    sharable MinHash index artifact: ``minhash_lsh_pairs`` self-joins
    it, ``incremental_minhash_pairs`` maintains it as a store table
    across streaming micro-batches. One explode + one groupBy per
    call; every hash is computed JVM-side inside codegen.
    ``signatures`` supplies a prebuilt (possibly persisted)
    ``minhash_signatures`` frame so the aggregate isn't recomputed."""
    rows_per_band = num_hashes // bands
    sig = (signatures if signatures is not None else
           minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))
    # one parsed projection (see minhash_aggregates)
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', md5(concat_ws('|', "
        + ", ".join(f"__h{i}" for i in range(b * rows_per_band,
                                             (b + 1) * rows_per_band))
        + ")))"
        for b in range(bands))
    return sig.selectExpr("__id", f"explode(array({structs})) AS bb") \
        .selectExpr("__id", "bb.band", "bb.bucket")


def incremental_minhash_pairs(
    store, new_docs: DataFrame, id_col: str, text_col: str, *,
    batch_id: int, bands_table: str = "doc_bands",
    pairs_table: str = "doc_pairs",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
) -> None:
    """Streaming near-duplicate detection: maintain the MinHash band
    index incrementally as documents arrive.

    Per micro-batch: band the NEW docs only (the expensive shingle +
    signature work is O(batch), never O(corpus)), equi-join them
    against the persisted index UNION themselves for candidate pairs,
    then atomically append both the new bands and the new pairs in
    one store transaction keyed by ``batch_id`` — a replayed batch is
    skipped entirely (exactly-once, same guard as the BMP sink).

    Correctness: every candidate pair involves at least one new doc
    (old-old pairs were emitted when their younger member arrived),
    so appending new-vs-(old ∪ new) pairs each batch yields exactly
    the batch-built pair set, with no cross-batch dedup needed beyond
    the within-batch least/greatest normalization.

    Scale: the index table is append-only parquet keyed by
    (band, bucket); the join is a hash equi-join with AQE skew
    handling; nothing rescans old documents, only their (small) band
    rows. This is the streaming form of ``minhash_lsh_pairs``. The
    bands table compacts under ``state.index_step``'s file-count law.
    """
    # one replay-version counter per index: two indexes sharing a store
    # must not skip each other's batches as replays
    app = f"minhash_index:{bands_table}:{pairs_table}"
    if (bands_table, pairs_table) == ("doc_bands", "doc_pairs") \
            and store.last_txn_version(app) < 0 \
            and store.last_txn_version("minhash_index") >= batch_id:
        # one-time migration: stores written before the per-index app key
        # committed every batch under the shared legacy name. That counter
        # semantically belongs to the default index (other table names
        # never had correct replay isolation under it), so it seeds the
        # default index's replay check — otherwise the first delivered
        # batch after an upgrade would reprocess the whole history and
        # append duplicate band/pair rows.
        return

    def build(keep):
        # the band table feeds both the index append and the pair join
        nb = keep(minhash_bands(new_docs, id_col, text_col,
                                num_hashes=num_hashes, bands=bands,
                                shingle_n=shingle_n))
        a = nb.alias("a")
        b = store.read(bands_table, nb.schema).unionByName(nb).alias("b")
        pairs = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.__id") != F.col("b.__id")))
            .select(F.least("a.__id", "b.__id").alias("id_a"),
                    F.greatest("a.__id", "b.__id").alias("id_b"))
            .dropDuplicates()
        )
        return [(bands_table, nb), (pairs_table, pairs)]

    index_step(store, app, batch_id, build, compact=bands_table)


def incremental_fingerprint_pairs(
    store, new_fp: DataFrame, id_col: str, fp_col: str, *,
    batch_id: int, bits: int = 63, bands: int = 7,
    max_hamming: int = 3, bands_table: str = "img_bands",
    pairs_table: str = "img_pairs",
    max_bucket_size: int | str | None = "auto",
) -> None:
    """Streaming near-duplicate detection over ANY <=63-bit integer
    fingerprint column (dHash images, SimHash text): maintain the
    pigeonhole band index incrementally as fingerprints arrive — the
    hash-banded twin of ``incremental_minhash_pairs`` with the same
    store/replay contract.

    Per micro-batch: band the NEW fingerprints only (O(batch)),
    equi-join them against the persisted index UNION themselves,
    verify ``bit_count(xor)`` <= ``max_hamming``, then atomically
    append bands + confirmed pairs in one txn keyed by ``batch_id``
    (a replayed batch is a no-op). Every true pair is emitted when
    its younger member arrives, so the accumulated pair set equals
    the batch-built uncapped ``fingerprint_neardup_pairs`` output
    (pigeonhole: with bands > max_hamming the band join is
    lossless).

    ``max_bucket_size`` (int or ``"auto"``) applies the same
    drop-over-cap skew guard as the batch operator, measured against
    the FULL index (old bands plus this batch): buckets over the cap
    are excluded from this batch's join, while the new band rows are
    still appended unfiltered so later batches see true occupancy.
    ``"auto"`` re-derives the cap every batch from the accumulated
    census (N = full band rows div bands), so the guard tracks index
    growth instead of decaying as the stream runs.

    The bands table compacts as its own atomic commit AFTER the batch
    txn (SURVEY finding 32: per-batch wall grows ~18 ms per
    accumulated append FILE — driver listing + task scheduling — not
    with rows; one compaction of 320 -> 40 files cut the next batch
    3.3x), under ``state.index_step``'s law: when the live band-file
    count exceeds AUTO_OPTIMIZE_FILE_MULT x shuffle partitions —
    equivalent to every ~3rd batch at 32-partition appends, which
    keeps the join scan within ~1.5x of its compacted floor. A caller
    may also compact between batches with ``store.optimize``."""
    w = bits // bands

    def build(keep):
        nb = keep(new_fp.select(
            F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"),
            F.explode(_band_struct_expr(fp_col, bits, bands)).alias("bb"))
            .select("__id", "__fp", F.col("bb.band").alias("band"),
                    F.col("bb.bv").alias("bv")))
        join_new, join_full = _incremental_join_sides(
            store, bands_table, nb, max_bucket_size, w, bands)
        a, b_ = join_new.alias("a"), join_full.alias("b")
        ham = F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))) \
            .cast("int")
        pairs = (
            a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.__id") != F.col("b.__id")))
            .select(F.least("a.__id", "b.__id").alias("id_a"),
                    F.greatest("a.__id", "b.__id").alias("id_b"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )
        return [(bands_table, nb), (pairs_table, pairs)]

    index_step(store, f"fingerprint_index:{bands_table}:{pairs_table}",
               batch_id, build, compact=bands_table)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Pipeline: explode shingles -> ONE groupBy(doc) computing all
    ``num_hashes`` min(md5(family:shingle)) aggregates -> band-hash
    -> self-join on (band_index, band_hash) -> candidate pairs
    (id_a < id_b).

    The explode+aggregate form matters: a nested
    transform(shingles, md5) per hash family builds an expression
    tree that re-evaluates the shingle array per family (measured
    ~50x slower at sf0.1); the single-pass aggregate computes each
    md5 once per (shingle, family) inside codegen with map-side
    partial min.

    Scale: the self-join is an equi-join on the band bucket, so it
    hash-partitions instead of exploding into a cross product; bucket
    skew (a viral duplicate cluster) is handled by AQE skew-join, but
    a bucket of n documents still emits n(n-1)/2 pairs — clustering
    wants ``bucket_star_edges`` instead. Returns columns (id_a, id_b).
    """
    banded = minhash_bands(df, id_col, text_col, num_hashes=num_hashes,
                           bands=bands, shingle_n=shingle_n,
                           signatures=signatures)
    # the band table feeds both sides of the self-join; materialize it
    # once or the full explode + 16-way min-md5 signature aggregation
    # runs twice (at scale the signature table is a build-once artifact;
    # caller releases via cache.build_artifacts / release_build_artifacts)
    banded = owned_persist(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates()
    )


def bucket_star_edges(banded: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) edges, id_a < id_b, joining every doc of a
    ``minhash_bands`` (__id, band, bucket) table to the smallest id of
    each bucket it is in: one window over (band, bucket), no self-join.
    Each bucket's star spans the clique ``minhash_lsh_pairs`` emits for
    it, so ``connected_components`` finds the same components, from
    n - 1 edges per bucket of n instead of n(n-1)/2 (Kiveris et al.,
    "Connected Components in MapReduce and Beyond")."""
    w = W.partitionBy("band", "bucket")
    return (banded.select(F.min("__id").over(w).alias("id_a"),
                          F.col("__id").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct())


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash fingerprint per document (``bits`` wide, <= 48 so it
    stays in a signed BIGINT for oracle compatibility).

    Token hash = first bits/4 hex chars of md5; the fingerprint sets
    bit k when the sum over tokens of (+1 if token-bit-k else -1) is
    positive. Implemented as explode -> single-pass groupBy with
    ``bits`` conditional sums: one shuffle on the doc id, everything
    JVM-side (map-side partial aggregation applies). Output:
    (id_col, simhash: long).
    """
    hexchars = bits // 4
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    tok = df.select(F.col(id_col), F.explode(toks).alias("__t"))
    h = F.conv(F.substring(F.md5(F.col("__t")), 1, hexchars), 16, 10).cast("long")
    votes = tok.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(h, k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
         .alias(f"__v{k}")
        for k in range(bits)
    ])
    fingerprint = None
    for k in range(bits):
        bit = F.when(F.col(f"__v{k}") > 0, F.lit(1 << k).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 8, window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS rolling-hash scheme): hash every k-gram of
    the normalized text, slide a ``window`` of consecutive positions,
    keep the minimum hash of each window, emit the distinct selected
    hashes per document. Guarantees any shared substring of length
    >= k + window - 1 produces at least one shared fingerprint.

    Spark shape: the k-gram hashes are built INSIDE the array domain
    (``transform(sequence(..), p -> substr(md5(substr(txt,p,k)),1,12))``)
    and only then ``posexplode``d, so exploded rows carry a 12-char
    hash instead of dragging the full document text through the
    shuffle (~100x less exchange volume on KB-sized docs). Hex-string
    min works identically in the DuckDB oracle. The rolling min is a
    ranking-free window frame ``rowsBetween(0, window-1)`` partitioned
    by document — one shuffle on the doc id, all JVM-side; the final
    distinct reuses that partitioning (doc_id is a prefix of the
    dedup key), so no second exchange. Output: (id_col, fp: string)
    exploded fingerprint sets.
    """
    from pyspark.sql import Window as W

    # project the normalization to a concrete column FIRST: an
    # expression referenced inside the transform lambda would re-run
    # the regexp once per array element, not once per document
    ndf = df.select(
        F.col(id_col),
        F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("__txt"))
    npos = F.length("__txt") - F.lit(k - 1)
    grams = F.transform(
        F.when(npos >= 1, F.sequence(F.lit(1), npos))
         .otherwise(F.array().cast("array<int>")),
        lambda p: F.substring(
            F.md5(F.col("__txt").substr(p, F.lit(k))), 1, 12),
    )
    pos = ndf.select(F.col(id_col), F.posexplode(grams).alias("__p", "__h"))
    win = W.partitionBy(id_col).orderBy("__p").rowsBetween(0, window - 1)
    return (
        pos.select(F.col(id_col), F.min("__h").over(win).alias("fp"))
        .dropDuplicates([id_col, "fp"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity pairs above ``threshold``.

    Inverted-index join: explode distinct shingles, equi-join on the
    shingle (optionally within ``block_col`` blocks), count shared
    shingles per pair, then |A ∩ B| / (|A| + |B| - |A ∩ B|).

    Scale: frequent shingles dominate the pair join quadratically (a
    shingle in d docs contributes d^2/2 pairs). ``max_doc_freq``
    applies the standard stop-shingle filter — shingles appearing in
    more than that many docs (per block) are dropped BEFORE pair
    generation, and Jaccard is computed over the retained sets on
    both the Spark and oracle side. None = exact over all shingles.

    Deliberately NO ``"auto"`` mode here, unlike the banding caps
    (finding 31): those are recall-only knobs — a dropped bucket can
    only lose candidate pairs, never change a surviving pair's value
    — so deriving them from corpus size is safe. This cap changes the
    retained shingle SETS and therefore every Jaccard score; an
    auto-derived value would silently re-score the corpus as it
    grows. Stop-shingle df thresholds stay pinned by the caller,
    the same reason tokenizers pin their vocab.

    Physical shape: with ``max_doc_freq`` set, posting lists are
    bounded (<= max_doc_freq ids), so pairs are generated IN the
    array domain — groupBy(shingle) -> sorted id list -> combination
    structs — replacing the exploded-index sort-merge self-join with
    a single hash aggregate (measured ~4x at sf0.1, and the win grows
    with corpus size: the self-join shuffles the full inverted index
    twice and sorts both sides). Without the cap a posting list is
    unbounded (a stop shingle at 100 TB can hit millions of docs, too
    big for one array), so the uncapped path keeps the pairwise
    equi-join, which AQE skew-handles instead.
    Returns (id_a, id_b, jaccard: double).
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        F.array_distinct(shingle(text_col, shingle_n)).alias("__sh"),
    )
    ex = base.select("__id", *(["__blk"] if block_col else []),
                     F.explode("__sh").alias("__s"))
    freq_keys = ["__blk", "__s"] if block_col else ["__s"]
    if max_doc_freq is not None:
        # bounded posting lists: one shuffle builds them, pairs come
        # from array combinations (no self-join, no second exchange
        # of the inverted index)
        posts = (ex.groupBy(*freq_keys)
                 .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
                 .filter(F.size("__ids") <= max_doc_freq)
                 .select("__ids"))
        # feeds sizes + pairs: build the index once (caller releases)
        posts = owned_persist(posts)
        sizes = (posts.select(F.explode("__ids").alias("__id"))
                 .groupBy("__id").agg(F.count(F.lit(1)).alias("__n")))
        combos = F.flatten(F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2),
                        F.greatest(F.size("__ids") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
        inter = (
            posts.select(F.explode(combos).alias("__p"))
            .groupBy(F.col("__p.id_a").alias("id_a"),
                     F.col("__p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # the inverted index feeds three consumers (sizes + both join
        # sides); materialize it once — shingling re-runs the regex
        # split per consumer otherwise (caller releases)
        ex = owned_persist(ex)
        sizes = ex.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
        a, b = ex.alias("a"), ex.alias("b")
        cond = ((F.col("a.__s") == F.col("b.__s"))
                & (F.col("a.__id") < F.col("b.__id")))
        if block_col:
            cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
        inter = (
            a.join(b, cond)
            .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("nb"))
    return (
        inter.join(F.broadcast(na), "id_a").join(F.broadcast(nb), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair list: returns
    (id, component) where ``component`` is the smallest id reachable
    from ``id``. The canonical dedup-clustering step: near-dup PAIRS
    (minhash / jaccard / embedding) -> duplicate GROUPS, from which
    one representative per group survives. A pair with a null
    endpoint links nothing and is dropped.

    Algorithm: iterative min-label propagation. Each round takes, per
    node, the min of its own label and its neighbors' labels; rounds
    needed = graph diameter. Near-dup graphs are unions of near-
    cliques (diameter 2-3 even at 100 TB corpus scale;
    ``bucket_star_edges`` keeps them stars), so this beats the
    alternating-star algorithm's (Kiveris et al., "Connected
    Components in MapReduce and Beyond") extra constant factors
    there. For adversarial long-chain graphs prefer alternating-star;
    ``max_iter`` caps runaway cases and raises rather than returning
    a wrong answer.

    The symmetric edge list is ``localCheckpoint``ed once (it feeds
    every round), and that checkpoint also observes its row count
    (``graph.checkpoint``). The count picks where the rounds run:

    - at or under ``graph.CC_DRIVER_MAX_EDGES`` symmetric rows (10^5
      pairs), the checkpoint is collected once as Arrow and the rounds
      run in numpy (``graph.components``): a round costs milliseconds
      instead of a Spark job and two shuffles. Why the bound: on star
      graphs (4 leaves per centre, 4 cores, warm session, output
      consumed by one aggregate, median of 3) the driver path won
      from 10^4 to 1.5*10^5 pairs (0.73-1.63 s vs 1.39-2.05 s), tied
      at 2*10^5 (1.70 vs 1.74 s) and lost from 3*10^5 on (2.27 vs
      1.94 s; 6.5 vs 4.3 s at 10^6). Its rounds take 0.03 s at 10^6
      pairs; the Arrow edges in, the labels out and their
      one-partition frame grow linearly while the distributed rounds
      stay near their fixed cost per job. Driver memory at the bound
      is about 26 MB, at the kernel's measured 131 bytes per edge
      (``graph.DRIVER_MAX_EDGES``);
    - above it the distributed rounds run: per round the labels join
      the edge list and are min-aggregated (2 shuffles per round,
      both hash-partitioned on node id), each round's result is
      ``localCheckpoint``ed, and convergence is a ``DataFrame.observe``
      count of changed labels filled by that checkpoint, so no
      separate count job runs. State is one (id, label) row per
      node — O(nodes), not O(edges).

    Both paths run the same rounds: the initial label is the min of a
    node and its neighbors, a round that changes no label ends the
    loop, and ``max_iter`` rounds without one raise ``RuntimeError``.
    """
    e = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
         .filter("a IS NOT NULL AND b IS NOT NULL"))
    # edges feed every round: materialize once, counting them
    sym, n = graph.checkpoint(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    if n <= graph.CC_DRIVER_MAX_EDGES:
        return graph.components(sym, n, max_iter)
    # initial labels stay lazy: round 1's checkpoint computes them
    labels = (sym.groupBy("a")
              .agg(F.least(F.min("b"), F.first("a")).alias("lab"))
              .select(F.col("a").alias("id"), "lab"))
    for _ in range(max_iter):
        # push each node's label to its neighbors, keep the min of
        # (own label, incoming labels). The previous label rides
        # through the aggregate in a second column (unique per id),
        # so convergence is a count_if observed on the checkpointed
        # result instead of a join against the old labels.
        pushed = (sym.join(labels, sym["a"] == labels["id"])
                  .select(F.col("b").alias("id"), "lab",
                          F.lit(None).cast(labels.schema["lab"].dataType)
                          .alias("old")))
        own = labels.select("id", "lab", F.col("lab").alias("old"))
        obs = Observation()
        new_labels = (own.unionByName(pushed)
                      .groupBy("id").agg(F.min("lab").alias("lab"),
                                         F.max("old").alias("old"))
                      .observe(obs, F.count_if(F.col("lab") != F.col("old"))
                               .alias("changed"))
                      .localCheckpoint())
        changed = obs.get["changed"]
        labels = new_labels.select("id", "lab")
        if changed == 0:
            return labels.select(F.col("id"), F.col("lab").alias("component"))
    raise graph.no_fixpoint(max_iter)


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str,
    bits: int = 32, bands: int = 4, max_hamming: int = 3,
    min_tokens: int | None = None,
    max_bucket_size: int | str | None = "auto",
) -> DataFrame:
    """SimHash near-duplicate pairs: band the fingerprint (pigeonhole
    — any pair within ``max_hamming`` < ``bands`` bits shares at
    least one identical band), equi-join candidates per band, then
    verify the exact Hamming distance with bit_count(xor) JVM-side.
    Output: (id_a, id_b, hamming).

    Scale: the band join is a hash equi-join on (band, band_value) —
    never all-pairs; the fingerprint table builds once (persisted).
    Candidate volume per band bucket is corpus/2^(bits/bands) docs —
    widen ``bits`` (48 stays oracle-safe in a signed BIGINT) or
    raise ``bands`` resolution for bigger corpora.

    Degenerate-content skew: empty/boilerplate documents all collapse
    to the same fingerprint, so one band bucket goes quadratic (a
    bucket of d docs contributes d^2/2 candidates). Two opt-in guards,
    the same design as ``ngram_jaccard_pairs``' ``max_doc_freq`` stop-
    shingle cap:
    - ``min_tokens``: drop documents with fewer whitespace tokens
      BEFORE fingerprinting (empties carry no near-dup signal);
    - ``max_bucket_size``: drop (band, band_value) buckets larger
      than the cap before the self-join. A pair lost this way is
      still found if any of its other bands lands in a small bucket;
      pairs ONLY matching through a mega-bucket are dropped, exactly
      like stop-shingle removal. ``"auto"`` (the default — fixed caps
      collapse recall at scale in every measured modality, findings
      30-36) derives the cap from the occupancy census (finding 31)
      like every fingerprint-family operator. Pass None for exact
      pigeonhole semantics (oracle-parity gates)."""
    if min_tokens is not None:
        ntoks = F.size(F.split(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "))
        df = df.filter(ntoks >= min_tokens)
    fp = owned_persist(simhash_fingerprints(df, id_col, text_col, bits))
    return fingerprint_neardup_pairs(
        fp, id_col, "simhash", bits=bits, bands=bands,
        max_hamming=max_hamming, max_bucket_size=max_bucket_size)


# occupancy-adaptive cap policy (``max_bucket_size="auto"``): with N
# fingerprints banded into 2^w buckets per band, expected bucket
# occupancy is N/2^w; a bucket more than AUTO_CAP_MULT x expected is a
# degenerate-content outlier (boilerplate/empties), everything below is
# ordinary collision mass that a FIXED cap starves as N grows (measured:
# cap 4 kept 554 true pairs at 5k images but only 201 at 50k — SURVEY
# finding 30). ceil in exact integer arithmetic so the DuckDB oracle
# reproduces the cap bit-for-bit from the same census.
AUTO_CAP_FLOOR = 4
AUTO_CAP_MULT = 4


def _auto_cap_expr(n_col: str, w: int) -> Column:
    """max(FLOOR, ceil(MULT * N / 2^w)) — N from a 1-row census."""
    return F.expr(
        f"greatest(CAST({AUTO_CAP_FLOOR} AS BIGINT), "
        f"({n_col} * {AUTO_CAP_MULT} + {(1 << w) - 1}) div {1 << w})")


def auto_cap_value(n: int, bits: int, bands: int) -> int:
    """Driver-side twin of the in-plan auto cap (for probes/oracles)."""
    w = bits // bands
    return max(AUTO_CAP_FLOOR,
               -(-(n * AUTO_CAP_MULT) // (1 << w)))


def _band_struct_expr(fp_col: str, bits: int, bands: int) -> Column:
    """array<struct<band, bv>> of pigeonhole band slices for a <=63-bit
    integer fingerprint column — the shared banding expression of the
    whole fingerprint-dedup family (explode it to get one row per
    (fingerprint, band))."""
    w = bits // bands
    mask = (1 << w) - 1
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(fp_col), b * w)
             .bitwiseAND(F.lit(mask)).alias("bv"))
        for b in range(bands)])


def _window_bucket_cap(bandsdf: DataFrame, fp: DataFrame,
                       max_bucket_size, w: int) -> DataFrame:
    """Bucket-size gate for the SYMMETRIC batch self-joins,
    deliberately a count-over-window on the join key: the window's
    Exchange hashpartitioning(band, bv) is the SAME partitioning the
    self-join needs, so Catalyst reuses it (ReusedExchange) for both
    join sides and the window costs no extra shuffle. The
    groupBy-counts + broadcast-anti-join form used by the incremental
    operators is WORSE here: it removes the reuse and the symmetric
    join then shuffles both sides itself (measured on the sf1
    frameset probe: 3.1 s -> 5.1 s — SURVEY finding 38).
    ``fp`` supplies the auto-cap census (one fingerprint per row)."""
    bw = W.partitionBy("band", "bv")
    out = bandsdf.withColumn("__bn", F.count(F.lit(1)).over(bw))
    if max_bucket_size == "auto":
        census = fp.select(F.count(F.lit(1)).alias("__nfp"))
        return (out.join(F.broadcast(census))
                .filter(F.col("__bn") <= _auto_cap_expr("__nfp", w))
                .drop("__bn", "__nfp"))
    return out.filter(F.col("__bn") <= max_bucket_size).drop("__bn")


def _incremental_join_sides(store, bands_table: str, nb: DataFrame,
                            max_bucket_size, w: int,
                            bands: int) -> tuple[DataFrame, DataFrame]:
    """(join_new, join_full) of an ASYMMETRIC incremental band join:
    this batch's band rows ``nb`` against the stored index UNION
    themselves. With a ``max_bucket_size``, the bucket-size gate:
    over-cap keys from the FULL index, broadcast-anti-joined against
    each side — the new side stays exactly this batch's rows (a
    left-semi back on the id would re-admit OLD index rows sharing an
    id with a re-delivered id and re-emit committed pairs — round-10
    ADVICE), and the index is only SCANNED, never shuffled, for the
    gate (finding 38: the window form shuffled the whole index every
    micro-batch)."""
    full = store.read(bands_table, nb.schema).unionByName(nb)
    if max_bucket_size is None:
        return nb, full
    census = full.select(
        F.expr(f"count(1) div {bands}").alias("__nfp")) \
        if max_bucket_size == "auto" else None
    overcap = _overcap_bucket_keys(full, max_bucket_size, w, census)
    return (nb.join(F.broadcast(overcap), ["band", "bv"], "left_anti"),
            full.join(F.broadcast(overcap), ["band", "bv"], "left_anti"))


def _overcap_bucket_keys(bands_df: DataFrame, max_bucket_size, w: int,
                         census: DataFrame | None) -> DataFrame:
    """(band, bv) keys whose occupancy exceeds the cap — the broadcast
    anti-join side of the skew gate.

    Plan shape (round 11): the former count-over-window put the WHOLE
    band table through a WindowExec — a full-row Exchange + sort on
    (band, bv) every invocation. A groupBy count is map-side
    combinable (shuffle volume = distinct buckets, never N band rows)
    and the over-cap key list is then broadcast into a left_anti join
    against the band table, which stays un-shuffled. Output row bound:
    under the auto cap, #over-cap buckets <= bands x 2^w regardless of
    N (occupancy > 4x expected can hold at most 2^w/4 buckets per
    band); under an explicit int cap it is <= N/cap — the caller owns
    that cap, and at gate scales it is trivially broadcastable.

    ``census``: 1-row DataFrame carrying ``__nfp`` for the auto law
    (broadcast-joined so the cap expression stays in-plan, exact
    integer, bit-identical to the DuckDB oracles); None for int caps.
    """
    counts = bands_df.groupBy("band", "bv").agg(
        F.count(F.lit(1)).alias("__bn"))
    if max_bucket_size == "auto":
        counts = counts.join(F.broadcast(census))
        return counts.filter(F.col("__bn") > _auto_cap_expr("__nfp", w)) \
                     .select("band", "bv")
    return counts.filter(F.col("__bn") > int(max_bucket_size)) \
                 .select("band", "bv")


def fingerprint_neardup_pairs(
    fp: DataFrame, id_col: str, fp_col: str,
    bits: int = 32, bands: int = 4, max_hamming: int = 3,
    max_bucket_size: int | str | None = "auto",
) -> DataFrame:
    """Banded near-dup pairs over ANY precomputed <=63-bit integer
    fingerprint column (SimHash text fingerprints, dHash image
    hashes, ...): pigeonhole banding -> per-band equi-join ->
    bit_count(xor) Hamming verify. Same scale/cap semantics as the
    SimHash docstring above — pair work is bounded by
    bands x sum(min(bucket, cap)^2), never all-pairs.

    ``max_bucket_size="auto"`` derives the cap from a one-row census
    (cap = max(AUTO_CAP_FLOOR, ceil(AUTO_CAP_MULT * N / 2^w)), N =
    fingerprint count, broadcast 1-row join — no driver collect), so
    the skew guard tracks occupancy instead of starving recall as the
    corpus grows past a hand-tuned constant."""
    w = bits // bands
    bandsdf = fp.select(F.col(id_col), fp_col,
                        F.explode(_band_struct_expr(fp_col, bits, bands))
                         .alias("bb")) \
                .select(F.col(id_col), fp_col,
                        F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    if max_bucket_size is not None:
        # symmetric self-join => window gate (exchange reuse;
        # _window_bucket_cap documents the measured law)
        bandsdf = _window_bucket_cap(bandsdf, fp, max_bucket_size, w)
    a, b_ = bandsdf.alias("a"), bandsdf.alias("b")
    cand = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col(f"a.{fp_col}").alias("__sa"),
                F.col(f"b.{fp_col}").alias("__sb"))
        .distinct()  # a pair can agree on several bands
    )
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("int")
    return cand.select("id_a", "id_b", ham.alias("hamming")) \
               .filter(F.col("hamming") <= max_hamming)


def frameset_neardup_pairs(
    fp: DataFrame, set_col: str, frame_col: str, fp_col: str,
    bits: int = 63, bands: int = 7, max_hamming: int = 3,
    max_bucket_size: int | str | None = "auto",
) -> DataFrame:
    """Near-duplicate pairs between SETS of fingerprints — the video
    form of ``fingerprint_neardup_pairs``: each video is a set of
    per-frame perceptual hashes (dHash over sampled frames), two
    videos are near-dups when ANY frame pair lands within
    ``max_hamming`` bits. Band every frame hash exactly like the
    single-fingerprint operator (pigeonhole per frame pair — with
    bands > max_hamming no qualifying frame pair is missed), equi-join
    on (band, bv) across different sets, Hamming-verify, then one
    aggregate per set pair: minimum frame distance and the number of
    distinct matching frame pairs.

    Scale: identical bounds to the flat operator — the join is a hash
    equi-join on the band bucket over SUM(frames) rows (frame counts
    are small constants per video after ``sample_video_frames``), and
    the per-pair aggregate is map-side combinable on the already
    joined rows. ``max_bucket_size`` (int or ``"auto"``) applies the
    same drop-over-cap skew guard to (band, bv) buckets; the auto
    census counts FRAME fingerprints, the unit the buckets hold.
    Output: (id_a, id_b, min_hamming, n_hit_frames)."""
    w = bits // bands
    bandsdf = fp.select(F.col(set_col), F.col(frame_col), F.col(fp_col),
                        F.explode(_band_struct_expr(fp_col, bits, bands))
                         .alias("bb")) \
                .select(F.col(set_col), F.col(frame_col), F.col(fp_col),
                        F.col("bb.band").alias("band"),
                        F.col("bb.bv").alias("bv"))
    if max_bucket_size is not None:
        # symmetric self-join => window gate (exchange reuse;
        # _window_bucket_cap documents the measured law)
        bandsdf = _window_bucket_cap(bandsdf, fp, max_bucket_size, w)
    a, b_ = bandsdf.alias("a"), bandsdf.alias("b")
    ham = F.bit_count(F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}"))) \
        .cast("int")
    hits = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col(f"a.{set_col}") < F.col(f"b.{set_col}")))
        .select(F.col(f"a.{set_col}").alias("id_a"),
                F.col(f"b.{set_col}").alias("id_b"),
                F.col(f"a.{frame_col}").alias("__fa"),
                F.col(f"b.{frame_col}").alias("__fb"),
                ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b", "__fa", "__fb"])
    )
    return (hits.groupBy("id_a", "id_b")
            .agg(F.min("hamming").cast("int").alias("min_hamming"),
                 F.count(F.lit(1)).alias("n_hit_frames")))


def incremental_frameset_pairs(
    store, new_fp: DataFrame, set_col: str, frame_col: str, fp_col: str, *,
    batch_id: int, bits: int = 63, bands: int = 7,
    max_hamming: int = 3, bands_table: str = "vid_bands",
    pairs_table: str = "vid_pairs",
    max_bucket_size: int | str | None = "auto",
) -> None:
    """Streaming video near-duplicate detection: maintain the
    per-frame dHash band index incrementally as videos arrive — the
    frameset member of the incremental-index family
    (``incremental_minhash_pairs`` for documents,
    ``incremental_fingerprint_pairs`` for flat fingerprints), same
    store/replay contract.

    Assumes each VIDEO arrives whole within one micro-batch (its
    frames are never split across batches — the unit of delivery is
    the video, as with documents/images). Under that contract every
    true video pair's hit-frame set forms entirely in the younger
    member's batch (the older video's frames are all in the index,
    the younger's all in this batch), so the per-batch
    (min_hamming, n_hit_frames) aggregate is COMPLETE for each
    emitted pair and the accumulated pairs table equals the
    batch-built ``frameset_neardup_pairs`` output with no cross-batch
    merge.

    Per micro-batch: band only the new frames (O(batch)), equi-join
    against the persisted index UNION themselves, Hamming-verify
    frame pairs, aggregate per video pair, commit bands + pairs in
    one txn keyed by ``batch_id`` (replay is a no-op).
    ``max_bucket_size`` and compaction behave exactly as on
    ``incremental_fingerprint_pairs`` (auto cap census = FRAME
    fingerprints in the full index)."""
    w = bits // bands

    def build(keep):
        nb = keep(new_fp.select(
            F.col(set_col).alias("__sid"), F.col(frame_col).alias("__f"),
            F.col(fp_col).alias("__fp"),
            F.explode(_band_struct_expr(fp_col, bits, bands)).alias("bb"))
            .select("__sid", "__f", "__fp", F.col("bb.band").alias("band"),
                    F.col("bb.bv").alias("bv")))
        join_new, join_full = _incremental_join_sides(
            store, bands_table, nb, max_bucket_size, w, bands)
        a, b_ = join_new.alias("a"), join_full.alias("b")
        ham = F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))) \
            .cast("int")
        lt = F.col("a.__sid") < F.col("b.__sid")
        hits = (
            a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.__sid") != F.col("b.__sid")))
            .select(F.least("a.__sid", "b.__sid").alias("id_a"),
                    F.greatest("a.__sid", "b.__sid").alias("id_b"),
                    # frame indices follow the id orientation so a
                    # new-new pair seen from both sides normalizes to
                    # the same (fa, fb) row for the dedup
                    F.when(lt, F.col("a.__f")).otherwise(F.col("b.__f"))
                     .alias("__fa"),
                    F.when(lt, F.col("b.__f")).otherwise(F.col("a.__f"))
                     .alias("__fb"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b", "__fa", "__fb"])
        )
        pairs = (hits.groupBy("id_a", "id_b")
                 .agg(F.min("hamming").cast("int").alias("min_hamming"),
                      F.count(F.lit(1)).alias("n_hit_frames")))
        return [(bands_table, nb), (pairs_table, pairs)]

    index_step(store, f"frameset_index:{bands_table}:{pairs_table}",
               batch_id, build, compact=bands_table)
