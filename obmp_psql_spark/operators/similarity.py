"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k, the O(N·M) baseline for
  bounded probe sets and the exact side of every recall gate. One
  Arrow kernel: a BLAS prefilter per item batch, then an exact rescore
  that reproduces the ``dot``/``l2norm`` folds bit for bit. Memory
  ceiling: max_queries·D·8 bytes collected to the driver and
  broadcast, plus _TOPK_CELLS query x item doubles per task.
- ``lsh_topk``, ``ivf_topk``, ``pq_topk``: the approximate scale paths
  for when the full cross product is impossible. LSH buckets vectors
  by sign pattern and searches only bucket collisions; its hyperplanes
  are deterministic (seeded from index), so results are reproducible.

The approximate operators are built-in column expressions
(zip_with/aggregate over array<double>), JVM-side; the expression form
keeps plans fusable and is plenty at 64-1024 dims.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..state import index_step
from .cache import owned_persist
from ..session import empty_df, tiny_df


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


# Above this many dims the unrolled expression stops paying: the long
# scalar chain falls out of whole-stage codegen (huge-method fallback)
# while the 2-pass HOF fold stays one tight interpreted loop — measured
# 64-dim unrolled 0.45 s vs fold 0.09 s per 100k rows, but 8-dim
# unrolled 0.7 s vs fold 2.9 s on the pq assign join.
_UNROLL_MAX_DIMS = 16


def _unrolled_dot(a: str, b: str, dims: int) -> Column:
    """``dot`` with a statically-known length, unrolled into plain
    codegen-able arithmetic. Bit-identical to the HOF form: the fold
    is acc = ((0.0 + a1*b1) + a2*b2) + ... in element order, and this
    builds exactly that chain."""
    if dims > _UNROLL_MAX_DIMS:
        return dot(F.col(a), F.col(b))
    acc = F.lit(0.0)
    for i in range(1, dims + 1):
        acc = acc + F.element_at(F.col(a), i) * F.element_at(F.col(b), i)
    return acc


# cosine_topk scores each item batch in chunks of at most this many
# query x item cells (8 MB per float64 matrix), so a task's working
# set is a few such matrices whatever the batch and query-set sizes.
_TOPK_CELLS = 1 << 20
# Prefilter slack per vector dim, in float64 eps. The BLAS cosine of
# unit vectors and the exact fold each sit within about 2·D·eps of the
# true cosine, so 1e3·D·eps is far above the gap between them.
_TOPK_SLACK = 1e3 * 2.0 ** -52
# Norms inside this range keep every product, square and quotient of
# both computations clear of overflow and underflow, which the slack
# bound assumes; pairs outside it are never pruned.
_TOPK_NORM_RANGE = (1e-150, 1e150)


def _fold_norm(cols):
    """``l2norm`` over a dims-major float64 matrix: acc = (0.0 + x0*x0)
    + x1*x1 + ... in element order, then sqrt. Numpy's element-wise
    ops round once per step and never fuse or regroup, so each vector
    gets the fold's rounding chain."""
    import numpy as np

    acc = np.zeros(cols.shape[1])
    for x in cols:
        acc = acc + x * x
    return np.sqrt(acc)


def _check_vector(vid, width, expected) -> None:
    if width is None or width != expected:
        got = "null" if width is None else f"{width} wide"
        raise ValueError(f"cosine_topk: the vector of id {vid} is {got}; "
                         f"expected width {expected}")


def _topk_chunks(q_ids, q_cols, q_norm, ids, i_cols, k: int,
                 cells: int = _TOPK_CELLS):
    """Yield (query_id, neighbor_id, cos) arrays holding every pair of
    one item batch that can be in its query's exact top-k, one chunk
    of at most ``cells`` query x item cells at a time. ``q_cols`` and
    ``i_cols`` are dims-major float64 matrices, ``q_norm`` the query
    norms from :func:`_fold_norm`. Self-matches (equal ids) are
    dropped. Per chunk:

    1. approximate cosines: one BLAS matmul of unit vectors;
    2. per query, t = the k-th best approximate value among its
       screened pairs; keep the screened pairs >= t - slack and every
       unscreened pair;
    3. rescore the kept pairs with the ``dot`` fold, in element order,
       and emit cos = dot / (qn * in), the doubles the SQL folds give.

    A pair is screened when its approximate value is finite and both
    norms lie in _TOPK_NORM_RANGE. Why pruning is exact: let delta be
    the largest gap between a screened pair's approximate and exact
    values. At least k screened pairs reach t, so the exact k-th best
    screened value is >= t - delta, and every screened member of the
    exact top-k, ties included, has approximate value >= t - 2·delta,
    which is >= t - slack. Unscreened pairs, such as a zero vector's
    NaN that Spark's DESC order puts first, are always emitted."""
    import numpy as np

    width, n_items = i_cols.shape
    i_norm = _fold_norm(i_cols)
    lo_norm, hi_norm = _TOPK_NORM_RANGE
    q_ok = (q_norm > lo_norm) & (q_norm < hi_norm)
    i_ok = (i_norm > lo_norm) & (i_norm < hi_norm)
    with np.errstate(divide="ignore", invalid="ignore"):
        q_unit = (q_cols / q_norm).T
        i_unit = i_cols / i_norm
    slack = _TOPK_SLACK * max(width, 1)
    step = max(1, cells // max(n_items, 1))
    for lo in range(0, len(q_ids), step):
        rows = slice(lo, lo + step)
        with np.errstate(invalid="ignore"):
            approx = q_unit[rows] @ i_unit
        screened = np.isfinite(approx) & q_ok[rows, None] & i_ok
        other = q_ids[rows, None] != ids
        approx[~(screened & other)] = -np.inf
        if 1 <= k <= n_items:
            t = np.partition(approx, n_items - k, axis=1)[:, n_items - k]
            keep = (approx >= (t - slack)[:, None]) | ~screened
        else:
            keep = np.ones_like(other)
        qi, ii = np.nonzero(keep & other)
        qi += lo
        dot = np.zeros(len(qi))
        for qd, xd in zip(q_cols, i_cols):
            dot = dot + qd[qi] * xd[ii]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / (q_norm[qi] * i_norm[ii])
        yield q_ids[qi], ids[ii], cos


def cosine_topk(
    queries: DataFrame, items: DataFrame,
    query_id: str = "vec_id", item_id: str = "vec_id",
    query_vec: str = "embedding", item_vec: str = "embedding",
    k: int = 5, max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k by cosine per query vector, self-matches (equal ids)
    excluded. Output: (query_id, neighbor_id, cos, rank), ranked by
    cos DESC (NaN first, Spark's order) then neighbor_id ASC.

    ``cos`` is computed as the SQL folds compute it: ``l2norm`` of each
    vector, ``dot`` summed in element order, ``dot / (qn * in)``. The
    doubles therefore equal the interpreted expression's, and the
    DuckDB oracles hash-match.

    The query side is collected once, at most ``max_queries`` rows:
    max_queries·D·8 bytes on the driver and in the broadcast. It is for
    bounded probe sets; use ivf_topk/lsh_topk for corpus-vs-corpus
    search. Each Arrow batch of items goes through
    :func:`_topk_chunks`: a BLAS prefilter keeps about k pairs per
    query, which are rescored exactly. The window trim's Exchange thus
    carries about queries·k rows per batch, and a task's working set
    is bounded by _TOPK_CELLS. A null vector, or one whose width
    differs from the first query vector's, raises ValueError naming
    its id (on the driver for queries, in the task for items)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = (queries.select(F.col(query_id).alias("__qid"),
                           as_double(F.col(query_vec)).alias("__qv"))
            .limit(max_queries + 1).collect())
    if len(rows) > max_queries:
        raise ValueError(
            f"cosine_topk collects the query set; got more than "
            f"max_queries={max_queries} rows — bounded probe sets only.")
    spark = queries.sparkSession
    schema = "query_id long, neighbor_id long, cos double"
    if not rows:
        return empty_df(spark, schema + ", rank int")
    widths = [None if r["__qv"] is None else len(r["__qv"]) for r in rows]
    dims = next((n for n in widths if n is not None), None)
    for r, n in zip(rows, widths):
        _check_vector(r["__qid"], n, dims)
    q_ids = np.array([r["__qid"] for r in rows], dtype=np.int64)
    q_cols = np.array([r["__qv"] for r in rows],
                      dtype=np.float64).reshape(len(rows), dims).T.copy()
    bc = spark.sparkContext.broadcast((q_ids, q_cols, _fold_norm(q_cols)))
    out = pa.schema([("query_id", pa.int64()), ("neighbor_id", pa.int64()),
                     ("cos", pa.float64())])

    def score(batches):
        q_ids, q_cols, q_norm = bc.value
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            vecs = b.column(1)
            lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy()
            for j in np.flatnonzero(lens != dims)[:1]:  # first bad one
                _check_vector(ids[j], None if lens[j] < 0 else lens[j], dims)
            i_cols = (vecs.flatten().to_numpy(zero_copy_only=False)
                      .astype(np.float64).reshape(len(ids), dims).T.copy())
            for cols in _topk_chunks(q_ids, q_cols, q_norm, ids, i_cols, k):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c) for c in cols], schema=out)

    scored = items.select(item_id, item_vec).mapInArrow(score, schema)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                          F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def hyperplane_bucket(vec: Column, dims: int, n_planes: int = 8) -> Column:
    """Sign-pattern LSH bucket id from deterministic pseudo-random
    hyperplanes. Plane p component d = sin(p*dims + d) — fixed,
    engine-independent, good-enough spread for bucketing."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(__import__("math").sin(p * dims + d)) for d in range(dims)])
        s = dot(vec, plane)
        bucket = bucket + F.when(s > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


# auto shard-cap policy for lsh_topk: sign-pattern buckets saturate at
# the data's CLUSTER count, not 2^n_planes, so bucket occupancy is
# cluster-sized and an occupancy-multiple cap degenerates to no cap on
# clustered corpora. The scale-free knob is the join-work budget:
# cap = ceil(sqrt(MULT * N)) bounds candidate work at N * cap =
# sqrt(MULT) * N^1.5 (subquadratic) while the per-query candidate set
# GROWS with N instead of starving like a hand-tuned constant
# (SURVEY finding 30's law applied to the shard cap).
LSH_AUTO_CAP_FLOOR = 64
LSH_AUTO_CAP_MULT = 4


def lsh_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dims: int = 64, n_planes: int = 8, k: int = 5,
    max_bucket_size: int | str | None = "auto",
) -> DataFrame:
    """Approximate top-k cosine neighbors among same-bucket vectors.
    The bucket join is an equi-join (hash, skew-aware); recall rises
    with fewer planes / multiple tables. Output: (query_id,
    neighbor_id, cos, rank) for pairs sharing a bucket.

    ``max_bucket_size`` is the clustered-data guard: sign-pattern
    buckets saturate at the number of directional CLUSTERS in the
    data, not 2^n_planes — measured on the 200k probe corpus: 16
    planes produced only 32 occupied buckets (max occupancy 11,926,
    1.72e9 candidate pairs), and adding planes cannot split a cluster
    whose members' plane dots all share signs. With the cap, buckets
    larger than the cap are SHARDED deterministically (xxhash64 of
    the id, ceil(n/cap) shards) and pairs form within (bucket,
    shard) only — total join work is bounded by N x cap while every
    query keeps a candidate set (a random cap-sized subset of its
    cluster, whose members are precisely the similar vectors).
    Unlike ``simhash_neardup_pairs``' drop-the-bucket cap there is
    no second band to catch a dropped vector here, so sharding, not
    dropping, is the right bound. ``"auto"`` (the default — fixed
    caps collapse recall at scale in every measured modality, SURVEY
    findings 30-36) sizes the cap from a one-row census as
    max(LSH_AUTO_CAP_FLOOR, ceil(sqrt(LSH_AUTO_CAP_MULT * N))) — see
    the policy comment above. Pass None for exact bucket-join
    semantics (oracle-parity gates)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__bucket", hyperplane_bucket(F.col("__v"), dims, n_planes))      .withColumn("__n", l2norm(F.col("__v")))
    # Persist the bucketed table BEFORE the cap gate: the occupancy
    # count below, the census, and both join sides all read it, so the
    # n_planes interpreted dot products and the l2 norm evaluate once
    # per row, not once per consumer (caller releases via
    # cache.build_artifacts). The post-gate lineage re-derived off it
    # is only a broadcast join + a withColumn — cheap to replay.
    base = owned_persist(base)
    if max_bucket_size is not None:
        # per-bucket occupancy via a map-side-combinable groupBy count
        # broadcast back onto the rows — the forced broadcast is safe
        # because distinct sign buckets are bounded by min(2^n_planes,
        # cluster count of the data); at the default n_planes=8 that is
        # <=256 one-long rows. A caller raising n_planes past ~24
        # should drop the hint (2^n_planes rows no longer driver-tiny).
        # The base table itself never shuffles for the gate (the former
        # count-over-window pushed all N rows through a WindowExec
        # Exchange + sort — round 11).
        counts = base.groupBy("__bucket").agg(
            F.count(F.lit(1)).alias("__bn"))
        base = base.join(F.broadcast(counts), "__bucket")
        if max_bucket_size == "auto":
            census = base.select(F.count(F.lit(1)).alias("__ncen"))
            base = base.join(F.broadcast(census))
            cap = F.greatest(
                F.lit(LSH_AUTO_CAP_FLOOR).cast("long"),
                F.ceil(F.sqrt(F.col("__ncen") * LSH_AUTO_CAP_MULT))
                 .cast("long"))
        else:
            cap = F.lit(int(max_bucket_size)).cast("long")
        base = (base
                .withColumn(
                    "__shard",
                    F.when(F.col("__bn") > cap,
                           F.pmod(F.xxhash64("__id"),
                                  F.ceil(F.col("__bn") / cap)
                                   .cast("long")))
                     .otherwise(F.lit(0).cast("long")))
                .drop("__bn", "__ncen"))
    else:
        base = base.withColumn("__shard", F.lit(0).cast("long"))
    a = base.select(F.col("__id").alias("query_id"), F.col("__v").alias("__qv"),
                    F.col("__n").alias("__qn"), F.col("__bucket").alias("__b"),
                    "__shard")
    b = base.select(F.col("__id").alias("neighbor_id"), F.col("__v").alias("__iv"),
                    F.col("__n").alias("__in"), F.col("__bucket").alias("__b"),
                    "__shard")
    scored = (
        a.join(b, ["__b", "__shard"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (dot(F.col("__qv"), F.col("__iv"))
                 / (F.col("__qn") * F.col("__in"))).alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    block_col: str | None = None, threshold: float = 0.95,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, blocked (e.g. by
    label/shard/LSH bucket) to bound the pair space. Output:
    (id_a, id_b, cos).

    Without ``block_col`` this is an all-pairs O(N^2) cross join —
    a scale-killer on anything beyond a probe set, so it requires an
    explicit ``allow_full_cross=True``. At scale, pre-bucket with
    ``lsh_topk``/``minhash_lsh_pairs`` and pass the bucket as the
    block."""
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "embedding_neardup_pairs without block_col is an all-pairs "
            "cross join; pass block_col (label/shard/LSH bucket) or "
            "explicitly opt in with allow_full_cross=True for small sets")
    base = df.select(
        F.col(id_col).alias("__id"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__n", l2norm(F.col("__v")))
    # normalized-vector table feeds both join sides; build it once
    # (caller releases via cache.build_artifacts)
    base = owned_persist(base)
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if block_col:
        cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
    return (
        a.join(b, cond)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
                (dot(F.col("a.__v"), F.col("b.__v"))
                 / (F.col("a.__n") * F.col("b.__n"))).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _probe_cosine(base: DataFrame, cand_rows, n: int) -> DataFrame:
    """(__id, __v, __n, __cid, __cr): per-row top-``n`` centroids by
    cosine in the (csim DESC, cid ASC) order of the previous window
    top-k, computed as a sort-slice PROJECTION over a 1-row broadcast
    candidate-array dim — no N x C scored rows through an exchange,
    no per-id window sort. The sort key is
    struct(coalesce(-csim, +inf), cid): negation flips the DESC order
    for the ascending array_sort, the coalesce keeps a (theoretical,
    non-ANSI) null csim sorting last exactly like desc-nulls-last,
    and equal keys fall to the lowest cid — the same total order the
    window used; ``__cr`` is the 1-based rank like row_number.
    ``cand_rows``: [(cid, cv, cn)] driver-side (bounded by the
    codebook size, the same collect the Lloyd loop already does)."""
    spark = base.sparkSession
    if not cand_rows:
        return base.select("__id", "__v", "__n",
                           F.lit(None).cast("long").alias("__cid"),
                           F.lit(None).cast("int").alias("__cr")).limit(0)
    dim = tiny_df(
        spark,
        [([(int(cid), [float(x) for x in cv], float(cn))
           for cid, cv, cn in sorted(cand_rows)],)],
        "__cands array<struct<__cid:bigint,__cv:array<double>,__cn:double>>")

    def key(c):
        csim = dot(F.col("__v"), c["__cv"]) / (F.col("__n") * c["__cn"])
        return F.coalesce(-csim, F.lit(float("inf")))

    keyed = F.transform(
        "__cands", lambda c: F.struct(key(c).alias("__k"),
                                      c["__cid"].alias("__cid")))
    top = F.slice(F.array_sort(keyed), 1, n)
    return (base.crossJoin(F.broadcast(dim))
            .select("__id", "__v", "__n",
                    F.posexplode(top).alias("__r0", "__kc"))
            .select("__id", "__v", "__n",
                    F.col("__kc.__cid").alias("__cid"),
                    (F.col("__r0") + 1).cast("int").alias("__cr")))


def _argmax_cosine(base: DataFrame, cand_rows) -> DataFrame:
    """Top-1 specialization of ``_probe_cosine``."""
    return _probe_cosine(base, cand_rows, 1).select("__id", "__cid", "__v")


def _kmeans_refine(base: DataFrame, cents: DataFrame, iters: int,
                   arrow_threshold: int = 64) -> DataFrame:
    """Lloyd iterations for the IVF codebook. The codebook is k ≪ N
    rows, so it lives driver-side between rounds (one bounded k-row
    collect per iteration) — the standard Lloyd-on-Spark shape; the
    data side never leaves the cluster and no lineage checkpointing
    is needed. Centroids that lose all members drop out (standard
    Lloyd behavior — fewer, better-placed lists).

    The assignment step is size-gated on the codebook, the same
    policy as ``kmeans_assign``/``ivf_topk`` scoring: at k <=
    ``arrow_threshold`` the ``_probe_cosine`` sort-slice projection
    (cheap, Python-free, no N x k rows through an exchange); above it
    the Arrow BLAS argmax with the codebook in the closure — at 2M
    vectors x 1414 centroids the old crossJoin+window form pushed
    2.8e9 scored rows through an exchange, which is where the
    round-11 2M IVF probe originally died; the BLAS form is one
    X @ C.T matmul per Arrow batch with no N x k rows ever existing
    JVM-side. The per-centroid means are ``dims`` avg(element_at)
    aggregates in ONE pass — no 64x posexplode row blowup and no
    second collect_list aggregate (r14, guide §2.2 shuffle/scan
    fewer rows)."""
    spark = base.sparkSession
    for _ in range(iters):
        # one k-row collect serves both the size gate and the Arrow
        # codebook (a separate count() would run the seed scan twice)
        cent_rows = cents.collect()
        dims = len(cent_rows[0]["__cv"]) if cent_rows else 0
        if len(cent_rows) <= arrow_threshold:
            top1 = _argmax_cosine(base, [
                (r["__cid"], r["__cv"], r["__cn"]) for r in cent_rows
            ]).select("__cid", "__v")
        else:
            best = _nearest_centroid_udf(sorted(
                (r["__cid"], r["__cv"]) for r in cent_rows))
            top1 = base.select(best(F.col("__v")).alias("__cid"), "__v")
        means = top1.groupBy("__cid").agg(F.array(*[
            F.avg(F.element_at(F.col("__v"), i + 1)) for i in range(dims)
        ]).alias("__cv"))
        rows = means.collect()  # k rows: the codebook
        cents = (tiny_df(spark, rows, means.schema)
                 .withColumn("__cn", l2norm(F.col("__cv"))))
    return cents


def ivf_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16, nprobe: int = 2, k: int = 5,
    train_iters: int = 0, max_queries: int | None = None,
    arrow_threshold: int = 64,
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: the other canonical scale
    path next to LSH.

    Codebook: the ``n_centroids`` lowest-id vectors seed the
    centroids (reproducible); ``train_iters`` > 0 refines them with
    that many distributed Lloyd iterations (_kmeans_refine) — the
    production path when list balance matters. Each vector joins its
    ``nprobe`` nearest centroids' inverted lists; queries search only
    those lists. Every join is a broadcast equi-join on the centroid
    id — the cross product never materializes.

    Output: (query_id, neighbor_id, cos, rank) per probed pair.

    ``max_queries`` bounds the PROBE side to the lowest-id vectors
    (same convention as ``pq_topk``); the index
    side stays the full corpus. The distinction matters for scaling:
    per-QUERY cost is ~nprobe x N/C (sub-linear in N with C ~
    sqrt(N) — the serving-path claim), but querying the WHOLE corpus
    against itself is N x nprobe x N/C = O(N^1.5) total work no
    matter how the index is sized — measured: 200k-vector full
    self-kNN ran 69x the 20k wall while a 1000-query probe set stays
    index-build-bound. Default None keeps the full self-join for
    oracle parity.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__n", l2norm(F.col("__v")))

    seed = base.orderBy("__id").limit(n_centroids).select(
        F.col("__id").alias("__cid"), F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"))
    if train_iters > 0:
        base = owned_persist(base)
        seed = _kmeans_refine(base, seed, train_iters, arrow_threshold)

    # nprobe nearest centroids per vector. The assignment table is
    # the IVF index: built ONCE and persisted (at production scale it
    # is written out as the index artifact) — without this, both
    # sides of the list join would re-run the assignment from
    # scratch. The scoring path is size-gated on the codebook, same
    # policy as kmeans_assign: the N x C expression plan (broadcast
    # crossJoin + window) for small codebooks — cheap, Python-free,
    # bit-exact vs the SQL oracle — and the Arrow top-nprobe argsort
    # above `arrow_threshold` centroids, where expression dots
    # allocate an array per (vector, centroid) pair and dominate the
    # index build (SURVEY finding #17).
    if n_centroids <= arrow_threshold:
        # codebook collected once (bounded) — assignment is the
        # sort-slice projection, not a crossJoin + window shuffle
        assigned = owned_persist(_probe_cosine(
            base, [(r["__cid"], r["__cv"], r["__cn"])
                   for r in seed.collect()], nprobe))
    else:
        cent_rows = sorted((r["__cid"], r["__cv"]) for r in seed.collect())
        topn = _nearest_centroids_udf(cent_rows, nprobe)
        assigned = owned_persist(
            base.select("__id", "__v", "__n",
                        F.posexplode(topn(F.col("__v")))
                        .alias("__r0", "__cid"))
            .select("__id", "__v", "__n", "__cid",
                    (F.col("__r0") + 1).cast("int").alias("__cr")))

    a_src = assigned
    if max_queries is not None:
        qids = F.broadcast(assigned.select("__id").distinct()
                           .orderBy("__id").limit(max_queries))
        a_src = assigned.join(qids, "__id")
    a = a_src.select(F.col("__id").alias("query_id"), F.col("__v").alias("__qv"),
                     F.col("__n").alias("__qn"), "__cid")
    # inverted lists: members assigned to a centroid by their TOP-1 —
    # a subset of the probe assignment, so no second window pass
    b = (assigned.filter(F.col("__cr") == 1)
         .select(F.col("__id").alias("neighbor_id"), F.col("__v").alias("__iv"),
                 F.col("__n").alias("__in"), "__cid"))
    # each neighbor lives in exactly one top-1 list and a query's
    # probed cids are distinct, so (query_id, neighbor_id) pairs are
    # already unique — no dedup shuffle needed
    pairs = (
        a.join(b, "__cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (dot(F.col("__qv"), F.col("__iv"))
                 / (F.col("__qn") * F.col("__in"))).alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    m: int = 8, n_codes: int = 16, k: int = 5,
    train_iters: int = 2, max_queries: int = 50,
) -> DataFrame:
    """Product-quantization ADC search (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public).

    The third canonical ANN scale path next to LSH and IVF, and the
    one that changes the 100 TB storage story: each unit-normalized
    vector is split into ``m`` subvectors, every subvector is
    replaced by the id of its nearest per-subspace centroid
    (``n_codes`` per subspace, k-means-trained), so a d-dim float
    vector compresses to ``m`` small codes (d*4 bytes -> m bytes at
    n_codes<=256, 32x at d=64/m=8) and the corpus scan reads codes,
    never raw vectors. Query scoring is ADC (asymmetric distance
    computation): one lookup-table join + sum per subspace, no
    per-pair float dot products.

    All-relational implementation:
    - train: subvector explode -> broadcast-centroid assignment ->
      per-(subspace, centroid, pos) means; codebook is m*n_codes
      rows, collected driver-side per Lloyd round (same bounded-
      collect shape as ivf_topk's _kmeans_refine).
    - encode: top-1 assignment -> (id, subspace, code); persisted —
      at production scale this IS the stored index artifact.
    - search: LUT = query-subvector x codebook partial dots
      (q*m*n_codes rows, broadcast); exploded codes equi-join the
      LUT on (subspace, code) and sum partials per (query, item) —
      one shuffle, map-side combinable.

    ``max_queries`` bounds the probe set (lowest ids, like
    ``ivf_topk``): the scan side stays the full corpus. Output:
    (query_id, neighbor_id, adc, rank) — ``adc`` approximates the
    cosine of unit-normalized vectors; a unit test pins recall@k
    against exact cosine_topk.
    """
    spark = df.sparkSession
    # training/encode shuffles are small (codebook-sized after map-side
    # partial agg); AQE's coalescePartitions (64KB floor, session.py)
    # right-sizes their reducer counts. No partition count is set on
    # the session: a session-conf change re-plans any query planning
    # on it concurrently.
    return _pq_topk_impl(spark, df, id_col, vec_col, m, n_codes, k,
                         train_iters, max_queries)


def _pq_topk_impl(spark, df, id_col, vec_col, m, n_codes, k,
                  train_iters, max_queries) -> DataFrame:
    base = df.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__raw"),
    )
    # unit-normalize so sum-of-subspace dots == cosine (zero-norm
    # vectors stay all-zero rather than tripping ANSI divide-by-zero).
    # NB: the transform lambda must stay single-argument — pyspark
    # treats a two-arg lambda as (element, index)
    # The norm is materialized in its own projection first: referenced
    # inside the transform lambda, the l2norm fold would be
    # re-evaluated per ELEMENT (dims interpreted 2-pass folds per row;
    # the alias is non-cheap and referenced twice, so CollapseProject
    # keeps the split). Bit-identical values, measured 3.3 -> 0.9 s on
    # the sub fill at sf0.1.
    norm = l2norm(F.col("__raw"))
    unit = base.select("__id", norm.alias("__n"), "__raw").select(
        "__id",
        F.transform("__raw",
                    lambda x: F.when(F.col("__n") > 0, x / F.col("__n"))
                               .otherwise(F.lit(0.0))).alias("__v"))

    # deterministic seed: the n_codes lowest-id vectors. ONE bounded
    # collect supplies the dims probe, the seed ids, AND the seed
    # subvectors (sliced driver-side from the same unit-normalized
    # values the distributed slice would produce) — previously three
    # separate driver round-trips (head probe, id collect, isin-scan
    # collect), each its own job.
    seed_rows = unit.orderBy("__id").limit(n_codes).collect()
    if not seed_rows:  # empty corpus: empty result, not a crash
        return empty_df(
            spark, "query_id long, neighbor_id long, adc double, rank int")
    dims = len(seed_rows[0]["__v"])
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    sd = dims // m

    sub = unit.select(
        "__id",
        F.posexplode(F.array(*[
            F.slice("__v", i * sd + 1, sd) for i in range(m)
        ])).alias("__sub", "__sv"))
    sub = owned_persist(sub)

    def assign(cent_rows):
        """nearest centroid per (vector, subspace) under L2.

        The codebook lives driver-side between Lloyd rounds
        (``cent_rows``: (sub, cid, cv) tuples), so assignment is a
        broadcast join to an 8-row per-subspace candidate-ARRAY dim +
        an argmin projection — map-only, no keyed exchange and no
        m*n_codes-fanout intermediate (the previous 16-rows-per-
        subvector broadcast join + min_by groupBy paid a ~1.5 MB
        shuffle per call, 3 calls). Bit-identical: the d2 chain is
        the same strict left fold per element order, and
        array_min over struct(__d2, __cid) is the same
        (distance, lowest-cid) total order as min_by's struct key —
        ties (duplicate/tied seed subvectors) still break on the
        lowest centroid id so the next Lloyd round's means are
        reproducible."""
        by_sub: dict = {}
        for s, cid, cv in cent_rows:
            by_sub.setdefault(s, []).append((cid, [float(x) for x in cv]))
        dim = tiny_df(
            spark,
            [(s, sorted(cands)) for s, cands in sorted(by_sub.items())],
            "__sub int, __cands array<struct<__cid:int,__cv:array<double>>>")

        def d2(c):
            if sd > _UNROLL_MAX_DIMS:
                return F.aggregate(
                    F.zip_with(F.col("__sv"), c["__cv"],
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x)
            acc = F.lit(0.0)
            for i in range(1, sd + 1):
                dd = (F.element_at(F.col("__sv"), i)
                      - F.element_at(c["__cv"], i))
                acc = acc + dd * dd
            return acc

        best = F.array_min(F.transform(
            "__cands",
            lambda c: F.struct(d2(c).alias("__d2"),
                               c["__cid"].alias("__cid"))))["__cid"]
        return (sub.join(F.broadcast(dim), "__sub")
                .select("__id", "__sub", "__sv", best.alias("__cid")))

    cent_rows = [(s, cid, list(r["__v"][s * sd:(s + 1) * sd]))
                 for cid, r in enumerate(sorted(seed_rows,
                                                key=lambda r: r["__id"]))
                 for s in range(m)]
    for _ in range(train_iters):
        # sd avg(element_at) aggregates in ONE pass — no sd-x
        # posexplode row blowup, no second collect_list aggregate
        means = assign(cent_rows).groupBy("__sub", "__cid").agg(F.array(*[
            F.avg(F.element_at(F.col("__sv"), i + 1)) for i in range(sd)
        ]).alias("__cv"))
        cent_rows = [(r["__sub"], r["__cid"], list(r["__cv"]))
                     for r in means.collect()]
    cents = tiny_df(spark, [tuple(r) for r in cent_rows],
                    "__sub int, __cid int, __cv array<double>")

    # encode the corpus: (id, subspace, code) — the stored index.
    # count() fills the persist NOW so the ADC search below scans the
    # cached codes instead of re-running assignment per downstream use.
    codes = owned_persist(assign(cent_rows).select("__id", "__sub", "__cid"))
    codes.count()

    # probe set: LUT of partial dots per (query, subspace, centroid)
    probes = (sub.join(F.broadcast(
        unit.select("__id").orderBy("__id").limit(max_queries)
            .withColumnRenamed("__id", "__qid")),
        F.col("__id") == F.col("__qid"))
        .select(F.col("__qid").alias("query_id"), "__sub",
                F.col("__sv").alias("__qv")))
    lut = F.broadcast(
        probes.join(F.broadcast(cents), "__sub")
        .select("query_id", "__sub", "__cid",
                _unrolled_dot("__qv", "__cv", sd).alias("__p")))

    scored = (
        codes.join(lut, ["__sub", "__cid"])
        .groupBy("query_id", F.col("__id").alias("neighbor_id"))
        .agg(F.sum("__p").alias("adc"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc").desc(),
                                          F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)) \
                 .filter(F.col("rank") <= k)


def _nearest_stored_centroid(store, base: DataFrame, centroids_table: str,
                             n_centroids: int, carry: tuple = ()):
    """Assign each ``base`` row (``__id``, ``__v``) to its nearest
    centroid of the codebook stored in ``centroids_table`` — the
    codebook step the streaming indexes share. Returns ``(nearest,
    seed)``: ``nearest`` holds ``__id``, ``cid`` and the ``carry``
    columns of each row; ``seed`` is None, or, while the store holds
    no codebook (a footer-only row count, no Spark job), the
    ``n_centroids`` lowest-id vectors of this batch — the
    deterministic seeding rule shared by every codebook in this
    module — which the caller commits with its first batch.

    Distances are rounded to 6dp with a lowest-centroid tie-break so
    the assignment is bit-reproducible across engines/retries — an
    arbitrary argmin on raw doubles would make the stored index
    nondeterministic (same trap the PQ Lloyd tie-break fixes)."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("cid", T.IntegerType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ])
    seed = None
    if store.table_rows(centroids_table):
        cents = store.read(centroids_table, schema)
    else:
        rows = base.orderBy("__id").limit(n_centroids).collect()
        cents = seed = tiny_df(
            base.sparkSession,
            [(i, list(r["__v"])) for i, r in enumerate(rows)], schema)
    d2 = F.round(F.aggregate(
        F.zip_with(F.col("__v"), F.col("cv"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    nearest = (base.join(F.broadcast(cents))
               .select("__id", *carry, "cid", d2.alias("__d2"))
               .groupBy("__id").agg(
                   F.min_by(F.struct("cid", *carry),
                            F.struct(F.col("__d2"), F.col("cid")))
                    .alias("__w"))
               .select("__id", "__w.*"))
    return nearest, seed


def incremental_ivf_assignments(
    store, new_vecs: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", *, batch_id: int, n_centroids: int = 8,
    centroids_table: str = "ivf_centroids",
    assign_table: str = "ivf_assignments",
) -> None:
    """Streaming ANN index maintenance: assign each arriving vector to
    its nearest stored centroid and append the inverted-list rows
    atomically — the vector-index analog of
    ``dedup.incremental_minhash_pairs``.

    The FIRST batch seeds the codebook with its ``n_centroids``
    lowest-id vectors (deterministic, the same seeding rule as
    ``ivf_topk``) and commits it in the same transaction as its
    assignments; later batches read the persisted codebook (a
    bounded broadcast) and do O(batch x n_centroids) distance work —
    never rescanning old vectors. A replayed ``batch_id`` is skipped
    before any compute (exactly-once, per-index txn counter).
    Assignment is bit-reproducible (``_nearest_stored_centroid``).

    Scale: per batch one broadcast join (codebook is tiny), one
    map-side min_by aggregate keyed by vector id, one appended
    parquet write. Index size grows O(total vectors), per-batch cost
    O(batch) — a continuously-arriving embedding feed never pays a
    rebuild. Queries then search ``nprobe`` lists exactly like
    ``ivf_topk``'s probe stage.
    """
    def build(keep):
        base = new_vecs.select(F.col(id_col).alias("__id"),
                               as_double(F.col(vec_col)).alias("__v"))
        nearest, seed = _nearest_stored_centroid(
            store, base, centroids_table, n_centroids)
        assigned = nearest.select(
            F.col("__id").cast("long").alias("vec_id"),
            F.col("cid").cast("long").alias("centroid"))
        return [(assign_table, assigned)] + (
            [(centroids_table, seed)] if seed is not None else [])

    index_step(store, f"ivf_index:{centroids_table}:{assign_table}",
               batch_id, build)


def _nearest_centroid_udf(cents: list):
    """Build a vectorized Arrow UDF mapping an embedding to its
    nearest centroid id by cosine. ``cents`` is [(cid, vector)],
    sorted ascending by cid so numpy's first-max argmax reproduces
    the lowest-cid tie-break.

    Why a UDF here and not the crossJoin + top-1 expression the rest
    of the file favors: scoring N vectors against C centroids as
    DataFrame expressions materializes an N x C intermediate and
    evaluates ``zip_with``+``aggregate`` per pair (one 64-element
    array allocation each — 89M allocations at 200k x 447, ~27 s
    however the top-1 is taken, window or max_by). The BLAS form is
    one ``X @ C.T`` matmul per Arrow batch with NO N x C rows ever
    existing JVM-side (~2 s; ``cosine_topk`` prefilters the same way).
    Centroids ride the closure (k x d doubles, ~230 KB at 447 x 64)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c for c, _ in cents], dtype=np.int64)
    m = np.array([list(v) for _, v in cents], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mn = m / norms  # row-normalized: argmax of X @ mn.T == argmax cosine

    @pandas_udf("long")
    def best(col):  # type: ignore[no-untyped-def]
        if not len(col):
            return pd.Series([], dtype="int64")
        x = np.array(list(col), dtype=np.float64)
        return pd.Series(cids[(x @ mn.T).argmax(axis=1)])

    return best


def _nearest_centroids_udf(cents: list, nprobe: int):
    """Top-``nprobe`` variant of ``_nearest_centroid_udf`` for the
    IVF assignment: returns the nprobe nearest centroid ids per
    vector, cosine-descending with the lowest-cid tie-break (stable
    argsort over ascending-cid columns). Same BLAS-per-batch shape
    and closure-shipped codebook."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c for c, _ in cents], dtype=np.int64)
    m = np.array([list(v) for _, v in cents], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mn = m / norms
    n = min(nprobe, len(cents))

    @pandas_udf("array<long>")
    def best_n(col):  # type: ignore[no-untyped-def]
        if not len(col):
            return pd.Series([], dtype="object")
        x = np.array(list(col), dtype=np.float64)
        order = np.argsort(-(x @ mn.T), axis=1, kind="stable")[:, :n]
        return pd.Series(list(cids[order]))

    return best_n


def kmeans_assign(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_clusters: int = 16, train_iters: int = 2,
    arrow_threshold: int = 64,
) -> DataFrame:
    """Batch k-means cluster assignment over an embedding column:
    the clustering half of SemDeDup-style semantic deduplication
    (cluster the embedding space, then compare pairs only WITHIN a
    cluster — pairwise work drops from O(N^2) to O(sum c_i^2)).

    Codebook: the ``n_clusters`` lowest-id vectors seed the centroids
    (reproducible, the same rule as ``ivf_topk``); ``train_iters``
    Lloyd rounds refine them; assignment is nearest-centroid by
    cosine with a lowest-cid tie-break.

    The scoring PATH is size-gated on the codebook, the same shape as
    size-gated broadcasts: at C <= ``arrow_threshold`` centroids the
    N x C expression plan (broadcast crossJoin + window top-1,
    ``_kmeans_refine``) is cheap and avoids spinning up Python
    workers; above it, expression dots dominate (an array allocation
    per pair — 89M at 200k x 447, ~27 s) and assignment switches to
    the Arrow-BLAS argmax (`_nearest_centroid_udf`: one X @ C.T
    matmul per batch, codebook in the closure, measured 103 -> 12 s
    for the full 200k assign pipeline; SURVEY finding #17). Both
    paths produce identical assignments up to float ulps on exact
    score ties.

    Output: (id, cluster_id). Downstream consumers treat the
    assignment as a published artifact (parquet handoff), so
    run-to-run float variation never has to be reproducible — only
    the within-cluster logic computed FROM the assignment does.

    Scale: centroid count is chosen ~sqrt(N) like IVF, putting real
    corpora on the Arrow path; each Lloyd round is one scan of the
    persisted vector table and no N x C rows ever exist there.
    """
    if n_clusters <= arrow_threshold:
        base = df.select(
            F.col(id_col).alias("__id"),
            as_double(F.col(vec_col)).alias("__v"),
        ).withColumn("__n", l2norm(F.col("__v")))
        seed = base.orderBy("__id").limit(n_clusters).select(
            F.col("__id").alias("__cid"), F.col("__v").alias("__cv"),
            F.col("__n").alias("__cn"))
        if train_iters > 0:
            base = owned_persist(base)
            seed = _kmeans_refine(base, seed, train_iters)
        # the codebook is <= arrow_threshold rows — the same bounded
        # collect every Lloyd round already does
        cand = [(r["__cid"], r["__cv"], r["__cn"]) for r in seed.collect()]
        return _argmax_cosine(base, cand).select(
            F.col("__id").alias(id_col), F.col("__cid").alias("cluster_id"))

    base = df.select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"))
    if train_iters > 0:
        base = owned_persist(base)

    cents = sorted(
        (r["__id"], r["__v"])
        for r in base.orderBy("__id").limit(n_clusters).collect())
    for _ in range(train_iters):
        best = _nearest_centroid_udf(cents)
        top1 = base.select(best(F.col("__v")).alias("__cid"), "__v")
        dims = len(cents[0][1])
        means = top1.groupBy("__cid").agg(F.array(*[
            F.avg(F.element_at(F.col("__v"), i + 1)) for i in range(dims)
        ]).alias("__cv"))
        cents = sorted((r["__cid"], r["__cv"]) for r in means.collect())

    best = _nearest_centroid_udf(cents)
    return base.select(F.col("__id").alias(id_col),
                       best(F.col("__v")).alias("cluster_id"))


def shard_oversized_clusters(assignments: DataFrame,
                             id_col: str = "vec_id",
                             cluster_col: str = "cluster_id",
                             max_cluster_size: int | str = 500) -> DataFrame:
    """Split any cluster larger than ``max_cluster_size`` into
    deterministic hash shards, re-keying ``cluster_col`` to
    ``cid * 2^16 + shard`` (shard 0 when under the cap).

    This is the SemDeDup analog of ``lsh_topk``'s bucket cap: k-means
    *can* split a dense directional cluster that LSH sign planes
    saturate on (Lloyd separates by distance, not sign), but nothing
    stops one centroid from owning a skewed share of the corpus, and
    within-cluster pair work is quadratic in occupancy. Sharding
    bounds it at N x cap. The policy runs entirely on the producer
    side — consumers (and the oracle handshake) see only the final
    blocking key in the published assignment, so capping never
    changes the verification contract, only the candidate set (a
    recall knob, exactly like the LSH cap).

    ``max_cluster_size="auto"`` applies the lsh_topk work-budget law
    (finding 31): cap = max(LSH_AUTO_CAP_FLOOR, ceil(sqrt(
    LSH_AUTO_CAP_MULT * N))) from a one-row census — within-shard
    pair work stays N^1.5-bounded while the per-shard candidate set
    GROWS with the corpus instead of freezing at a hand-tuned 500."""
    # the input feeds the size census AND the re-key join (plus the
    # optional auto census) — persist the O(N)-row (id, cluster)
    # table once, or an expensive upstream (the k-means assignment
    # DAG) re-executes per reference: measured ~16 duplicate
    # broadcast-exchange jobs in one q_semantic_dedup_banded run
    assignments = owned_persist(assignments)
    sizes = (assignments.groupBy(cluster_col)
             .agg(F.count(F.lit(1)).alias("__sz")))
    if max_cluster_size == "auto":
        census = assignments.select(F.count(F.lit(1)).alias("__ncen"))
        sizes = sizes.join(F.broadcast(census))
        cap = F.greatest(
            F.lit(LSH_AUTO_CAP_FLOOR).cast("long"),
            F.ceil(F.sqrt(F.col("__ncen") * LSH_AUTO_CAP_MULT))
             .cast("long"))
    else:
        cap = F.lit(int(max_cluster_size)).cast("long")
    n_shards = F.ceil(F.col("__sz") / cap).cast("long")
    return (assignments.join(F.broadcast(sizes), cluster_col)
            .select(F.col(id_col),
                    (F.col(cluster_col).cast("long") * F.lit(65536)
                     + F.pmod(F.xxhash64(F.col(id_col)), n_shards))
                    .alias(cluster_col)))


def _band_code_udf(n_planes: int, seed: int):
    """Arrow-batch kernel: centered random-hyperplane sign code per
    vector — ``bits((v - centroid) @ R > 0)`` with the plane matrix
    generated once per worker from a fixed seed (deterministic given
    seed + dim). Centering at the CLUSTER centroid is the point:
    global sign planes saturate inside a dense direction (SURVEY
    finding: buckets collapse to the cluster count), while centered
    planes split the cluster's own spread evenly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def code(v_col, c_col):  # type: ignore[no-untyped-def]
        if not len(v_col):
            return pd.Series([], dtype="int64")
        x = np.array(list(v_col), dtype=np.float64)
        c = np.array(list(c_col), dtype=np.float64)
        r = np.random.RandomState(seed).standard_normal(
            (x.shape[1], n_planes))
        bits = ((x - c) @ r) > 0
        return pd.Series((bits @ (1 << np.arange(n_planes)))
                         .astype(np.int64))

    return code


def band_oversized_clusters(assignments: DataFrame, vectors: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            cluster_col: str = "cluster_id",
                            max_cluster_size: int = 500,
                            n_planes: int = 3, seed: int = 7) -> DataFrame:
    """Recall-aware alternative to plain ``shard_oversized_clusters``:
    before capping, split each OVERSIZED cluster by LSH sign-banding
    around its own centroid, so near-duplicates (small angular
    distance) stay in the same sub-block with high probability —
    versus the flat ~1/n_shards survival a random hash shard gives a
    true pair. Under-cap clusters pass through unchanged (re-keyed
    into the same widened keyspace).

    The residual cap still applies: a band bucket that remains above
    ``max_cluster_size`` (a tight sub-cluster all planes agree on) is
    hash-sharded by the existing policy, so the N x cap pair bound is
    unconditional. Like the hash shard, this runs entirely on the
    producer side — consumers and the oracle handshake see only the
    final blocking key in the published assignment.

    Scale: sizes/centroids are O(clusters) broadcasts; the band code
    is one Arrow matmul per batch over only the oversized clusters'
    rows. Pair budget never increases (blocks only get smaller);
    recall at fixed budget goes up (BENCH_semdedup_band probe)."""
    # persist the caller's assignment plan (typically the k-means
    # crossJoin+window DAG): it feeds the size census and the re-key
    # join, and would re-execute per reference otherwise
    assignments = owned_persist(assignments)
    sizes = assignments.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("__sz"))
    a = assignments.join(F.broadcast(sizes), cluster_col)
    widened = F.col(cluster_col).cast("long") * F.lit(1 << n_planes)
    small = a.filter(F.col("__sz") <= max_cluster_size).select(
        F.col(id_col), widened.alias(cluster_col))
    big = a.filter(F.col("__sz") > max_cluster_size)
    # bigv feeds the centroid means AND the band-code join
    bigv = owned_persist(big.join(
        vectors.select(F.col(id_col),
                       as_double(F.col(vec_col)).alias("__v")), id_col))
    cents = (bigv.select(cluster_col,
                         F.posexplode("__v").alias("__pos", "__val"))
             .groupBy(cluster_col, "__pos")
             .agg(F.avg("__val").alias("__m"))
             .groupBy(cluster_col)
             .agg(F.sort_array(F.collect_list(F.struct("__pos", "__m")))
                  .alias("__s"))
             .select(cluster_col,
                     F.transform("__s", lambda x: x["__m"]).alias("__cent")))
    code = _band_code_udf(n_planes, seed)
    banded = (bigv.join(F.broadcast(cents), cluster_col)
              .select(F.col(id_col),
                      (widened + code(F.col("__v"), F.col("__cent")))
                      .alias(cluster_col)))
    # assignment rows whose id has no vector (retention-trimmed
    # embeddings, caller-filtered vector table) must NOT vanish from
    # the published blocking table — route them to a deterministic
    # pseudo-band by id hash instead (the residual cap still bounds
    # whatever lands together)
    unbanded = (big.join(vectors.select(F.col(id_col)), id_col,
                         "left_anti")
                .select(F.col(id_col),
                        (widened + F.pmod(F.xxhash64(F.col(id_col)),
                                          F.lit(1 << n_planes)))
                        .alias(cluster_col)))
    return shard_oversized_clusters(
        small.unionByName(banded).unionByName(unbanded),
        id_col=id_col, cluster_col=cluster_col,
        max_cluster_size=max_cluster_size)


def semantic_dedup_within(
    assignments: DataFrame, vectors: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    cluster_col: str = "cluster_id", threshold: float = 0.95,
) -> DataFrame:
    """The dedup half of SemDeDup: given published cluster
    ``assignments`` (id, cluster_id) and the vector table, drop every
    vector that has a LOWER-id near-duplicate (cosine >= threshold)
    in the same cluster, keeping the lowest id of each duplicate
    neighborhood as its representative.

    Output: (id, cluster_id, kept 0/1, dup_of — the smallest
    lower-id near-duplicate, NULL for kept rows). Keep-lowest-id is
    deterministic and engine-independent, so the same rows fall out
    of any engine that reads the same assignment dump — that is the
    oracle handshake for the whole pipeline.

    Scale: the pair join is an equi-join on cluster_id (never a cross
    product); within-cluster pair work is bounded by the cluster-size
    distribution, which k ~ sqrt(N) keeps subquadratic. Skewed giant
    clusters get sharded upstream the same way ``lsh_topk`` shards
    saturated buckets.
    """
    j = owned_persist(
        assignments.select(F.col(id_col).alias("__id"),
                           F.col(cluster_col).alias("__c"))
        .join(vectors.select(F.col(id_col).alias("__id"),
                             as_double(F.col(vec_col)).alias("__v")),
              "__id")
        .withColumn("__n", l2norm(F.col("__v"))))
    a, b = j.alias("a"), j.alias("b")
    dup = (a.join(b, (F.col("a.__c") == F.col("b.__c"))
                  & (F.col("a.__id") < F.col("b.__id")))
           .select(F.col("b.__id").alias("__id"),
                   F.col("a.__id").alias("__lo"),
                   (dot(F.col("a.__v"), F.col("b.__v"))
                    / (F.col("a.__n") * F.col("b.__n"))).alias("__cos"))
           .filter(F.col("__cos") >= threshold)
           .groupBy("__id").agg(F.min("__lo").alias("dup_of")))
    return (j.join(dup, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.col("__c").alias(cluster_col),
                    F.when(F.col("dup_of").isNull(), F.lit(1))
                     .otherwise(F.lit(0)).cast("int").alias("kept"),
                    F.col("dup_of").cast("long").alias("dup_of")))


def incremental_semantic_dedup(
    store, new_vecs: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", *, batch_id: int,
    n_centroids: int = 8, threshold: float = 0.95,
    members_table: str = "semdedup_members",
    verdict_table: str = "semdedup_verdicts",
    centroids_table: str = "semdedup_centroids",
) -> None:
    """Streaming SemDeDup: dedup each arriving vector batch against
    the already-ingested corpus — the embedding analog of the
    incremental MinHash index (text) and the third member of the
    streaming-index family next to ``incremental_ivf_assignments``.

    The FIRST batch seeds the centroid codebook (its ``n_centroids``
    lowest-id vectors, the deterministic seeding rule shared by every
    codebook in this module) and commits it with its members and
    verdicts in one transaction. Every batch: assign to the stored
    codebook (bounded broadcast, 6dp-rounded distance + lowest-cid
    tie-break so the assignment is bit-reproducible), then compare
    ONLY against stored members of the same cluster plus lower-id
    members of this batch's own cluster slice. A vector is DROPPED
    when any such earlier vector (ordered by (batch, id)) has cosine
    >= ``threshold``; ``dup_of`` is the lowest-id qualifying earlier
    vector. Comparisons run against ALL earlier members, kept or
    dropped — drop status never feeds back, so the verdict for any
    vector is a pure function of the assignment table (that is what
    makes the decision re-derivable by a SQL oracle without
    replaying the batch sequence). Replayed ``batch_id`` no-ops
    before any compute (exactly-once, per-index txn counter).

    Scale: per batch one broadcast assignment + one equi-join on
    cluster_id against stored members — old vectors are never
    rescanned outside the probed clusters, and the per-cluster
    occupancy cap story from ``shard_oversized_clusters`` applies
    unchanged if clusters grow hot.
    """
    import pyspark.sql.types as T

    def build(keep):
        base = new_vecs.select(F.col(id_col).alias("__id"),
                               as_double(F.col(vec_col)).alias("__v"))
        nearest, seed = _nearest_stored_centroid(
            store, base, centroids_table, n_centroids, carry=("__v",))
        # assigned feeds members, verdicts and both sides of the dup join
        assigned = keep(nearest.select(
            "__id", F.col("cid").cast("long").alias("cluster_id"), "__v")
            .withColumn("__n", l2norm(F.col("__v"))))

        mem_schema = T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("batch_id", T.LongType()),
            T.StructField("cluster_id", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ])
        stored = (store.read(members_table, mem_schema)
                  .withColumn("__sn", l2norm(F.col("vec"))))
        earlier_same_batch = assigned.select(
            F.col("__id").alias("vec_id"), F.lit(batch_id).cast("long")
            .alias("batch_id"), "cluster_id", F.col("__v").alias("vec"),
            F.col("__n").alias("__sn"))
        prior = stored.unionByName(earlier_same_batch)
        dup = (assigned.alias("b")
               .join(prior.alias("a"),
                     (F.col("a.cluster_id") == F.col("b.cluster_id"))
                     & ((F.col("a.batch_id") < F.lit(batch_id))
                        | (F.col("a.vec_id") < F.col("b.__id"))))
               .select(F.col("b.__id").alias("__id"),
                       F.col("a.vec_id").alias("__prev"),
                       (dot(F.col("a.vec"), F.col("b.__v"))
                        / (F.col("a.__sn") * F.col("b.__n")))
                       .alias("__cos"))
               .filter(F.col("__cos") >= threshold)
               .groupBy("__id").agg(F.min("__prev").alias("dup_of")))

        verdicts = (assigned.join(dup, "__id", "left")
                    .select(F.col("__id").cast("long").alias("vec_id"),
                            F.lit(batch_id).cast("long").alias("batch_id"),
                            "cluster_id",
                            F.when(F.col("dup_of").isNull(), 1).otherwise(0)
                            .cast("int").alias("kept"),
                            F.col("dup_of").cast("long").alias("dup_of")))
        members = assigned.select(
            F.col("__id").cast("long").alias("vec_id"),
            F.lit(batch_id).cast("long").alias("batch_id"),
            "cluster_id", F.col("__v").alias("vec"))
        return [(members_table, members), (verdict_table, verdicts)] + (
            [(centroids_table, seed)] if seed is not None else [])

    index_step(store, f"semdedup:{members_table}:{verdict_table}",
               batch_id, build)
