"""Build-once persisted artifacts must be releasable by the caller.

The similarity/dedup operators persist intermediates (band tables,
posting lists, fingerprint tables, IVF assignments) that stay in the
returned lazy plan — ``test_scale_plans`` pins the InMemoryTableScan.
In a long-running service those blocks must not accumulate: the
``cache.build_artifacts`` scope frees everything an operator persisted
once its result is consumed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from obmp_psql_spark.operators import cache
from obmp_psql_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from obmp_psql_spark.operators.similarity import (
    pq_topk,
    embedding_neardup_pairs,
    ivf_topk,
    lsh_topk,
)

from .conftest import SF_SMALL


def _cached_rdd_ids(spark) -> set:
    """Ids of currently-persisted RDDs.

    Tests assert on SET DIFFERENCES of these ids, never absolute
    counts: the async ContextCleaner can reap another test's cached
    RDD concurrently in the shared session, which shrinks a count
    mid-test and flakes an equality assertion (seen in round 6).
    A set-difference check — "no id persisted by THIS operator
    survives" — is immune to concurrent reaping.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(x) for x in jmap.keySet().toArray()}


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet") \
        .select("doc_id", "text").limit(60)


def _vecs(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet") \
        .select("vec_id", "embedding").limit(60)


@pytest.mark.parametrize("build", [
    lambda s: minhash_lsh_pairs(_docs(s), "doc_id", "text",
                                num_hashes=8, bands=2),
    lambda s: ngram_jaccard_pairs(_docs(s), "doc_id", "text",
                                  threshold=0.1),
    lambda s: ngram_jaccard_pairs(_docs(s), "doc_id", "text",
                                  threshold=0.1, max_doc_freq=20),
    lambda s: simhash_neardup_pairs(_docs(s), "doc_id", "text",
                                    bits=32, bands=4, max_hamming=6),
    lambda s: lsh_topk(_vecs(s), dims=16, n_planes=4, k=3),
    lambda s: ivf_topk(_vecs(s), n_centroids=4, nprobe=2, k=3,
                       train_iters=1),
    lambda s: embedding_neardup_pairs(_vecs(s), threshold=0.5,
                                      allow_full_cross=True),
    lambda s: pq_topk(_vecs(s), m=4, n_codes=4, k=3, train_iters=1,
                      max_queries=10),
], ids=["minhash", "ngram", "ngram_capped", "simhash_pairs",
        "lsh", "ivf_trained", "embed_neardup", "pq"])
def test_operator_artifacts_released(spark, build):
    cache.release_build_artifacts()  # clean slate from other tests
    before = _cached_rdd_ids(spark)
    with cache.build_artifacts():
        n = build(spark).count()
        assert n >= 0
        # the operator did persist something inside the scope
        assert _cached_rdd_ids(spark) - before
    assert not (_cached_rdd_ids(spark) - before)


def test_explicit_release(spark):
    cache.release_build_artifacts()
    before = _cached_rdd_ids(spark)
    pairs = minhash_lsh_pairs(_docs(spark), "doc_id", "text",
                              num_hashes=8, bands=2)
    pairs.count()
    assert _cached_rdd_ids(spark) - before
    freed = cache.release_build_artifacts()
    assert freed >= 1
    assert not (_cached_rdd_ids(spark) - before)


def test_release_before_consume_still_correct(spark):
    """Releasing early forfeits the build-once saving but must not
    change results (Spark recomputes the unpersisted intermediate)."""
    cache.release_build_artifacts()
    docs = _docs(spark)
    with cache.build_artifacts():
        kept = {(r.id_a, r.id_b) for r in
                minhash_lsh_pairs(docs, "doc_id", "text",
                                  num_hashes=8, bands=2).collect()}
    early = minhash_lsh_pairs(docs, "doc_id", "text",
                              num_hashes=8, bands=2)
    cache.release_build_artifacts()
    assert {(r.id_a, r.id_b) for r in early.collect()} == kept


def test_scope_is_exception_safe(spark):
    cache.release_build_artifacts()
    before = _cached_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with cache.build_artifacts():
            minhash_lsh_pairs(_docs(spark), "doc_id", "text",
                              num_hashes=8, bands=2).count()
            raise RuntimeError("boom")
    assert not (_cached_rdd_ids(spark) - before)


def test_incremental_minhash_equals_batch_any_split(spark):
    """Property: for ANY partition of the corpus into ordered batches,
    the incrementally-maintained pair set equals the batch-built one
    (every cross-batch pair emitted exactly once, replays no-ops)."""
    import tempfile

    from pyspark.sql import functions as F

    from obmp_psql_spark.operators.dedup import (incremental_minhash_pairs,
                                                 minhash_lsh_pairs)
    from obmp_psql_spark.state import TxnStateStore

    docs = _docs(spark).withColumn("text", F.lower(F.col("text")))
    batch_expr = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    expected = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2).collect()}
    cache.release_build_artifacts()

    store = TxnStateStore(spark, tempfile.mkdtemp(prefix="mh_prop_"))
    before = _cached_rdd_ids(spark)
    for b in range(3):
        part = docs.filter(batch_expr == b)
        incremental_minhash_pairs(store, part, "doc_id", "text",
                                  batch_id=b, num_hashes=8, bands=2)
    # replay every batch: all must be no-ops
    for b in range(3):
        part = docs.filter(batch_expr == b)
        incremental_minhash_pairs(store, part, "doc_id", "text",
                                  batch_id=b, num_hashes=8, bands=2)
    # the per-batch band persist must not outlive the call: a
    # long-running stream would otherwise accumulate blocks forever
    assert not (_cached_rdd_ids(spark) - before)
    got = {(r.id_a, r.id_b) for r in store.read("doc_pairs").collect()}
    assert got == expected
    # and exactly once: no duplicate physical rows either
    assert store.read("doc_pairs").count() == len(expected)


def test_incremental_minhash_two_indexes_one_store(spark):
    """Two indexes maintained in the same store must keep independent
    replay-version counters — batch 0 of the second index must not be
    skipped as a replay of the first's batch 0."""
    import tempfile

    from obmp_psql_spark.operators.dedup import incremental_minhash_pairs
    from obmp_psql_spark.state import TxnStateStore

    docs = _docs(spark)
    store = TxnStateStore(spark, tempfile.mkdtemp(prefix="mh_two_"))
    incremental_minhash_pairs(store, docs, "doc_id", "text",
                              batch_id=0, num_hashes=8, bands=2)
    incremental_minhash_pairs(store, docs, "doc_id", "text",
                              batch_id=0, num_hashes=8, bands=2,
                              bands_table="alt_bands",
                              pairs_table="alt_pairs")
    base = {(r.id_a, r.id_b) for r in store.read("doc_pairs").collect()}
    alt = {(r.id_a, r.id_b) for r in store.read("alt_pairs").collect()}
    assert alt == base  # same corpus, same params => same pairs
    assert store.read("alt_bands").count() == store.read("doc_bands").count()


def test_incremental_minhash_legacy_counter_migration(spark):
    """A store whose batches committed under the pre-upgrade shared
    'minhash_index' app key must not reprocess its history when the
    per-index key first sees a replayed batch_id (exactly-once across
    the upgrade); a genuinely new batch must still process."""
    import tempfile

    from obmp_psql_spark.operators.dedup import incremental_minhash_pairs
    from obmp_psql_spark.state import TxnStateStore

    docs = _docs(spark)
    store = TxnStateStore(spark, tempfile.mkdtemp(prefix="mh_mig_"))
    # simulate a legacy store: batches 0..1 committed under the old key
    with store.transaction("minhash_index", 0):
        pass
    with store.transaction("minhash_index", 1):
        pass

    # replayed batch under the NEW key: must no-op via the seeded counter
    incremental_minhash_pairs(store, docs, "doc_id", "text",
                              batch_id=1, num_hashes=8, bands=2)
    assert "doc_bands" not in store.snapshot().tables

    # a new batch processes normally
    incremental_minhash_pairs(store, docs, "doc_id", "text",
                              batch_id=2, num_hashes=8, bands=2)
    assert store.read("doc_bands").count() > 0

    # a NON-default index in the same legacy store must NOT inherit the
    # legacy counter (it never had correct isolation under it)
    incremental_minhash_pairs(store, docs, "doc_id", "text",
                              batch_id=0, num_hashes=8, bands=2,
                              bands_table="alt_bands",
                              pairs_table="alt_pairs")
    assert store.read("alt_bands").count() > 0


def _fps(spark):
    base = 0x155555555555555
    return spark.createDataFrame([(i, base ^ (i % 3)) for i in range(16)],
                                 "img_id long, dhash long")


def _frames(spark):
    base = 0x4CCCCCCCCCCCCCC
    return spark.createDataFrame(
        [(v, f, base ^ (v % 2) ^ (f << 40)) for v in range(6)
         for f in range(3)], "vid_id long, frame_index int, dhash long")


def _incremental_ops():
    """op -> (its input, one micro-batch of it)."""
    from obmp_psql_spark.operators.dedup import (
        incremental_fingerprint_pairs, incremental_frameset_pairs,
        incremental_minhash_pairs)
    from obmp_psql_spark.operators.pca import incremental_gram_update
    from obmp_psql_spark.operators.similarity import (
        incremental_ivf_assignments, incremental_semantic_dedup)
    from obmp_psql_spark.operators.sketch import (
        incremental_mg_update, incremental_quantile_update)

    return {
        "minhash": (_docs, lambda st, df, b: incremental_minhash_pairs(
            st, df, "doc_id", "text", batch_id=b, num_hashes=8, bands=2)),
        "fingerprint": (_fps, lambda st, df, b: incremental_fingerprint_pairs(
            st, df, "img_id", "dhash", batch_id=b)),
        "frameset": (_frames, lambda st, df, b: incremental_frameset_pairs(
            st, df, "vid_id", "frame_index", "dhash", batch_id=b)),
        "ivf": (_vecs, lambda st, df, b: incremental_ivf_assignments(
            st, df, batch_id=b, n_centroids=4)),
        "semdedup": (_vecs, lambda st, df, b: incremental_semantic_dedup(
            st, df, batch_id=b, n_centroids=4)),
        "pca": (_vecs, lambda st, df, b: incremental_gram_update(
            st, df, "embedding", 64, batch_id=b)),
        "mg": (_docs, lambda st, df, b: incremental_mg_update(
            st, df.select(F.substring("text", 1, 2).alias("term")),
            "term", 8, batch_id=b)),
        "quantile": (_docs, lambda st, df, b: incremental_quantile_update(
            st, df.select(F.col("doc_id").cast("double").alias("v")),
            "v", 16, batch_id=b)),
    }


@pytest.mark.parametrize("op", ["minhash", "fingerprint", "frameset", "ivf",
                                "semdedup", "pca", "mg", "quantile"])
def test_incremental_replay_runs_no_job_and_leaks_no_rdd(spark, tmp_path,
                                                         op):
    """Every streaming-index operator goes through ``state.index_step``:
    a replayed ``batch_id`` is skipped before any compute — no Spark
    job, no commit — and no batch, first or replayed, leaves a
    persisted RDD behind (a long-running stream would accumulate one
    per batch)."""
    from obmp_psql_spark.state import TxnStateStore

    make, run = _incremental_ops()[op]
    df = make(spark)  # outside the group: a parquet read infers its schema
    store = TxnStateStore(spark, str(tmp_path / op))
    before = _cached_rdd_ids(spark)
    run(store, df, 0)
    version = store.snapshot().version
    assert version >= 0
    sc = spark.sparkContext
    group = f"replay-{op}"
    sc.setJobGroup(group, "a replayed batch")
    try:
        run(store, df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert store.snapshot().version == version
    assert not (_cached_rdd_ids(spark) - before)
