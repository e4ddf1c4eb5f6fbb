"""Scale-design proofs: bucketed state joins avoid the state-side
shuffle; salted aggregation matches direct aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from obmp_psql_spark.operators.skew import salted_agg


def test_bucketed_state_join_skips_state_shuffle(spark, tmp_path):
    """README/§4 claim: with the state table bucketed by the merge
    key, only the batch side shuffles. Verified on the physical plan:
    unbucketed join has 2 Exchanges, bucketed has 1 (batch side)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        state = spark.range(0, 10000).select(
            F.concat(F.lit("h"), F.col("id")).alias("hash_id"),
            (F.col("id") % 97).alias("v"))
        batch = spark.range(0, 500).select(
            F.concat(F.lit("h"), F.col("id") * 7).alias("hash_id"),
            F.lit(1).alias("w"))

        plain = state.join(batch, "hash_id")
        plain_exchanges = plain._jdf.queryExecution().executedPlan() \
            .toString().count("Exchange hashpartitioning")

        spark.sql("DROP TABLE IF EXISTS ip_rib_bucketed")
        # external table path: warehouse.dir is a static conf, so
        # point the table itself at the pytest tmp dir
        state.write.bucketBy(8, "hash_id").sortBy("hash_id") \
            .option("path", str(tmp_path / "ip_rib_bucketed")) \
            .saveAsTable("ip_rib_bucketed")
        bucketed = spark.table("ip_rib_bucketed").join(batch, "hash_id")
        b_plan = bucketed._jdf.queryExecution().executedPlan().toString()
        b_exchanges = b_plan.count("Exchange hashpartitioning")

        assert plain_exchanges == 2
        assert b_exchanges == 1  # only the batch side shuffles
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS ip_rib_bucketed")


def test_salted_agg_matches_direct(spark):
    """Hot-key salting must be value-identical to the direct
    aggregation (algebraic aggregates only)."""
    df = spark.range(0, 20000).select(
        # one massively hot key + a long tail
        F.when(F.col("id") % 10 < 8, "HOT").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50))).alias("key"),
        (F.col("id") % 1000).alias("v"))
    direct = {r.key: (r.total, r.n, r.lo, r.hi) for r in
              df.groupBy("key").agg(
                  F.sum("v").alias("total"), F.count("v").alias("n"),
                  F.min("v").alias("lo"), F.max("v").alias("hi")).collect()}
    salted = {r.key: (r.total, r.n, r.lo, r.hi) for r in
              salted_agg(df, ["key"], {
                  "total": ("v", "sum"), "n": ("v", "count"),
                  "lo": ("v", "min"), "hi": ("v", "max")}, n_salt=16).collect()}
    assert direct == salted
    assert direct["HOT"][1] == 16000


def test_build_once_indexes_are_materialized(spark):
    """The IVF assignment, minhash band table, and ngram inverted
    index feed multiple plan branches; each must appear as an
    InMemoryTableScan (persisted build-once artifact), not be
    re-derived per branch. Guards the PLANS.md materialization
    claims against an accidentally dropped persist."""
    import pandas as pd

    from obmp_psql_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs)
    from obmp_psql_spark.operators.similarity import ivf_topk

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": [f"the quick brown fox {i} jumps over {i % 7}" for i in range(40)],
    }))
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(40),
        "embedding": [[float((i * 7 + d) % 13) for d in range(8)] for i in range(40)],
    }))

    plans = {
        "ivf": ivf_topk(vecs, n_centroids=4, nprobe=2, k=3),
        "minhash": minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=2),
        "ngram": ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1),
    }
    for name, df in plans.items():
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in physical, \
            f"{name}: build-once index not materialized\n{physical[:2000]}"


def test_registry_has_no_unplanned_cross_joins(spark):
    """Every registered query's physical plan must be free of
    CartesianProduct and of BroadcastNestedLoopJoin outside the
    whitelist in ``plans.audit`` (bounded-by-construction broadcast
    sides: IVF centroids, probe sets, 1-row watermark). Fails when a
    future query sneaks in an accidental cross join."""
    import obmp_psql_spark.queries_bmp as qb
    from obmp_psql_spark.plans.audit import (
        BNLJ_WHITELIST, cross_join_violations, formatted_plan)
    from obmp_psql_spark.registry import all_specs

    from .conftest import SF_SMALL

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # PRE-materialization plans for the gate tier (same switch the
    # PLANS.md dump uses): the audit must see the ingest pipelines'
    # real joins, not the post-localCheckpoint read
    qb.PLAN_AUDIT = True
    try:
        specs = all_specs()
        violations: list[str] = []
        seen_bnlj: set[str] = set()
        for name, spec in sorted(specs.items()):
            plan = formatted_plan(spec.fn(spark, SF_SMALL))
            violations += cross_join_violations(name, plan)
            if "BroadcastNestedLoopJoin" in plan:
                seen_bnlj.add(name)
        assert violations == []
        # the whitelist must not outlive its plans: every entry still
        # produces a BNLJ, or it should be removed
        stale = sorted(set(BNLJ_WHITELIST) - seen_bnlj)
        assert not stale, (
            f"BNLJ_WHITELIST entries whose plans no longer produce a "
            f"BroadcastNestedLoopJoin (remove them): {stale}")
    finally:
        qb.PLAN_AUDIT = False
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_simhash_degenerate_bucket_cap(spark):
    """10k empty/identical docs collapse to one fingerprint; without a
    guard one (band, bv) bucket goes quadratic (~50M candidates). The
    opt-in ``max_bucket_size`` drops mega-buckets before the self-join
    and ``min_tokens`` drops no-signal docs before fingerprinting —
    the run must complete with zero candidates instead of exploding."""
    import pandas as pd

    from obmp_psql_spark.operators.dedup import simhash_neardup_pairs

    n = 10_000
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "text": ["" if i % 2 == 0 else "lorem ipsum dolor sit amet"
                 for i in range(n)],
    }))
    capped = simhash_neardup_pairs(docs, "doc_id", "text", bits=32,
                                   bands=4, max_hamming=3,
                                   max_bucket_size=64)
    assert capped.count() == 0

    filtered = simhash_neardup_pairs(docs, "doc_id", "text", bits=32,
                                     bands=4, max_hamming=3,
                                     min_tokens=3, max_bucket_size=64)
    assert filtered.count() == 0

    # the cap must not suppress genuine near-dups in small buckets:
    # two one-word-edit variants of distinct bases still pair up
    small = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": [f"base document number {i // 2} with shared phrasing "
                 f"{'alpha' if i % 2 == 0 else 'alpha beta'}"
                 for i in range(40)],
    }))
    got = simhash_neardup_pairs(small, "doc_id", "text", bits=32,
                                bands=4, max_hamming=6,
                                max_bucket_size=64)
    uncapped = simhash_neardup_pairs(small, "doc_id", "text", bits=32,
                                     bands=4, max_hamming=6,
                                     max_bucket_size=None)
    assert {(r.id_a, r.id_b) for r in got.collect()} \
        == {(r.id_a, r.id_b) for r in uncapped.collect()} != set()


def test_connected_components_path_graph(spark):
    """A path graph is the label-propagation worst case (diameter =
    n-1); verify multi-round convergence plus component separation
    and the min-id representative contract."""
    from obmp_psql_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # path 0-1-2-3-4-5 plus separate triangle 10-11-12 and pair 20-21
        [(i, i + 1) for i in range(5)]
        + [(10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {**{i: 0 for i in range(6)},
                   **{i: 10 for i in (10, 11, 12)}, 20: 20, 21: 20}


def test_bucket_star_edges_match_pair_components(spark):
    """CC over bucket-star edges equals CC over the LSH candidate
    pairs, on a viral bucket of identical docs plus a near-dup chain
    whose end docs share no bucket; the viral cluster costs n - 1
    star edges against n(n-1)/2 pairs."""
    import pandas as pd

    from obmp_psql_spark.operators.dedup import (
        bucket_star_edges, connected_components, minhash_bands,
        minhash_lsh_pairs)

    n = 30
    viral = " ".join(f"v{j}" for j in range(20))
    chain = {k: " ".join(f"w{j}" for j in range(2 * k, 2 * k + 20))
             for k in range(8)}
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(100, 100 + n)) + list(chain),
        "text": [viral] * n + list(chain.values())}))
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    star = bucket_star_edges(minhash_bands(docs, "doc_id", "text")).collect()

    def comps(edges):
        e = spark.createDataFrame([(r.id_a, r.id_b) for r in edges],
                                  "id_a long, id_b long")
        return {(r.id, r.component)
                for r in connected_components(e).collect()}

    got = comps(star)
    assert got == comps(pairs)
    assert all(r.id_a < r.id_b for r in star)
    assert len({(r.id_a, r.id_b) for r in star}) == len(star)
    # the chain spans buckets: some component is not a pair clique
    members: dict[int, set[int]] = {}
    for i, c in got:
        members.setdefault(c, set()).add(i)
    chain_comps = [m for m in members.values() if max(m) < 100]
    assert any(len([p for p in pairs if p.id_a in m])
               < len(m) * (len(m) - 1) // 2 for m in chain_comps)
    assert set(range(100, 100 + n)) in members.values()
    assert len([r for r in star if r.id_a >= 100]) == n - 1
    assert len([p for p in pairs if p.id_a >= 100]) == n * (n - 1) // 2


def test_minhash_est_gate_true_ppm_counts_distinct_shingles(spark, tmp_path):
    """true_ppm is the Jaccard of DISTINCT shingle sets. Doc 1 repeats
    its trigrams ("a b c" x3, "b c a" x2, "c a b" x2); doc 2 shares two
    of them: 2 / 4 -> 500000 ppm. Multiset sizes (7 and 3) read
    250000 with a set intersection, 1000000 with an occurrence join."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from obmp_psql_spark.registry import all_specs

    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": ["a b c a b c a b c", "a b c a d"],
        "source": ["s", "s"]}), str(tmp_path / "documents.parquet"))
    got = {(r.id_a, r.id_b): r for r in
           all_specs()["q_minhash_est_gate"].fn(spark, str(tmp_path)).collect()}
    assert got[(1, 2)].true_ppm == 500_000
    assert got[(1, 10001)].true_ppm == 1_000_000  # the exact clone
    assert all(r.err_ppm == abs(r.est_ppm - r.true_ppm) for r in got.values())


def test_dedup_queries_job_ceiling(spark):
    """Job-count pin for the curation dedup pair at sf0.001 (host
    independent). Measured 9 jobs for q_minhash_est_gate and 12 for
    q_dedup_apply (the single-scan corpus, shingle-set Jaccard, star
    edges, and connected components on the driver below its bound,
    which drops the convergence round's checkpoint); the ceilings add
    3 each. The distributed rounds ran 15 jobs in q_dedup_apply; the
    pair-graph plans before them ran 29 and 40."""
    from obmp_psql_spark.operators.cache import release_build_artifacts
    from obmp_psql_spark.registry import all_specs
    from obmp_psql_spark.session import load_tables

    from .conftest import SF_SMALL

    sc = spark.sparkContext
    load_tables(spark, SF_SMALL, ("documents",))  # schema read: not counted
    for name, ceiling in (("q_minhash_est_gate", 12), ("q_dedup_apply", 15)):
        group = f"job-ceiling-{name}"
        sc.setJobGroup(group, "dedup job-count pin")
        try:
            all_specs()[name].fn(spark, SF_SMALL).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_build_artifacts()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= ceiling, f"{name}: {jobs} jobs > {ceiling}"


def test_connected_components_iteration_cap(spark):
    from obmp_psql_spark.operators.dedup import connected_components
    import pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(pairs, max_iter=1)


def test_dedup_queries_py4j_round_trip_ceiling(spark, monkeypatch):
    """Driver plan-building pin for the curation dedup pair at sf0.001:
    py4j round trips made by this thread over one cold run (pipeline
    memo and build artifacts released) after a warm-up; the py4j
    client's own garbage-collection thread is not counted. Measured
    264 for q_minhash_est_gate and 330 for q_dedup_apply (the session
    without Python call-site capture; the MinHash, shingle, corpus and
    survivor projections as parsed SQL; connected components on the
    driver); the ceilings add about 20 %. With call-site capture on
    and Column-API projections the same runs made 3,274 and 2,947."""
    import threading

    import py4j.clientserver as cs

    from obmp_psql_spark.operators.cache import release_build_artifacts
    from obmp_psql_spark.queries_bmp import _PIPELINE_CACHE
    from obmp_psql_spark.registry import all_specs

    from .conftest import SF_SMALL

    me, calls = threading.get_ident(), [0]
    send = cs.ClientServerConnection.send_command

    def counted(conn, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(conn, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    for name, ceiling in (("q_minhash_est_gate", 320), ("q_dedup_apply", 400)):
        fn = all_specs()[name].fn
        fn(spark, SF_SMALL).collect()  # warm-up: table memo, schema read
        release_build_artifacts()
        _PIPELINE_CACHE.clear()
        before = calls[0]
        try:
            fn(spark, SF_SMALL).collect()
        finally:
            release_build_artifacts()
        trips = calls[0] - before
        assert trips <= ceiling, f"{name}: {trips} round trips > {ceiling}"


def _jobs_recorded(spark) -> int:
    """Spark jobs the status store has recorded so far: the newest job
    id plus one. The store keeps only the newest jobs (``retainedJobs``),
    so the length of its list stops growing in a long session."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() + 1 if jobs.size() else 0


def test_cron_cycle_job_ceiling(spark, tmp_path):
    """Job-count pin for one cold cron cycle (chg stats, the first
    bucketed global-RIB consolidation with IRR and RPKI enrichment,
    peer RIB counts, origin stats) on a small streaming-ingested store
    (host independent). Measured 18 jobs, 7 of them in run_global_rib:
    empty stats and bucket reads plan as empty LocalRelations Catalyst
    prunes, each table reads as one relation, the consolidation runs
    one exchange, the touched buckets are observed in the slice's
    checkpoint, and the RPKI aggregate clusters on the bucket shuffle
    the write reuses. The previous plans ran 35 jobs (14 in
    run_global_rib); the ceilings add 2 and 1."""
    from obmp_psql_spark.jobs import JobRunner
    from obmp_psql_spark.schemas import TABLE_SCHEMAS
    from obmp_psql_spark.state import TxnStateStore
    from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

    from .test_bmp_ingest import msgs, ts, upx

    store = TxnStateStore(spark, str(tmp_path / "store"))
    ing = BmpStreamingIngest(spark, store, rib_buckets=4)
    ing.unicast_prefix_batch(msgs(spark, "unicast_prefix", [
        upx("add", f"h{i}", f"p{i % 3}", f"a{i}", ts(0, i),
            prefix=f"10.{i % 20}.0.0", origin=65000 + i % 4)
        for i in range(60)]), 0)
    ing.unicast_prefix_batch(msgs(spark, "unicast_prefix", [
        upx("del" if i % 2 else "add", f"h{i}", f"p{i % 3}", f"b{i}",
            ts(2, i), prefix=f"10.{i % 20}.0.0", origin=65000 + i % 4)
        for i in range(0, 60, 3)]), 1)
    store.overwrite("info_route", spark.createDataFrame(
        [(f"10.{i}.0.0", 16, f"net-{i}", 65000 + i % 4, "RADB", ts(0))
         for i in range(10)], TABLE_SCHEMAS["info_route"]))
    store.overwrite("rpki_validator", spark.createDataFrame(
        [("10.0.0.0/8", 8, 24, 65001, ts(0), 167772160, 184549375,
          0, 167772160, 0, 184549375)], TABLE_SCHEMAS["rpki_validator"]))

    runner, now = JobRunner(store), ts(4)
    calls = [("chg_stats", lambda: runner.run_chg_stats(now=now)),
             ("global_rib", lambda: runner.run_global_rib(now=now, buckets=4)),
             ("peer_rib_counts", lambda: runner.run_peer_rib_counts(now=now)),
             ("origin_stats", lambda: runner.run_origin_stats(now=now))]
    jobs = {}
    for name, call in calls:
        before = _jobs_recorded(spark)
        call()
        jobs[name] = _jobs_recorded(spark) - before
    assert sum(jobs.values()) <= 20, jobs
    assert jobs["global_rib"] <= 8, jobs
    assert store.read("global_ip_rib").count() == 20
    assert store.read("stats_chg_bypeer").count() > 0


@pytest.mark.parametrize("case", [
    test_connected_components_path_graph,
    test_bucket_star_edges_match_pair_components,
    test_connected_components_iteration_cap,
], ids=["path_graph", "star_vs_pairs", "iteration_cap"])
def test_connected_components_distributed_rounds(spark, monkeypatch, case):
    """The cases above have graphs under ``graph.CC_DRIVER_MAX_EDGES`` and
    so run the driver-side rounds; here the same cases run the
    distributed rounds. The bound is -1, not 0, so that an empty edge
    list (0 edges, at the bound 0) leaves the driver path too."""
    from obmp_psql_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", -1)
    case(spark)


def test_connected_components_path_follows_observed_edge_count(
        spark, monkeypatch):
    """At the bound the rounds run on the driver; one pair over it they
    run distributed, with the same components. The bound counts
    symmetric edge rows, two per pair."""
    from obmp_psql_spark.operators import dedup, graph

    driver_runs = []
    rounds = graph.components

    def counted_rounds(sym, n, max_iter):
        driver_runs.append(sym)
        return rounds(sym, n, max_iter)

    monkeypatch.setattr(graph, "components", counted_rounds)
    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", 6)

    def comps(n):
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                      "id_a long, id_b long")
        return {(r.id, r.component)
                for r in dedup.connected_components(pairs).collect()}

    assert comps(3) == {(i, 0) for i in range(4)}
    assert len(driver_runs) == 1
    assert comps(4) == {(i, 0) for i in range(5)}
    assert len(driver_runs) == 1  # over the bound: distributed rounds


def test_asof_join_tolerance_and_inner(spark):
    import datetime as dt

    from pyspark.sql import functions as F
    from obmp_psql_spark.operators.asof import asof_join

    T = dt.datetime
    quotes = spark.createDataFrame(
        [("k1", T(2024, 1, 1, 10, 0), "s1"),
         ("k1", T(2024, 1, 1, 12, 0), "s2"),
         ("k2", T(2024, 1, 1, 11, 0), "s3")],
        "k string, ts timestamp, state string")
    probes = spark.createDataFrame(
        [("k1", T(2024, 1, 1, 12, 0), 1),   # equal ts -> inclusive match s2
         ("k1", T(2024, 1, 1, 11, 0), 2),   # between -> s1
         ("k2", T(2024, 1, 1, 10, 0), 3),   # before any quote -> NULL
         ("k3", T(2024, 1, 1, 10, 0), 4)],  # key never quoted -> NULL
        "k string, ts timestamp, n int")

    got = {r["n"]: r["state"]
           for r in asof_join(probes, quotes, on=["k"]).collect()}
    assert got == {1: "s2", 2: "s1", 3: None, 4: None}

    inner = asof_join(probes, quotes, on=["k"], how="inner")
    assert sorted(r["n"] for r in inner.collect()) == [1, 2]

    # 30-minute staleness bound: probe 2 is 60 min after s1 -> dropped
    tol = asof_join(probes, quotes, on=["k"],
                    tolerance=F.expr("INTERVAL 30 MINUTES"))
    got_tol = {r["n"]: r["state"] for r in tol.collect()}
    assert got_tol == {1: "s2", 2: None, 3: None, 4: None}


def test_stratified_sample_subset_and_rate(spark):
    """Same salt + higher rate must be a superset (monotone bucket
    threshold), and realized rates must track requested ones."""
    from obmp_psql_spark.operators.sampling import sample_deterministic

    df = spark.range(20000).withColumnRenamed("id", "k")
    small = {r["k"] for r in sample_deterministic(df, "k", 0.2, "s").collect()}
    big = {r["k"] for r in sample_deterministic(df, "k", 0.5, "s").collect()}
    assert small <= big
    assert abs(len(small) / 20000 - 0.2) < 0.02
    assert abs(len(big) / 20000 - 0.5) < 0.02
    # different salt decorrelates: overlap ~= product of rates
    other = {r["k"] for r in sample_deterministic(df, "k", 0.2, "t").collect()}
    assert abs(len(small & other) / 20000 - 0.04) < 0.01


def test_containment128_plan_is_bucketed_hash_join(spark):
    """The unified-family containment join must execute as a hash
    equi-join on (family, bucket) — never a nested-loop over the
    range predicate — and coarse supernets must stay out of the
    explode (bounded fan-out per prefix)."""
    from obmp_psql_spark.operators.lpm import containment_join128

    pref = spark.createDataFrame(
        [(6, 2306139568115548160, 0, 2306139572410515455, -1, 32, "db8/32"),
         (6, 0, 0, -1, -1, 0, "::/0")],
        "family int, start_hi long, start_lo long, end_hi long, end_lo long, "
        "masklen int, label string")
    probes = spark.createDataFrame(
        [(1, 6, 2306139568115548161, 7)],
        "pid long, fam int, phi long, plo long")
    out = containment_join128(probes, "fam", "phi", "plo", pref, broadcast=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both prefixes match the probe: /32 via the bucketed pass, ::/0
    # via the coarse broadcast pass
    assert {r.label for r in out.collect()} == {"db8/32", "::/0"}


def test_enrich_irr_broadcast_is_size_gated(spark):
    """enrich_irr must not force-broadcast the IRR table: real dumps
    are ~3M routes with descr text. Below the threshold the planner
    may broadcast; above it (threshold shrunk to 1KB here) the plan
    must fall back to a shuffle join."""
    import datetime as dt

    from obmp_psql_spark.operators import global_rib as G
    from obmp_psql_spark.schemas import TABLE_SCHEMAS

    glob = spark.createDataFrame(
        [("10.%d.0.0" % i, 16, 65000 + i, False, dt.datetime(2024, 1, 1),
          dt.datetime(2024, 1, 1), 1, 1, 0, None, None, None, None,
          167772160 + i * 65536, 167772160 + i * 65536 + 65535, 0,
          167772160 + i * 65536) for i in range(50)],
        TABLE_SCHEMAS["global_ip_rib"])
    info_route = spark.createDataFrame(
        [("10.%d.0.0" % i, 16, "descr-%d" % i * 50, 65000 + i, "RADB",
          dt.datetime(2024, 1, 1)) for i in range(2000)],
        "prefix string, prefix_len short, descr string, origin_as long, "
        "source string, timestamp timestamp")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = G.enrich_irr(glob, info_route, None) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan  # large side: shuffle join
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    out = {r.prefix: r.irr_origin_as
           for r in G.enrich_irr(glob, info_route, None).collect()}
    assert out["10.7.0.0"] == 65007


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """100 TB semi-join reduction: a selective filter on the dim side
    of a shuffle join makes Catalyst inject a bloom filter
    (``InjectRuntimeFilter``) that prunes the fact scan BEFORE the
    shuffle — the fact side ships only rows whose key might match,
    so shuffle volume tracks the dim selectivity, not the fact size.

    In production this fires automatically once the fact side exceeds
    ``spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold``
    (default 10GB — i.e. exactly the 100 TB fact tables this engine
    targets); the test lowers the threshold so the local fixture
    qualifies, and pins both the plan shape (``might_contain`` over a
    ``bloom_filter_agg`` subquery on the fact scan) and value parity
    with the unfiltered join.
    """
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    spark.range(0, 50_000).selectExpr(
        "id % 1000 as k", "id as payload").write.parquet(fact_path)
    spark.range(0, 1000).selectExpr(
        "id as k", "concat('seg', id % 7) as seg").write.parquet(dim_path)

    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold", "1KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter("seg = 'seg3'")
        joined = fact.join(dim, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        n = joined.count()
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "10GB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    # parity: bloom pruning is lossless (false positives only re-admit
    # rows the join itself drops)
    expect = spark.read.parquet(fact_path).join(
        spark.read.parquet(dim_path).filter("seg = 'seg3'"), "k").count()
    assert n == expect and n > 0


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Retention/chunk design counterpart to the bloom-filter gate: when
    the fact table is disk-partitioned on the join key family (the
    date/interval partitioning the state store's chunked tables use for
    metadata-only retention drops), a selective dim filter triggers
    dynamic partition pruning — the fact scan's PartitionFilters gain a
    ``dynamicpruningexpression`` and untouched partitions are never
    listed, let alone read. At 100 TB this is the difference between
    scanning two days and scanning three years.
    """
    fact_dir = str(tmp_path / "fact")
    dim_dir = str(tmp_path / "dim")
    spark.range(0, 20_000).selectExpr(
        "id", "cast(id % 30 as int) as day").write \
        .partitionBy("day").parquet(fact_dir)
    spark.createDataFrame(
        [(i, "hot" if i in (3, 7) else "cold") for i in range(30)],
        "day int, tag string").write.parquet(dim_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter("tag = 'hot'")
    joined = fact.join(dim, "day")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # 2 of 30 day-partitions qualify: 20000/30 rounds to 667 ids for
    # day<20 (ids 3,7 mod 30) — pin exact parity with a broadcast-free
    # recount instead of a magic number
    expect = fact.filter("day in (3, 7)").count()
    assert joined.count() == expect and expect > 0


def test_doc_chunk_multi_window_spans_and_narrow_plan(spark, tmp_path):
    """The driver fixtures cap documents at ~100 tokens, so the
    multi-chunk branch of q_doc_chunk never fires there — pin it here
    with synthetic long docs against an independent Python reference,
    and pin the scale claim: chunking is a pure map (zero Exchanges).
    """
    from obmp_psql_spark.queries_text import q_doc_chunk

    docs = [
        ("s1", 1, " ".join(f"t{i}" for i in range(128))),   # == window
        ("s1", 2, " ".join(f"t{i}" for i in range(129))),   # window+1
        ("s1", 3, " ".join(f"t{i}" for i in range(224))),   # exact 2 strides
        ("s2", 4, " ".join(f"t{i}" for i in range(500))),   # long tail
        ("s2", 5, ""),                                      # empty doc
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "source string, doc_id long, text string") \
        .write.parquet(sf + "/documents.parquet")

    out = q_doc_chunk(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow: no shuffle at any scale

    got = {(r.source, r.doc_id, r.chunk_id):
           (r.start_tok, r.end_tok, r.n_chunk_tokens) for r in out.collect()}

    def ref_chunks(n, window=128, stride=96):
        n_chunks = 1 if n <= window else -(-(n - window) // stride) + 1
        return {i: (i * stride, min(i * stride + window, n),
                    min(i * stride + window, n) - i * stride)
                for i in range(n_chunks)}

    # tokenizer parity: split on whitespace; empty text -> [''] = 1 token
    lens = {(s, d): len(t.split()) if t.split() else 1 for s, d, t in docs}
    expect = {(s, d, i): v for (s, d), n in lens.items()
              for i, v in ref_chunks(n).items()}
    assert got == expect
    # the 500-token doc must produce ceil((500-128)/96)+1 = 5 chunks,
    # last one short and overlapping its predecessor
    assert sum(1 for k in got if k[1] == 4) == 5
    assert got[("s2", 4, 4)] == (384, 500, 116)


def test_contamination_short_and_fully_contained_docs(spark, tmp_path):
    """Fixture docs never exercise the q_contamination edges: an eval
    doc with <3 tokens (zero 3-grams — must vanish from the output on
    BOTH engines, not divide by zero) and a fully-contained eval doc
    (exactly 1_000_000 ppm)."""
    from obmp_psql_spark.queries_text import q_contamination

    docs = [
        ("src0", 1, "alpha beta gamma delta"),   # grams partially in train
        ("src0", 2, "only two"),                 # < 3 tokens: no output row
        ("src0", 3, "zeta eta theta"),           # fully contained
        ("src1", 4, "alpha beta gamma something else entirely"),
        ("src1", 5, "zeta eta theta"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "source string, doc_id long, text string") \
        .write.parquet(sf + "/documents.parquet")

    got = {r.doc_id: (r.n_grams, r.n_matched, r.contamination_ppm)
           for r in q_contamination(spark, sf).collect()}
    # doc 1: grams {a b g, b g d}; train has only {a b g} -> 1/2
    # doc 2: no 3-grams -> absent
    # doc 3: gram {z e t} present in train -> 1/1
    assert got == {1: (2, 1, 500000), 3: (1, 1, 1000000)}


def test_doc_chunk_tiling_invariants_full_sweep(spark, tmp_path):
    """Exhaustive boundary sweep: one doc per token count 1..300
    (crossing every window/stride boundary: n=window, window±1,
    window+stride, exact-multiple ends). Invariants per doc:
    chunks start at multiples of the stride, tile [0, n) with no gap,
    every chunk is non-empty and <= window, and the count matches the
    closed form."""
    from obmp_psql_spark.queries_text import q_doc_chunk

    window, stride = 128, 96
    docs = [("s", n, " ".join("x" * 1 for _ in range(n)))
            for n in range(1, 301)]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "source string, doc_id long, text string") \
        .write.parquet(sf + "/documents.parquet")

    rows = q_doc_chunk(spark, sf).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(1, 301))
    for n, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        expect_count = 1 if n <= window else -(-(n - window) // stride) + 1
        assert len(chunks) == expect_count, n
        for i, c in enumerate(chunks):
            assert c.chunk_id == i
            assert c.start_tok == i * stride
            assert c.end_tok == min(i * stride + window, n)
            assert 0 < c.n_chunk_tokens <= window
        # no gap: each chunk starts inside or at the end of its
        # predecessor, and the last chunk reaches the doc end
        for prev, cur in zip(chunks, chunks[1:]):
            assert cur.start_tok <= prev.end_tok
        assert chunks[-1].end_tok == n


def test_doc_repetition_zero_shuffle_and_runlength_parity(spark, tmp_path):
    """The r6 rewrite computes the top-bigram count inside the row (a
    sorted-array run-length fold) — pin the scale claim (zero
    Exchanges: the query is a pure scan-stage projection) and the fold
    itself against a Python Counter on docs with real repetition,
    which the near-uniform fixtures barely exercise."""
    from collections import Counter

    from obmp_psql_spark.queries_text import q_doc_repetition

    docs = [
        ("s", 1, "a b a b a b c"),        # 'a b' x3 of 6 bigrams
        ("s", 2, "x x x x x"),            # single repeated bigram
        ("s", 3, "one two three four"),   # all distinct
        ("s", 4, "solo"),                 # 1 token: no bigrams
        ("s", 5, ""),                     # empty text
        ("s", 6, "  spaced   out  text "),  # whitespace collapse
        ("s", 8, "p q r s t u v w"),      # 8 tokens, %4==0 -> clone
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "source string, doc_id long, text string") \
        .write.parquet(sf + "/documents.parquet")

    out = q_doc_repetition(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # narrow at any corpus size: no keyed (hash/range) exchange — the
    # fold never shuffles bigram data. The r14 fan_out adds exactly one
    # round-robin exchange to restore scan parallelism over the
    # single-row-group fixture; that one is allowed.
    import re
    keyed = [ln for ln in plan.splitlines()
             if "Exchange" in ln and "RoundRobinPartitioning" not in ln]
    assert keyed == [], keyed
    assert len(re.findall(r"\bExchange\b", plan)) <= 1

    rows = out.collect()
    got = {r.doc_id: (r.n_tokens, round(r.distinct_token_frac, 6),
                      round(r.top_bigram_frac, 6)) for r in rows
           if r.doc_id < 10000}

    def ref(text):
        toks = text.strip().lower().split()
        toks = toks if toks else [""]
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top = max(Counter(bgs).values()) if bgs else 0
        return (len(toks),
                round(len(set(toks)) / len(toks), 6),
                round(top / len(bgs), 6) if bgs else 0.0)

    assert got == {d: ref(t) for _, d, t in docs}
    # r9 repetition clones: every %4==0 doc reappears with its
    # first-24-token prefix doubled. Doc 8's clone is its 8 tokens
    # x3 = three identical derived 8-token lines -> dup_line 2/3,
    # one 24-token paragraph -> no dup paras, and every 5..10-gram
    # duplicated (dup mass > 0)
    clones = {r.doc_id: r for r in rows if r.doc_id >= 10000}
    assert set(clones) == {10004, 10008}
    c8 = clones[10008]
    assert c8.n_tokens == 24
    assert c8.dup_line_ppm == 666_666
    assert c8.dup_para_ppm == 0
    assert c8.dup_5gram_char_ppm > 0 and c8.dup_10gram_char_ppm > 0
    # doc 4's clone is 'solo solo solo': one derived line, no dups
    assert clones[10004].dup_line_ppm == 0


def test_aqe_min_partition_floor_preserves_parallelism(spark):
    """Plan gate for the round-5 ingest fix: AQE's default 1MB
    ``coalescePartitions.minPartitionSize`` collapses sub-MB shuffles
    to ONE post-shuffle partition, serializing whole stages on one
    core (measured 15.3k -> 18.6k msg/s when the 64k floor landed).
    This pins the floor's effect at runtime, not just the config
    string: the same aggregation keeps multiple post-shuffle
    partitions under the session floor and collapses to one when the
    floor is lifted back to the Spark default — so the test fails if
    ``get_spark`` ever loses the floor OR if a Spark upgrade changes
    the coalescing semantics underneath it."""
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    assert spark.conf.get(key) == "64k"  # session default from get_spark

    def n_parts():
        agg = spark.range(0, 120_000).selectExpr(
            "id % 40000 as k", "id as v").groupBy("k") \
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        return agg.select(F.spark_partition_id().alias("p")) \
            .distinct().count()

    with_floor = n_parts()
    spark.conf.set(key, "1MB")
    try:
        without_floor = n_parts()
    finally:
        spark.conf.set(key, "64k")
    assert without_floor == 1    # the default-config failure mode
    assert with_floor > 1        # the floor keeps the stage parallel


def test_get_spark_turns_off_python_call_site_capture(spark):
    """``get_spark`` turns off pyspark's per-call Python call-site
    capture (``_with_origin``), which costs about six py4j round trips
    per ``functions.*`` call and ``Column`` method; the round-trip
    ceiling of the dedup pair rests on it."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_tiny_df_is_one_jvm_side_partition(spark):
    """``tiny_df`` holds its rows JVM-side (a local relation, no
    Python-worker job per action) in one partition, with the same
    schema and rows as pickled construction, for a DDL string and a
    ``StructType`` carrying a microsecond timestamp."""
    import datetime as dt

    from obmp_psql_spark import schemas
    from obmp_psql_spark.session import tiny_df

    ts = dt.datetime(2024, 1, 1, 12, 30, 0, 123456)
    routers = tuple(
        {"hash_id": "h", "name": "n", "timestamp": ts, "conn_count": 1}
        .get(f.name) for f in schemas.ROUTERS.fields)
    for rows, schema in (([(1, 0.5), (2, None)], "q_ppm long, est double"),
                         ([routers], schemas.ROUTERS),
                         ([], "q_ppm long, est double")):
        got = tiny_df(spark, rows, schema)
        want = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert got.rdd.getNumPartitions() == 1
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_pii_redact_zero_shuffle_and_masking(spark, tmp_path):
    """q_pii_redact must stay a pure scan-stage projection (zero
    Exchanges) and actually scrub: no email/phone pattern survives in
    any redacted text, counts match a Python re reference, and
    masking is idempotent (re-redacting a redacted text is a no-op)."""
    import hashlib
    import re

    from obmp_psql_spark.queries_text import (_EMAIL_RE, _PHONE_RE,
                                              q_pii_redact)

    docs = [
        ("s", 0, "plain words here"),                       # %7==0: +both
        ("s", 3, "more words"),                             # %7==3: +email
        ("s", 5, "untouched text"),
        ("s", 7, "x y z"),                                  # %7==0: +both
        ("s", 10, "contains 999-123-4567 already"),         # own phone
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "source string, doc_id long, text string") \
        .write.parquet(sf + "/documents.parquet")

    out = q_pii_redact(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    def aug(d, t):
        if d % 7 == 0:
            return t + " contact bob@example.com or 555-123-4567 now"
        if d % 7 == 3:
            return t + " mail alice@test.org"
        return t

    got = {r.doc_id: r for r in out.collect()}
    for _, d, t in docs:
        a = aug(d, t)
        emails, phones = re.findall(_EMAIL_RE, a), re.findall(_PHONE_RE, a)
        assert (got[d].n_emails, got[d].n_phones) == (len(emails), len(phones))
        red = re.sub(_PHONE_RE, "<PHONE>",
                     re.sub(_EMAIL_RE, "<EMAIL>", a))
        assert got[d].redacted_digest == hashlib.md5(red.encode()).hexdigest()
        # nothing left to scrub, and masking is idempotent
        assert not re.search(_EMAIL_RE, red)
        assert not re.search(_PHONE_RE, red)
        assert re.sub(_PHONE_RE, "<PHONE>",
                      re.sub(_EMAIL_RE, "<EMAIL>", red)) == red


def test_doc_shuffle_is_permutation_and_seed_decorrelated(spark):
    """Epoch-shuffle invariants the oracle can't see: per-shard
    positions are exactly 1..len(shard) (a permutation), every doc
    appears once, and the realized shard order is reproducible."""
    from obmp_psql_spark.queries_text import q_doc_shuffle

    sf = "/root/testdata/sf0.01"
    rows = q_doc_shuffle(spark, sf).collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # deterministic: same seed -> identical assignment on a re-run
    again = {(r.doc_id, r.shard, r.pos)
             for r in q_doc_shuffle(spark, sf).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_domain_mix_rate_invariants(spark, tmp_path):
    """Domain-mixing math: over-represented sources get downsampled
    toward the uniform share, under-represented ones keep everything
    (rate capped at 1e6), and kept counts track rate_ppm."""
    from obmp_psql_spark.queries_text import q_domain_mix

    docs = ([("big", i) for i in range(800)]
            + [("mid", 1000 + i) for i in range(150)]
            + [("tiny", 2000 + i) for i in range(50)])
    sf = str(tmp_path)
    spark.createDataFrame(
        [(s, d, f"text {d}") for s, d in docs],
        "source string, doc_id long, text string") \
        .write.parquet(sf + "/documents.parquet")

    got = {r.source: r for r in q_domain_mix(spark, sf).collect()}
    # uniform target share = 1000/3 ≈ 333 docs per source: only "big"
    # (800) exceeds it and gets downsampled; "mid" (150) and "tiny"
    # (50) are under-represented -> rate capped at 1e6, kept whole
    assert got["big"].rate_ppm == 1000 * 1_000_000 // (3 * 800)
    assert got["mid"].rate_ppm == 1_000_000
    assert got["mid"].n_kept == 150
    assert got["tiny"].rate_ppm == 1_000_000
    assert got["tiny"].n_kept == 50
    r = got["big"]
    assert 0 < r.n_kept <= r.n_docs
    # realized rate within 5 points of requested (md5 uniformity)
    assert abs(r.n_kept / r.n_docs - r.rate_ppm / 1e6) < 0.05


def test_events_json_scan_pruned_and_partial_agg(spark):
    """The props blob must die in the scan: the parquet read prunes to
    exactly (event_type, props) — never ts/user_id/value — and a
    map-side partial HashAggregate sits below the exchange, so only
    fixed-width agg buffers shuffle regardless of blob width."""
    from obmp_psql_spark.queries_core import q_events_json

    df = q_events_json(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<event_type:string,props:string>" in plan
    # partial + final (countDistinct adds expand rounds; >= 2 proves
    # map-side combine exists before the shuffle)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(event_type" in plan


def test_events_json_malformed_props_yield_null(spark, tmp_path):
    """Real feeds carry broken blobs: malformed JSON, wrong types, and
    missing keys must extract as NULL (excluded from sum/min/max,
    counted in n) — never error the scan."""
    rows = [
        (1, "a", '{"k": 5}'),
        (2, "a", '{"k": "not-a-number"}'),   # wrong type -> NULL cast
        (3, "a", 'not json at all'),          # malformed -> NULL
        (4, "a", '{"other": 1}'),             # key missing -> NULL
        (5, "a", None),                       # null blob -> NULL
        (6, "b", '{"k": 7}'),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, event_type string, props string") \
        .write.parquet(sf + "/events.parquet")

    from obmp_psql_spark.queries_core import q_events_json
    got = {r.event_type: (r.n, r.sum_k, r.min_k, r.max_k, r.n_distinct_k)
           for r in q_events_json(spark, sf).collect()}
    assert got == {"a": (5, 5, 5, 5, 1), "b": (1, 7, 7, 7, 1)}


def test_approx_distinct_error_within_sketch_bound(spark):
    """The HLL++ estimates the gate hands off must actually be close:
    rsd=0.01 gives a ~1% standard error, so 5% (50000 ppm) is a
    generous hard ceiling at fixture cardinalities."""
    from obmp_psql_spark.queries_core import q_approx_distinct_gate

    rows = q_approx_distinct_gate(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.err_ppm <= 50_000, (r.event_type, r.err_ppm)


def test_aqe_floor_keeps_gate_scale_parallelism(spark):
    """Pins session.py's parallelism-first AQE coalescing floor
    (coalescePartitions.minPartitionSize=64k, commit d2c92ed): with
    Spark's default 1MB floor a low-MB shuffle collapses to a couple
    of post-shuffle partitions and whole stages run on one or two
    cores (measured: the ingest merge window ran ~5s single-core at
    sf0.1). The test executes the same representative shuffle under
    both floors and asserts the config actually buys parallelism —
    so any config drift that loses the floor fails here."""
    from pyspark.sql import functions as F

    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k"

    def post_shuffle_partitions():
        # a few-MB shuffle, the gate-scale shape: spark_partition_id
        # evaluated in the post-agg stage counts partitions AFTER the
        # AQE coalesce decision for the executed plan
        df = spark.range(0, 300_000).selectExpr(
            "id % 50000 AS k", "id AS v", "repeat('x', 64) AS pad")
        agg = df.groupBy("k").agg(F.sum("v").alias("s"),
                                  F.max("pad").alias("p"))
        return agg.select(F.spark_partition_id().alias("pid")) \
            .distinct().count()

    with_floor = post_shuffle_partitions()
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        without_floor = post_shuffle_partitions()
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    # default floor: a handful of fat partitions; 64k floor: most of
    # the initial parallelism survives
    assert without_floor <= 8
    assert with_floor >= 2 * without_floor


def test_prepare_peer_backfill_join_is_hash_join(spark):
    """The router-backfill join in prepare_peer must plan as a
    broadcast HASH join when router keys are heterogeneous (any real
    deployment). The BNLJ the plan audit whitelists for the peer
    gates is a fixture artifact: a CONSTANT router_hash_id lets
    Catalyst fold the join key into a build-side filter — this pins
    that the fold, not the join shape, is what the gates see."""
    import datetime as dt

    from obmp_psql_spark.ingest import prepare_peer
    from obmp_psql_spark.schemas import MESSAGE_SCHEMAS, TABLE_SCHEMAS

    t0 = dt.datetime(2024, 1, 1)
    s = MESSAGE_SCHEMAS["peer"]
    rows = [dict(
        action="up", hash=f"p{n}", router_hash=f"rt{n % 3}", peer_rd="",
        is_ipv4=True, peer_ip="0.0.0.0", name="", peer_bgp_id="0.0.0.0",
        peer_asn=65000 + n, is_l3vpn=False, is_pre_policy=False,
        local_ip="10.0.0.1", local_bgp_id="10.0.0.1", local_port=179,
        local_holddown=90, local_asn=64999, peer_port=4000 + n,
        peer_holddown=90, advertised_cap="", received_cap="",
        bmp_down_reason=0, bgp_error_code=0, bgp_error_subcode=0,
        bgp_error_text="", is_loc_rib=True, is_loc_rib_filtered=False,
        table_name="", timestamp=t0) for n in range(6)]
    batch = spark.createDataFrame(
        [tuple(r.get(f.name) for f in s.fields) for r in rows], s)
    routers = spark.createDataFrame(
        [(f"rt{n}", f"router-{n}", f"198.51.100.{n}")
         + (None,) * (len(TABLE_SCHEMAS["routers"].fields) - 3)
         for n in range(3)],
        TABLE_SCHEMAS["routers"])
    out = prepare_peer(batch, routers, geo_ip=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the backfill actually lands: LocRib 0.0.0.0 peers take the
    # router's name/ip
    got = {r.hash_id: (r.name, r.peer_bgp_id) for r in out.collect()}
    assert got["p4"] == ("router-1", "198.51.100.1")


def test_gate_shuffle_partitions_scale_with_input(tmp_path):
    """The gate pipelines size post-shuffle partitions to the source
    volume (finding 40: a fixed 8 gave 12.5M-row spilling sorts at
    sf100). Floor preserves the measured gate-scale win; cap bounds
    small-file explosion; a missing file degrades to the floor."""
    from obmp_psql_spark.session import (
        GATE_PARTITION_BYTES,
        GATE_PARTITION_CAP,
        GATE_PARTITION_FLOOR,
        gate_shuffle_partitions,
    )

    assert gate_shuffle_partitions(str(tmp_path / "nope")) \
        == GATE_PARTITION_FLOOR

    def fake(nbytes):
        d = tmp_path / f"sf_{nbytes}"
        d.mkdir()
        with open(d / "events.parquet", "wb") as fh:
            fh.truncate(nbytes)
        return str(d)

    assert gate_shuffle_partitions(fake(1 << 20)) == GATE_PARTITION_FLOOR
    assert gate_shuffle_partitions(fake(80 * GATE_PARTITION_BYTES)) == 80
    assert gate_shuffle_partitions(fake(10_000 * GATE_PARTITION_BYTES)) \
        == GATE_PARTITION_CAP


def test_stream_partitions_derive_from_volume(spark, tmp_path):
    """The sized session the streaming gates start from follows the
    sizing law (finding 40 applied to streaming state): floor 8 at
    gate scale, growing with source bytes. The caller's conf never
    changes, and the same caller and count get the same clone."""
    from obmp_psql_spark.session import GATE_PARTITION_BYTES, sized_session

    def fake(nbytes):
        d = tmp_path / f"sf_{nbytes}"
        d.mkdir(exist_ok=True)
        with open(d / "events.parquet", "wb") as fh:
            fh.truncate(nbytes)
        return str(d)

    parent = spark.conf.get("spark.sql.shuffle.partitions")
    small = sized_session(spark, fake(1 << 20))
    assert small.conf.get("spark.sql.shuffle.partitions") == "8"
    big = sized_session(spark, fake(40 * GATE_PARTITION_BYTES))
    assert big.conf.get("spark.sql.shuffle.partitions") == "40"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parent
    assert sized_session(spark, fake(1 << 20)) is small
    # a sized session asked again for its own count is itself
    assert sized_session(small, fake(1 << 20)) is small


def test_sized_clone_loads_tables_without_footer_job(spark, tmp_path):
    """The parquet schema is memoized per file, process-wide, so a
    sized clone loading a table its caller already loaded runs no
    footer-inference job (one job per session without the memo). A
    fresh copy of the file starts both memos cold."""
    import shutil

    from obmp_psql_spark.session import load_tables, sized_session

    from .conftest import SF_SMALL

    shutil.copy(f"{SF_SMALL}/events.parquet", tmp_path / "events.parquet")
    sf = str(tmp_path)
    load_tables(spark, sf, ("events",))
    clone = sized_session(spark, sf)
    assert clone is not spark
    sc = spark.sparkContext
    group = "clone-load-tables"
    sc.setJobGroup(group, "footer-inference pin")
    try:
        ev = load_tables(clone, sf, ("events",))["events"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert ev.count() == load_tables(spark, sf, ("events",))["events"].count()


def test_gates_never_set_the_shared_session_partitions(spark, monkeypatch):
    """No gate sets ``spark.sql.shuffle.partitions`` on the session it
    is handed: a conf change there re-plans any query planning on the
    same session at that moment. Covers the two stream-gate shapes
    and one shared gate pipeline, each still equal to its oracle, and
    the clone the law runs on keeps the caller's runtime conf and temp
    views."""
    import obmp_psql_spark.queries_bmp as qb
    from obmp_psql_spark.registry import all_specs
    from pyspark.sql.conf import RuntimeConfig

    from .conftest import SF_SMALL
    from .oracle_util import compare

    key = "spark.sql.shuffle.partitions"
    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, k, v):
        if self is spark.conf:
            sets.append((k, v))
        return real_set(self, k, v)

    specs = all_specs()
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    try:
        for name in ("q_stream_window", "q_stream_quality_filter",
                     "q_stream_doc_dedup"):
            qb._PIPELINE_CACHE.clear()
            ok, msg = compare(specs[name].fn(spark, SF_SMALL),
                              specs[name].oracle_for(SF_SMALL), SF_SMALL)
            assert ok, f"{name}: {msg}"
            assert spark.conf.get(key) == "5"
        assert [k for k, _ in sets if k == key] == []

        monkeypatch.undo()
        from obmp_psql_spark.session import sized_session
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.range(3).createOrReplaceTempView("sized_probe")
        clone = sized_session(spark, SF_SMALL)
        assert clone is not spark
        assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
        assert clone.table("sized_probe").count() == 3
        assert clone.conf.get(key) == "8"
        assert spark.conf.get(key) == "5"
    finally:
        monkeypatch.undo()
        spark.catalog.dropTempView("sized_probe")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(key, old)


def test_enrich_rpki_matched_join_is_size_gated(spark):
    """enrich_rpki must never force-broadcast a global-sized side. The
    only broadcast in the plan is the bounded ROA band table, built on
    the right of the one left containment join (the rows stream); the
    matches fold back into each row through an aggregate, with no join
    back of a matched aggregate that could be broadcast. Threshold
    shrunk to 1KB, so nothing else is small enough to broadcast."""
    import datetime as dt
    import re

    from obmp_psql_spark.operators import global_rib as G
    from obmp_psql_spark.schemas import TABLE_SCHEMAS

    glob = spark.createDataFrame(
        [("10.%d.0.0" % i, 16, 65000 + i, False, dt.datetime(2024, 1, 1),
          dt.datetime(2024, 1, 1), 1, 1, 0, None, None, None, None,
          167772160 + i * 65536, 167772160 + i * 65536 + 65535, 0,
          167772160 + i * 65536) for i in range(200)],
        TABLE_SCHEMAS["global_ip_rib"])
    rpki = spark.createDataFrame(
        [("10.%d.0.0" % i, 0, 167772160 + i * 65536, 0,
          167772160 + i * 65536 + 65535, 16, 24, 71000 + i)
         for i in range(200)],
        "prefix string, start_hi long, start_lo long, end_hi long, "
        "end_lo long, prefix_len int, prefix_len_max int, origin_as long")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = G.enrich_rpki(glob, rpki, None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exactly one forced broadcast: the exploded ROA band table
        assert plan.count("BroadcastExchange") == 1
        assert re.search(r"BroadcastHashJoin .*LeftOuter, BuildRight", plan)
        # the band table, not the rows, sits under the broadcast
        assert "Generate explode" in plan.split("BroadcastExchange")[1]
        assert len(re.findall(r"Join ", plan)) == 1  # no join back
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    got = {r.prefix: r.rpki_origin_as for r in out.collect()}
    assert got["10.7.0.0"] == 71007 and len(got) == 200
