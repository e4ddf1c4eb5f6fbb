"""Pin the driver-side greedy ports (r14): the BPE merge rounds and
the MMR selection rounds moved from unrolled Spark job chains to exact
Python arithmetic over bounded collected inputs. These tests pin the
algebra those ports must reproduce — the fold/tie-break corner cases
the old in-plan forms defined."""
from __future__ import annotations

from .conftest import SF_SMALL


def _greedy_merge(s, lhs, rhs):
    """Reference greedy left-to-right fold (the old F.aggregate
    algebra): accumulator's last symbol merges with the next on a
    rule match."""
    if len(s) <= 1:
        return list(s)
    acc = [s[0]]
    for x in s[1:]:
        if acc[-1] == lhs and x == rhs:
            acc[-1] = lhs + rhs
        else:
            acc.append(x)
    return acc


def test_bpe_greedy_fold_overlap_semantics(spark):
    # "aaa" under merge (a,a) -> [aa, a]: the accumulator-last-symbol
    # rule merges left-to-right without re-merging its own output
    assert _greedy_merge(list("aaa"), "a", "a") == ["aa", "a"]
    assert _greedy_merge(list("aaaa"), "a", "a") == ["aa", "aa"]
    # a merged symbol does not chain with a following single
    assert _greedy_merge(["aa", "a"], "a", "a") == ["aa", "a"]


def test_bpe_train_matches_vocab_and_is_deterministic(spark):
    from obmp_psql_spark.queries_text import (_BPE_ROUNDS, q_bpe_encode,
                                              q_bpe_train)

    m1 = q_bpe_train(spark, SF_SMALL).collect()
    m2 = q_bpe_train(spark, SF_SMALL).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]
    assert len(m1) <= _BPE_ROUNDS
    # steps are 1..k in order; counts non-increasing is NOT required
    # (merges change pair mass), but every n must be positive
    assert [r["step"] for r in m1] == list(range(1, len(m1) + 1))
    assert all(r["n"] > 0 for r in m1)
    # the encode output is the train vocab segmented by those merges:
    # replaying the merge table over raw characters reproduces it
    enc = {r["word"]: r["tokens"].split("|")
           for r in q_bpe_encode(spark, SF_SMALL).collect()}
    for word, toks in enc.items():
        s = list(word)
        for r in m1:
            s = _greedy_merge(s, r["lhs"], r["rhs"])
        assert s == toks, word


def test_lpa_rounds_tie_break_and_vote_semantics(spark):
    """Hand-checkable graph: the driver-side rounds must reproduce
    the old join+min_by algebra — (count DESC, label ASC) winner,
    symmetric votes, nodes without in-votes dropping out."""
    from obmp_psql_spark.queries_curate import lpa_rounds
    from obmp_psql_spark.session import tiny_df

    # triangle {0,1,2} + pendant 3-4 edge, symmetric
    raw = [(0, 1), (1, 2), (0, 2), (3, 4)]
    sym = raw + [(b, a) for a, b in raw]
    df = tiny_df(spark, sym, "src long, dst long")
    out = {r["node"]: r["community"]
           for r in lpa_rounds(df, iters=2).collect()}
    # triangle: round 1 every node takes min neighbor label; round 2
    # converges to 0. pendant pair swaps labels each round: after 2
    # rounds each is back to its own
    assert out[0] == 0 and out[1] == 0 and out[2] == 0
    assert out[3] == 3 and out[4] == 4


def test_pagerank_matches_integer_reference(spark):
    """q_pagerank's ppm arithmetic on a tiny graph, recomputed
    longhand."""
    from obmp_psql_spark.queries_curate import (_PR_BASE, _PR_DAMP,
                                                _PR_ITERS, _PR_NODES,
                                                q_pagerank)

    out = {r["node"]: r["rank_ppm"]
           for r in q_pagerank(spark, SF_SMALL).collect()}
    assert 0 < len(out) <= _PR_NODES
    # recompute from the same derived edge list
    import pyspark.sql.functions as F
    from obmp_psql_spark.session import load_tables
    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    rows = (ev.select(((F.col("user_id") % _PR_NODES).cast("long"))
                      .alias("s"),
                      (((F.col("user_id") + F.col("event_id"))
                        % _PR_NODES).cast("long")).alias("d"))
            .filter(F.col("s") != F.col("d")).distinct().collect())
    edges = [(r["s"], r["d"]) for r in rows]
    deg = {}
    nodes = set()
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        nodes.update((s, d))
    ranks = {n: 1_000_000 for n in nodes}
    for _ in range(_PR_ITERS):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + ranks[s] // deg[s]
        ranks = {n: _PR_BASE + (_PR_DAMP * contrib.get(n, 0)) // 1_000_000
                 for n in nodes}
    assert out == ranks


# -- the numpy graph kernels against the dict loops they replaced -------

def _cc_ref(edges, max_iter):
    """Min-label rounds over a symmetric (a, b) list, as dicts."""
    labels = {}
    for a, b in edges:
        labels[a] = min(labels.get(a, a), b)
    for _ in range(max_iter):
        new = dict(labels)
        for a, b in edges:
            if labels[a] < new[b]:
                new[b] = labels[a]
        if new == labels:
            return labels
        labels = new
    raise RuntimeError("no fixpoint")


def _lpa_ref(edges, iters):
    """Mode-vote rounds over a (src, dst) list, as dicts."""
    labels = {s: s for s, _ in edges}
    for _ in range(iters):
        votes = {}
        for s, d in edges:
            lab = labels.get(s)
            if lab is None:
                continue
            cnt = votes.setdefault(d, {})
            cnt[lab] = cnt.get(lab, 0) + 1
        labels = {node: min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                  for node, cnt in votes.items()}
    return labels


def _pr_ref(edges, iters, base, damp):
    """Integer-ppm PageRank over a directed (src, dst) list, as dicts."""
    deg, nodes = {}, set()
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        nodes.update((s, d))
    ranks = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + ranks[s] // deg[s]
        ranks = {n: base + (damp * contrib.get(n, 0)) // 1_000_000
                 for n in nodes}
    return ranks


def _random_graph(seed):
    """Seeded graph of 5-500 nodes and up to 2,000 distinct edges with
    no self loop, over sparse ids, plus one pendant pair."""
    import random

    rnd = random.Random(seed)
    ids = rnd.sample(range(10**6), rnd.randint(5, 500))
    n_edges = rnd.randint(0, min(2000, len(ids) * 4))
    edges = {(rnd.choice(ids), rnd.choice(ids)) for _ in range(n_edges)}
    edges.add((10**6 + seed, 10**6 + seed + 1))
    return sorted((a, b) for a, b in edges if a != b)


def _kernel(fn, edges, *args):
    """Run a numpy kernel over an id edge list: (ids, result)."""
    import numpy as np

    from obmp_psql_spark.operators import graph

    a = np.array([e[0] for e in edges])
    b = np.array([e[1] for e in edges])
    ids, src, dst = graph.dense(a, b)
    return ids, fn(src, dst, len(ids), *args)


def _symmetric(edges):
    return sorted(set(edges) | {(b, a) for a, b in edges})


def test_graph_kernels_match_dict_loops_on_random_graphs():
    from obmp_psql_spark.operators import graph
    from obmp_psql_spark.queries_curate import _PR_BASE, _PR_DAMP

    for seed in range(30):
        edges = _random_graph(seed)
        sym = _symmetric(edges)
        ids, lab = _kernel(graph.min_label, sym, 500)
        assert dict(zip(ids.tolist(), ids[lab].tolist())) == \
            _cc_ref(sym, 500), seed
        for g in (sym, edges):  # directed: nodes left without votes
            ids, lab = _kernel(graph.mode_vote, g, 4)
            voted = lab >= 0
            assert dict(zip(ids[voted].tolist(),
                            ids[lab[voted]].tolist())) == _lpa_ref(g, 4), seed
        ids, rank = _kernel(graph.ppm_rank, edges, 5, _PR_BASE, _PR_DAMP)
        assert dict(zip(ids.tolist(), rank.tolist())) == \
            _pr_ref(edges, 5, _PR_BASE, _PR_DAMP), seed


def test_graph_kernels_corner_cases():
    import pytest

    from obmp_psql_spark.operators import graph

    # a tie: node 2 hears labels 1 and 3 once each and takes 1; the
    # pendant pair 7-8 swaps labels every round
    sym = _symmetric([(1, 2), (2, 3), (7, 8)])
    for iters in (1, 2, 3):
        ids, lab = _kernel(graph.mode_vote, sym, iters)
        got = dict(zip(ids.tolist(), ids[lab].tolist()))
        assert got == _lpa_ref(sym, iters)
        assert got[2] == (1 if iters % 2 else 2)
        assert (got[7], got[8]) == ((8, 7) if iters % 2 else (7, 8))
    # no votes: 0 and 2 only send, so round 1 drops them and round 2
    # drops 1, whose senders no longer carry a label
    ids, lab = _kernel(graph.mode_vote, [(0, 1), (2, 1)], 1)
    assert (lab >= 0).tolist() == [False, True, False]
    ids, lab = _kernel(graph.mode_vote, [(0, 1), (2, 1)], 2)
    assert (lab < 0).all() and _lpa_ref([(0, 1), (2, 1)], 2) == {}
    # string ids: labels are the smallest id in sort order
    sym = _symmetric([("b", "c"), ("c", "aa"), ("x", "y")])
    ids, lab = _kernel(graph.min_label, sym, 5)
    assert dict(zip(ids.tolist(), ids[lab].tolist())) == _cc_ref(sym, 5) \
        == {"aa": "aa", "b": "aa", "c": "aa", "x": "x", "y": "x"}
    # a path needs its diameter in rounds, else both raise
    path = _symmetric([(i, i + 1) for i in range(8)])
    with pytest.raises(RuntimeError, match="fixpoint"):
        _kernel(graph.min_label, path, 3)
    with pytest.raises(RuntimeError):
        _cc_ref(path, 3)
    # 0 edges: empty results, no raise
    for fn, args in ((graph.min_label, (3,)), (graph.mode_vote, (3,)),
                     (graph.ppm_rank, (3, 150_000, 850_000))):
        ids, out = _kernel(fn, [], *args)
        assert len(ids) == 0 and len(out) == 0


def test_connected_components_string_ids(spark):
    """The driver path keeps the id type: string ids in, string
    components out, each the smallest id of its component."""
    from obmp_psql_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "aa"), ("x", "y"), ("y", None)],
        "id_a string, id_b string")
    out = connected_components(pairs)
    assert out.schema.simpleString() == "struct<id:string,component:string>"
    assert {(r.id, r.component) for r in out.collect()} == {
        ("aa", "aa"), ("b", "aa"), ("c", "aa"), ("x", "x"), ("y", "x")}


def test_lpa_rounds_over_the_bound_raise(spark, monkeypatch):
    """Over ``graph.DRIVER_MAX_EDGES`` edge rows the collect is refused
    with a ``ValueError`` that names the bound; at it the rounds run."""
    import pytest

    from obmp_psql_spark.operators import graph
    from obmp_psql_spark.queries_curate import lpa_rounds
    from obmp_psql_spark.session import tiny_df

    df = tiny_df(spark, _symmetric([(0, 1), (1, 2), (3, 4)]),
                 "src long, dst long")
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 6)
    assert lpa_rounds(df, iters=1).count() == 5
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 5)
    with pytest.raises(ValueError, match="DRIVER_MAX_EDGES"):
        lpa_rounds(df, iters=1)


def test_mmr_greedy_matches_reference_chain(spark):
    """Recompute MMR from the query's own published pool algebra: the
    driver-side greedy must equal the (score desc, cand_id asc)
    argmax chain with maxsim over already-selected candidates."""
    from obmp_psql_spark.queries_curate import (_MMR_DEN, _MMR_K,
                                                _MMR_NUM, q_mmr_rerank)

    out = q_mmr_rerank(spark, SF_SMALL).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        steps = sorted(r["mmr_step"] for r in rows)
        assert steps == list(range(1, len(rows) + 1))
        assert len(rows) <= _MMR_K
        # step 1 is the max-relevance candidate of the emitted set
        first = min(rows, key=lambda r: r["mmr_step"])
        assert first["rel_ppm"] == max(
            r["rel_ppm"] for r in rows if r["mmr_step"] == 1)
    # selections are unique per query
    for qid, rows in by_q.items():
        ids = [r["cand_id"] for r in rows]
        assert len(ids) == len(set(ids))
    assert _MMR_NUM == 7 and _MMR_DEN == 3  # pinned integer lambda
