"""Registry-wide physical-plan gate.

A CartesianProduct or an unplanned BroadcastNestedLoopJoin anywhere in
the 68-query registry is a scale-killer: the first is O(N*M) shuffle-
free row pairing, the second ships one whole side to every executor
and loops. Both are acceptable ONLY when the broadcast side is bounded
by construction; every such site is whitelisted here with its reason.
``tools/dump_plans.py`` refuses to write PLANS.md on a violation and
``tests/test_scale_plans.py`` fails the suite, so a future query can't
introduce an accidental cross join silently.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

# query name -> why its BroadcastNestedLoopJoin is the correct shape.
# CartesianProduct (non-broadcast) is never whitelisted.
BNLJ_WHITELIST: dict[str, str] = {
    # k ≪ N centroid codebook broadcast to every vector partition —
    # the canonical IVF assignment join
    "q_ann_ivf": "broadcast-centroid IVF assignment (k centroids)",
    # 1-row fingerprint-count census broadcast into the occupancy-
    # adaptive cap expression (finding 31) — the scalar-subquery
    # pattern; the exact/fixed-cap sides of the same gates stay
    # equi-join-only
    "q_image_neardup": "broadcast 1-row fingerprint census (auto cap)",
    "q_audio_neardup": "broadcast 1-row fingerprint census (auto cap)",
    # 1-row aggregate (high-watermark) broadcast for the relative
    # retention window — the scalar-subquery pattern
    "q_retention_purge": "broadcast 1-row watermark aggregate",
    # r14 bitset rewrite: the (n_wedges) and (n_triangles) global
    # aggregates are each exactly one row; the final combine is a
    # 1-row x 1-row crossJoin
    "q_triangle_count": "crossJoin of two 1-row global aggregates",
    # two 1-row cohort-total aggregates broadcast onto the fixed
    # 10-row bin grid — the scalar-subquery pattern, bounded by the
    # grid not the data
    "q_drift_psi": "broadcast 1-row cohort totals onto a 10-row bin grid",
    # 1-row corpus-size aggregate broadcast into the idf expression —
    # the same scalar-subquery pattern
    "q_doc_unigram_ppl": "broadcast 1-row corpus-total aggregate (MLE "
                         "denominator) — same scalar-subquery pattern",
    "q_bigram_surprisal": "broadcast 1-row vocab-size aggregate (add-1 "
                          "denominator) — same scalar-subquery pattern",
    "q_bm25_rank": "broadcast 1-row corpus-stats aggregate (N + avgdl) "
                   "— same scalar-subquery pattern",
    "q_domain_mix": "broadcast 1-row total/source-count aggregate (rates)",
    # 1-row orphan-count x 1-row table-count: the DQ summary join
    "q_dq_audit": "1-row x 1-row aggregate combine (orphans + n_rows)",
    # 1-row published PCA model (mean + 2 components) broadcast into
    # the projection expressions — the scalar-subquery pattern
    "q_pca_project": "broadcast 1-row projection-model dump",
    # 1-row trained logistic-regression weight dump broadcast into the
    # scoring expression — the scalar-subquery pattern
    "q_quality_classifier": "broadcast 1-row trained-weight dump",
    "q_uncertainty_select": "broadcast 1-row trained-weight dump",
    "q_mix_temperature": "broadcast 1-row normalizing-total aggregate",
    # 1-row LM totals (corpus total + smoothed target denominator)
    # broadcast into the per-token LLR — the scalar-subquery pattern
    "q_dsir_select": "broadcast 1-row LM-totals aggregate",
    # 1-row percentile-cut aggregate broadcast into the outlier flag —
    # the scalar-subquery pattern
    "q_embed_outliers": "broadcast 1-row percentile-cut aggregate",
    # shares q_pca_project's 1-row model broadcast; visible since the
    # plan audit dumps gate pipelines PRE-materialization (r12) — the
    # broadcast side is the d x k eigenvector matrix, one row
    "q_stream_pca": "broadcast 1-row PCA model (d x k eigenvectors)",
    # gate-construction artifact, visible pre-materialization (r12):
    # the fixture's peer batch carries a CONSTANT router_hash_id
    # ('rt0'), so Catalyst folds the router-backfill equi-join's key
    # into a build-side filter ('rt0' = hash_id) and the remaining
    # condition-less join degenerates to a BNLJ over the <=1-row
    # filtered router dim. With heterogeneous router keys (any real
    # deployment) the same code plans a BroadcastHashJoin — verified
    # by the plan gate on prepare_peer in test_scale_plans.py.
    "q_bmp_peer_state": "constant-key fold of the 1-router backfill join",
    "q_bmp_peer_events": "constant-key fold of the 1-router backfill join",
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def cross_join_violations(name: str, plan: str) -> list[str]:
    """Return violation strings for unplanned cross joins in ``plan``
    (empty list = clean)."""
    out = []
    if re.search(r"CartesianProduct", plan):
        out.append(f"{name}: CartesianProduct (all-pairs, never allowed)")
    if re.search(r"BroadcastNestedLoopJoin", plan) \
            and name not in BNLJ_WHITELIST:
        out.append(
            f"{name}: BroadcastNestedLoopJoin not whitelisted — if the "
            f"broadcast side is bounded by construction, add the query "
            f"to plans.audit.BNLJ_WHITELIST with the reason")
    return out
