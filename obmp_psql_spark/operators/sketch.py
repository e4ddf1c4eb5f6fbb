"""Misra-Gries heavy-hitters sketch: mergeable frequency summaries.

The missing member of the sketch family next to HLL (distinct count,
``hll_sketch_agg``) and GK (quantiles): a bounded-memory frequency
summary whose merge is associative, so 1000 executors can each
summarize their shard and a tree of merges yields a global summary
with the SAME error guarantee (Agarwal et al., "Mergeable
Summaries", PODS 2012, Thm 1):

    for every item:  0 <= exact - est <= (N - M) / (k + 1)

where N is the stream length and M the summary's retained mass.
Consequently every item with exact > (N - M)/(k+1) is guaranteed
present — the heavy-hitters contract.

Implementation is the classic k-counter algorithm, batch-reduced:
counting within a partition is exact until the map exceeds k keys,
then the (k+1)-th largest count m is subtracted from every counter
(equivalent to m rounds of Misra-Gries decrement-all) and non-
positive counters drop. Partials merge by plain per-key sum followed
by one final subtract-reduce. Every step is order-free (dict sums
and a sorted-values threshold), so the summary is deterministic for
a given partition layout — which the recall-handshake oracle relies
on.

100 TB shape: one Arrow-batched pass per partition (state = k
counters, independent of partition size), a k*P-row shuffle, and a
k-row result. The full exact groupBy this replaces shuffles the
entire key universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import index_step


def _reduce_counters(counters: dict, k: int) -> dict:
    """Batch Misra-Gries reduction: if more than k keys survive,
    subtract the (k+1)-th largest count from all (== that many
    decrement-all rounds) and drop the non-positive ones."""
    if len(counters) <= k:
        return counters
    m = sorted(counters.values(), reverse=True)[k]
    return {t: c - m for t, c in counters.items() if c > m}


def misra_gries(df: DataFrame, col: str, k: int) -> DataFrame:
    """Build a merged Misra-Gries summary of ``df[col]``.

    Returns a DataFrame ``(item string, est long)`` with at most ~k
    rows (ties at the reduction threshold may keep a few extra —
    the error bound is unaffected).
    """
    def summarize(batches):
        import pandas as pd
        counters: dict = {}
        for pdf in batches:
            for item, c in pdf[col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            counters = _reduce_counters(counters, k)
        yield pd.DataFrame(
            {"item": list(counters.keys()),
             "est": list(counters.values())})

    partials = df.select(F.col(col).cast("string").alias(col)) \
        .mapInPandas(summarize, schema="item string, est long")
    return merge_mg_partials(partials, k)


def merge_mg_partials(partials: DataFrame, k: int) -> DataFrame:
    """Merge MG partial summaries (``item``, ``est`` rows from any
    number of partition- or batch-level summaries) into one summary:
    per-key sum, then one subtract-reduce back to ~k keys.
    Associative — any merge tree yields a summary with the same
    (N - M)/(k+1) guarantee.

    The merge itself runs DRIVER-SIDE: the input is sketch metadata
    (<= ~(k+1) rows per partition- or batch-partial — bounded by the
    merge tree, never the data), so one collect executes the
    expensive upstream pass exactly once and the sum/threshold/
    subtract arithmetic is exact Python longs — bit-identical to the
    previous distributed per-key sum + (k+1)-th-largest threshold.
    Replaces a persist + threshold-collect + subtract-scan
    choreography (3 jobs per call) with one job and a literal frame."""
    from ..session import tiny_df

    agg: dict = {}
    for r in partials.select("item", "est").collect():
        agg[r["item"]] = agg.get(r["item"], 0) + r["est"]
    top = sorted(agg.values(), reverse=True)
    m = top[k] if len(top) >= k + 1 else 0
    rows = sorted((item, est - m) for item, est in agg.items()
                  if est - m > 0)
    return tiny_df(partials.sparkSession, rows, "item string, est long")


def incremental_mg_update(store, batch_df: DataFrame, col: str, k: int, *,
                          batch_id: int,
                          partials_table: str = "mg_partials") -> None:
    """Streaming heavy-hitters maintenance: append this micro-batch's
    MG summary (<= ~k rows) atomically to the transactional store —
    the frequency-sketch member of the incremental-index family next
    to the MinHash band index, the IVF inverted lists, and the PCA
    Gram partials.

    Because MG summaries are mergeable with a guarantee independent
    of the merge tree, batch boundaries and order cannot weaken the
    result: the summary recovered at read time from ANY accumulation
    of per-batch partials satisfies exact - est <= (N - M)/(k+1). A
    replayed ``batch_id`` is skipped before any compute
    (exactly-once, per-table txn counter; ``state.index_step``), so at-least-once delivery
    never double-counts a batch.

    Scale: per batch one k-counter Arrow pass over the NEW rows plus
    a <= ~k-row append — the history is never rescanned."""
    index_step(store, f"mg_sketch:{partials_table}", batch_id,
               lambda keep: [(partials_table, misra_gries(batch_df, col, k))])


def mg_from_store(store, k: int,
                  partials_table: str = "mg_partials") -> DataFrame:
    """Recover the merged heavy-hitters summary from the accumulated
    per-batch partials — the read half of ``incremental_mg_update``."""
    return merge_mg_partials(store.read(partials_table), k)


# -- mergeable quantile summary (MRL-style rank sample) --------------------

def _compress(values, weights, k: int):
    """Collapse a SORTED weighted point set to k equal-weight points
    at the (i + 0.5)/k cumulative-mass targets. One collapse of a
    summary with mass W adds <= W/k rank error (Manku-Rajagopalan-
    Lindsay collapse step) — the quantile analog of the Misra-Gries
    subtract-reduce."""
    import numpy as np

    if len(values) <= k:
        return values, weights
    w_total = float(weights.sum())
    step = w_total / k
    cumw = np.cumsum(weights)
    idx = np.searchsorted(cumw, (np.arange(k) + 0.5) * step, side="left")
    idx = np.clip(idx, 0, len(values) - 1)
    return values[idx], np.full(k, step)


def quantile_summary(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Mergeable quantile summary of ``df[col]``: the third member of
    the sketch family (HLL = distinct, Misra-Gries = frequency,
    this = quantiles). Each partition emits <= k weighted points;
    summaries merge by concatenation + one collapse, so any merge
    tree over any number of shards/batches yields estimates with
    rank error <= 3N/k: one collapse per Arrow batch (their masses
    sum to the partition's), one per partition, one at the final
    merge — each level contributes <= N/k over the whole mass.

    100 TB shape: one sorted-sample pass per partition with task
    state bounded at ~128k weighted points regardless of partition
    size (two-level chunked folding over Arrow batches), a k*P-row
    result, no shuffle of the data itself. The exact percentile it
    replaces sorts the full column.
    """
    def summarize(batches):
        import numpy as np
        import pandas as pd

        def fold(vs, ws):
            v = np.concatenate(vs)
            w = np.concatenate(ws)
            order = np.argsort(v, kind="stable")
            return _compress(v[order], w[order], k)

        # two-level chunked accumulation keeps task state bounded at
        # ~128k points no matter how many Arrow batches a partition
        # has: every 64 batch summaries fold into one level-2 summary
        # (disjoint masses, so each fold level adds <= N_p/k rank
        # error total). Up to 64*64 batches that is one extra level;
        # the documented 3N/k bound covers <= 64 batches/partition
        # and degrades by +N/k per additional fold level beyond it.
        lvl2_v, lvl2_w, vs, ws = [], [], [], []
        for pdf in batches:
            v = pdf[col].to_numpy(dtype="float64")
            v = np.sort(v[~np.isnan(v)])
            if not len(v):
                continue
            cv, cw = _compress(v, np.ones(len(v)), k)
            vs.append(cv)
            ws.append(cw)
            if len(vs) >= 64:
                fv, fw = fold(vs, ws)
                lvl2_v.append(fv)
                lvl2_w.append(fw)
                vs, ws = [], []
                if len(lvl2_v) >= 64:
                    fv, fw = fold(lvl2_v, lvl2_w)
                    lvl2_v, lvl2_w = [fv], [fw]
        if vs or lvl2_v:
            v, w = fold(lvl2_v + vs, lvl2_w + ws)
            yield pd.DataFrame({"value": v, "weight": w})

    return df.select(F.col(col).cast("double").alias(col)) \
        .mapInPandas(summarize, schema="value double, weight double")


def quantile_estimates(partials: DataFrame, q_ppms: list[int]) -> list:
    """Merge quantile-summary partials and answer rank queries:
    returns [(q_ppm, estimate)] — for each target, the first summary
    point whose cumulative weight reaches ``q * W``. The summary is
    sketch-sized by construction (<= ~k points per partition), so the
    final selection is a bounded summary-sized collect, exactly like
    Misra-Gries' (k+1)-row threshold collect — never the data."""
    rows = sorted((r["value"], r["weight"]) for r in partials.collect())
    w_total = sum(w for _, w in rows) or 1.0
    out = []
    for q in sorted(q_ppms):
        target = q / 1_000_000 * w_total
        cum = 0.0
        est = rows[-1][0] if rows else None
        for v, w in rows:
            cum += w
            if cum >= target:
                est = v
                break
        out.append((q, est))
    return out


def incremental_quantile_update(store, batch_df: DataFrame, col: str,
                                k: int = 256, *, batch_id: int,
                                partials_table: str = "quantile_partials"
                                ) -> None:
    """Streaming quantile maintenance: append this micro-batch's
    summary (<= k*P rows) atomically — the quantile member of the
    incremental-index family (MinHash bands, IVF lists, PCA Gram
    partials, MG counters). Mergeability makes batch boundaries
    irrelevant: per-batch collapse errors sum over DISJOINT masses,
    so the recovered summary keeps the <= 3N/k rank bound no matter
    how ingestion was batched. Replayed batch ids are skipped before
    any compute (exactly-once; ``state.index_step``)."""
    index_step(store, f"quantile_sketch:{partials_table}", batch_id,
               lambda keep: [(partials_table,
                              quantile_summary(batch_df, col, k))])
