"""Distributed PCA over an embedding column.

The training-data use: whiten / reduce embeddings before ANN indexing
or semantic clustering (OPQ-style rotation in PQ pipelines, component
pruning before IVF). The Spark-first shape is a map-side Gram
reduction — the only thing that crosses the shuffle is one d x d
partial second-moment matrix per partition (plus the d-vector sum and
a count), so network cost is O(partitions * d^2), INDEPENDENT of row
count: the same plan at 100 TB ships exactly the same few MB. The
eigendecomposition runs driver-side on the d x d covariance (d is
64-1024 for real embedding tables — microseconds in LAPACK), the
same split MLlib's PCA uses (RowMatrix.computePrincipalComponents).

The Gram partials are the one place Python touches the data, and it
is an Arrow-batched ``mapInPandas`` doing a single BLAS ``X.T @ X``
per batch — vectorized, never per-row.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import index_step


def gram_partials(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """Per-partition second-moment partials, flattened to (pos, val)
    rows: pos 0 = row count, pos 1..d = per-dimension sums, pos
    d+1 .. d+d^2 = row-major X^T X entries. One groupBy(pos).sum
    combines the partitions (d^2+d+1 rows per partition in flight —
    4161 at d=64)."""
    import numpy as np  # noqa: F401  (worker-side import below)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        n = 0
        s = np.zeros(dims)
        g = np.zeros((dims, dims))
        for b in batches:
            if not len(b):
                continue
            x = np.asarray(
                np.stack(b[vec_col].to_numpy()), dtype=np.float64)
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n == 0:
            return
        pos = np.arange(1 + dims + dims * dims, dtype=np.int64)
        val = np.concatenate(([float(n)], s, g.reshape(-1)))
        yield pd.DataFrame({"pos": pos, "val": val})

    return (df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
            .mapInPandas(part, schema="pos long, val double")
            .groupBy("pos").agg(F.sum("val").alias("val")))


def pca_fit(df: DataFrame, vec_col: str, dims: int,
            n_components: int = 2):
    """Fit PCA: returns (mean, components, eigvals) as plain Python
    lists — ``components`` is ``n_components`` rows of length
    ``dims``, eigenvalue-descending, each sign-normalized so its
    largest-|entry| coordinate is positive (eigenvectors are
    sign-ambiguous; without the convention two runs could publish
    negated, equally-valid axes).

    Downstream consumers treat the fitted model as a PUBLISHED
    artifact (parquet handoff): run-to-run float-sum variation in
    the distributed partials never has to be reproducible, only the
    projection computed FROM the published matrix does — the same
    contract as ``kmeans_assign``."""
    rows = gram_partials(df, vec_col, dims).collect()  # d^2+d+1 rows
    return _model_from_rows(rows, dims, n_components)


def _model_from_rows(rows, dims: int, n_components: int):
    """(pos, val) rows -> (mean, components, eigvals). Shared by the
    batch fit and the incremental store-backed fit — the summed
    partials are the entire model state, so where they came from
    (one scan or N appended batches) cannot matter."""
    import numpy as np

    flat = np.zeros(1 + dims + dims * dims)
    for r in rows:
        flat[r["pos"]] += r["val"]
    n = flat[0]
    if n < 2:
        raise ValueError(f"PCA needs >= 2 rows, got {int(n)}")
    mean = flat[1:1 + dims] / n
    second = flat[1 + dims:].reshape(dims, dims) / n
    cov = second - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:n_components]
    comps = []
    for i in order:
        v = eigvecs[:, i]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return ([float(x) for x in mean], comps,
            [float(eigvals[i]) for i in order])


def incremental_gram_update(
    store, new_vecs: DataFrame, vec_col: str, dims: int, *,
    batch_id: int, partials_table: str = "pca_gram_partials",
) -> None:
    """Streaming PCA maintenance: append this batch's Gram partial
    rows atomically to the transactional store — the model-state
    analog of ``incremental_minhash_pairs`` (band rows) and
    ``incremental_ivf_assignments`` (inverted-list rows).

    Because the sufficient statistics are pure sums, batch order and
    batch boundaries cannot change the model: any split of the corpus
    into batches accumulates the identical (count, sums, X^T X)
    state, and the fitted model is recovered at READ time by summing
    whatever partials exist (``pca_fit_from_store``). A replayed
    ``batch_id`` is skipped before any compute (exactly-once,
    per-table txn counter; ``state.index_step``), so at-least-once delivery never
    double-counts a batch into the covariance.

    Scale: per batch one mapInPandas scan + a (d^2+d+1)-row append —
    old vectors are NEVER rescanned."""
    index_step(store, f"pca_gram:{partials_table}", batch_id,
               lambda keep: [(partials_table,
                              gram_partials(new_vecs, vec_col, dims))])


def pca_fit_from_store(store, dims: int, n_components: int = 2,
                       partials_table: str = "pca_gram_partials"):
    """Recover (mean, components, eigvals) from the accumulated
    partials — the read half of ``incremental_gram_update``."""
    from pyspark.sql import functions as F2

    rows = (store.read(partials_table)
            .groupBy("pos").agg(F2.sum("val").alias("val")).collect())
    return _model_from_rows(rows, dims, n_components)
