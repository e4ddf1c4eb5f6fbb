"""Driver-side graph rounds over one bounded edge collect.

Connected components, label propagation and PageRank iterate over an
edge list that is model-sized state once Spark has built it: dedup
pairs under the measured bound, or a graph over a fixed node universe.
Each collects that list once and runs its synchronous rounds in numpy,
where a round costs milliseconds instead of a Spark job and two
shuffles:

- ``checkpoint`` materializes the edge list with ``localCheckpoint``
  and observes its row count in the same job;
- ``_collect`` refuses a list over ``DRIVER_MAX_EDGES`` rows, then
  takes it as Arrow and maps the node ids to dense indices with one
  ``np.unique``. Index order is id order, so a min over indices is a
  min over ids, whatever the id type;
- ``min_label``, ``mode_vote`` and ``ppm_rank`` are the rounds, on
  index arrays only;
- the result goes back through ``tiny_df`` as an Arrow table.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import tiny_df

# The most edge rows one driver-side graph collect may hold: a memory
# bound. The kernel's driver peak, measured on the ``lpa`` probe graphs
# (0.3M and 3.0M capped edges, 4 cores), is 131 bytes per edge: 109 of
# tracemalloc peak (the id and index arrays, one vote round's keys) and
# 16 of Arrow buffers. The bound holds that peak near 500 MB.
DRIVER_MAX_EDGES = 4_000_000
# connected_components runs its rounds on the driver at or under this
# many symmetric edge rows (10^5 pairs), and distributed above it: a
# speed bound. On star graphs of 4 leaves per centre (4 cores, warm
# session, output consumed by one aggregate, median of 3, driver vs
# distributed) the driver path won at 10^4 pairs (0.73 vs 1.57 s),
# 10^5 (0.96 vs 1.39 s) and 1.5*10^5 (1.63 vs 2.05 s), tied at 2*10^5
# (1.70 vs 1.74 s) and lost at 3*10^5 (2.27 vs 1.94 s), 10^6 (6.5 vs
# 4.3 s) and at DRIVER_MAX_EDGES (12.4 vs 8.1 s). The numpy rounds take
# 0.03 s at 10^6 pairs; the Arrow round trip of the edges in and the
# labels out, and the one-partition label frame, set the crossover.
CC_DRIVER_MAX_EDGES = 200_000


def checkpoint(edges: DataFrame) -> tuple[DataFrame, int]:
    """``edges`` materialized once, and its row count, observed by the
    checkpoint's own job."""
    obs = Observation()
    edges = edges.observe(obs, F.expr("count(1) AS n")).localCheckpoint()
    return edges, obs.get["n"]


def _collect(edges: DataFrame, n: int, what: str):
    """The (src, dst) columns of checkpointed ``edges`` (``n`` rows) as
    (sorted distinct ids, src index, dst index). An edge with a null
    endpoint links nothing and is dropped."""
    if n > DRIVER_MAX_EDGES:
        raise ValueError(
            f"{what}: {n:,} edges exceed graph.DRIVER_MAX_EDGES "
            f"({DRIVER_MAX_EDGES:,}), the bound on a driver-side graph "
            f"collect")
    tab = edges.toArrow().drop_null()
    src, dst = (tab.column(i).to_numpy() for i in range(2))
    return dense(src, dst)


def dense(src: np.ndarray, dst: np.ndarray):
    """(sorted distinct ids, src index, dst index) of an edge list."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, idx[:len(src)], idx[len(src):]


def _frame(edges: DataFrame, names: tuple[str, str], keys, values,
           value_type: T.DataType | None = None) -> DataFrame:
    """(key, value) columns as a one-partition frame; both take the id
    type of ``edges``' first column unless ``value_type`` is given."""
    t = edges.schema.fields[0].dataType
    schema = T.StructType([T.StructField(names[0], t),
                           T.StructField(names[1], value_type or t)])
    return tiny_df(edges.sparkSession,
                   pa.table([pa.array(keys), pa.array(values)],
                            names=list(names)), schema)


def components(sym: DataFrame, n: int, max_iter: int) -> DataFrame:
    """(id, component) of a checkpointed symmetric (a, b) edge list of
    ``n`` rows: ``connected_components``' rounds, on the driver."""
    ids, src, dst = _collect(sym, n, "connected_components")
    return _frame(sym, ("id", "component"), ids,
                  ids[min_label(src, dst, len(ids), max_iter)])


def label_propagation(sym: DataFrame, iters: int) -> DataFrame:
    """(node, community) after ``iters`` ``mode_vote`` rounds over a
    symmetric (src, dst) edge list."""
    sym, n = checkpoint(sym)
    ids, src, dst = _collect(sym, n, "label_propagation")
    lab = mode_vote(src, dst, len(ids), iters)
    voted = lab >= 0
    return _frame(sym, ("node", "community"), ids[voted], ids[lab[voted]])


def pagerank(edges: DataFrame, iters: int, base: int,
             damp: int) -> DataFrame:
    """(node, rank_ppm) after ``iters`` ``ppm_rank`` rounds over a
    directed (src, dst) edge list."""
    edges, n = checkpoint(edges)
    ids, src, dst = _collect(edges, n, "pagerank")
    return _frame(edges, ("node", "rank_ppm"), ids,
                  ppm_rank(src, dst, len(ids), iters, base, damp),
                  T.LongType())


def min_label(src: np.ndarray, dst: np.ndarray, n: int,
              max_iter: int) -> np.ndarray:
    """Connected components by synchronous min-label rounds over a
    symmetric edge list of node indices: each node starts at the min of
    itself and its neighbours, then takes the min of its own and its
    neighbours' labels until a round changes none. ``max_iter`` rounds
    without that fixpoint raise ``RuntimeError``."""
    lab = np.arange(n)
    np.minimum.at(lab, src, dst)
    for _ in range(max_iter):
        new = lab.copy()
        np.minimum.at(new, dst, lab[src])
        if np.array_equal(new, lab):
            return lab
        lab = new
    raise no_fixpoint(max_iter)


def no_fixpoint(max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        f"(graph diameter exceeds cap; use alternating-star)")


def mode_vote(src: np.ndarray, dst: np.ndarray, n: int,
              iters: int) -> np.ndarray:
    """Synchronous label propagation over an edge list of node indices:
    every src starts labelled with itself; per round each dst takes
    the label most of its labelled srcs carry, ties to the smallest.
    A node that receives no vote loses its label (-1)."""
    lab = np.full(n, -1)
    lab[src] = src
    for _ in range(iters):
        votes = lab[src]
        cast = votes >= 0
        # per (dst, label) counts: np.unique's keys come sorted by dst
        key, count = np.unique(dst[cast] * n + votes[cast],
                               return_counts=True)
        to, label = np.divmod(key, n)
        order = np.lexsort((label, -count, to))
        to, label = to[order], label[order]
        first = np.ones(len(to), bool)
        first[1:] = to[1:] != to[:-1]
        lab = np.full(n, -1)
        lab[to[first]] = label[first]
    return lab


def ppm_rank(src: np.ndarray, dst: np.ndarray, n: int, iters: int,
             base: int, damp: int) -> np.ndarray:
    """PageRank in integer parts per million over a directed edge list
    of node indices: every node starts at 10^6; per round each src
    sends ``rank // out_degree`` along each edge and a node's new rank
    is ``base + damp * received // 10^6``. All int64 floor division,
    so the sums are exact and order-free. With ``base + damp`` <= 10^6
    (``q_pagerank``'s 150,000 + 850,000) the rank mass stays under
    n * 10^6, so no product passes 2^63 while n < 9 * 10^6 nodes
    (``DRIVER_MAX_EDGES`` caps n at 8M)."""
    out_deg = np.bincount(src, minlength=n)
    rank = np.full(n, 1_000_000, dtype=np.int64)
    for _ in range(iters):
        received = np.zeros(n, dtype=np.int64)
        np.add.at(received, dst, rank[src] // out_deg[src])
        rank = base + damp * received // 1_000_000
    return rank
