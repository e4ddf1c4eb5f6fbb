"""MERGE / upsert emulation as DataFrame algebra.

The reference's hot path is a multi-row ``INSERT ... ON CONFLICT DO
UPDATE`` with per-column CASE logic (UnicastPrefixQuery.java:24-41,
RouterQuery.java:32-38, PeerQuery.java:32-38). On a Delta/Iceberg
deployment these map 1:1 to ``MERGE INTO ... WHEN MATCHED THEN UPDATE
SET col = CASE ...``; this container has no Delta jars, so the same
semantics are implemented as pure DataFrame transformations over a
parquet-backed state table:

    new_state = merge(state, batch)  ==  (batch ⟕ state) resolved per
    column  ∪  (state ⟖ batch anti)

which a lakehouse MERGE executes with the identical join plan. The
functions below return the new state DataFrame; persisting it
(overwrite-partition or Delta commit) is the sink's job.

Scale: one shuffle on the merge key for the join, one for the anti —
on Delta this collapses into the single MERGE shuffle; with the state
table bucketed by key both sides co-locate and only the batch
shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_latest


def upsert_latest(
    state: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    tiebreak: list[Column] | None = None,
) -> DataFrame:
    """Last-writer-wins upsert: per key, keep the row with the
    greatest ``ts_col`` across state ∪ batch; the batch wins ties
    (MERGE ``WHEN MATCHED AND src.ts >= tgt.ts`` — T7 semantics,
    UnicastPrefixQuery.java:35-40 timestamp guard).
    """
    s = state.withColumn("__src", F.lit(0))
    b = batch.withColumn("__src", F.lit(1))
    order = [F.col(ts_col).desc(), F.col("__src").desc()] + list(tiebreak or [])
    return dedup_latest(s.unionByName(b), keys, order).drop("__src")

