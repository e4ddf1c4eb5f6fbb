"""Longest-prefix-match and containment (range) joins.

Reference semantics:
- J5 ``find_geo_ip(ip)``: most-specific geo_ip prefix containing an
  address — ``WHERE ip && $1 ORDER BY ip DESC LIMIT 1``
  (1_base.sql:66-81), applied per-row by triggers (9_triggers.sql:16).
- J7 RPKI validation: ROA ``prefix >>= rib.prefix AND rib.prefix_len
  BETWEEN roa.prefix_len AND roa.prefix_len_max``
  (2_aggregations.sql:260-265).

Postgres executes these with a GIST index nested loop. The Spark-first
plan avoids a broadcast-nested-loop theta join by bucketing the
address space: every prefix is exploded onto the fixed-width blocks
it covers (a /16 covers one /16 block; a /8 covers 256), probes map to
exactly one block, and the join becomes an equi-join on the block key
with the range test as a residual predicate — hash join, AQE-skew
aware, scales linearly. For small prefix tables (geo/ROA fit in MBs)
``broadcast=True`` skips the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.net import ipv6_le


def explode_buckets(prefixes: DataFrame, start: str, end: str,
                    bucket_bits: int = 16, addr_bits: int = 32) -> DataFrame:
    """Add a ``__bucket`` column, one row per fixed-width block the
    [start, end] range covers. Prefixes narrower than the block width
    yield exactly one row; a default route fans out into
    2^bucket_bits rows — bounded, and the right trade (see
    containment_join's strategy note)."""
    shift = addr_bits - bucket_bits
    lo = F.shiftrightunsigned(F.col(start), shift)
    hi = F.shiftrightunsigned(F.col(end), shift)
    return prefixes.withColumn("__bucket", F.explode(F.sequence(lo, hi)))


def containment_join(
    probes: DataFrame,
    probe_addr: str,
    prefixes: DataFrame,
    start: str = "prefix_start",
    end: str = "prefix_end",
    bucket_bits: int = 16,
    addr_bits: int = 32,
    broadcast: bool = False,
    extra_pred: Column | None = None,
) -> DataFrame:
    """All (probe, prefix) pairs with start <= addr <= end, executed
    as ONE bucketed hash equi-join (see module doc). Returns probe
    columns + prefix columns.

    Coarse-supernet strategy (measured): a /0 default route explodes
    into 2^bucket_bits bucket rows — a few MB in the broadcast, from
    the handful of /0-/7 rows a real table carries. The alternative
    (a second range-join pass unioned in) scans the PROBE side twice,
    and the probe side is the 100 TB side; benchmarked at 2M probes
    the single-pass explode is equal-or-faster and stable while the
    union pays a full second probe scan. One probe scan, one join."""
    shift = addr_bits - bucket_bits
    p = probes.withColumn("__bucket", F.shiftrightunsigned(F.col(probe_addr), shift))
    x = explode_buckets(prefixes, start, end, bucket_bits, addr_bits)
    if broadcast:
        x = F.broadcast(x)
    cond = (
        (p["__bucket"] == x["__bucket"])
        & (F.col(probe_addr) >= F.col(start))
        & (F.col(probe_addr) <= F.col(end))
    )
    if extra_pred is not None:
        cond = cond & extra_pred
    return p.join(x, cond).drop("__bucket")


# ---------------------------------------------------------------------------
# Unified v4/v6 (two-long unsigned-128 representation, family-tagged)
# ---------------------------------------------------------------------------

def _bucket128(family: Column, hi: Column, lo: Column, bucket_bits: int) -> Column:
    """Bucket key: top bits of the address — for v4 (hi=0, lo=addr)
    bits [31..31-bits] of lo; for v6 bits [63..63-bits] of hi.
    shiftrightunsigned keeps sign-bit-set v6 his monotonic."""
    return F.when(family == 4, F.shiftrightunsigned(lo, 32 - bucket_bits)) \
            .otherwise(F.shiftrightunsigned(hi, 64 - bucket_bits))


def containment_join128(
    probes: DataFrame,
    probe_family: str,
    probe_hi: str,
    probe_lo: str,
    prefixes: DataFrame,
    family: str = "family",
    start_hi: str = "start_hi",
    start_lo: str = "start_lo",
    end_hi: str = "end_hi",
    end_lo: str = "end_lo",
    bucket_bits: int = 16,
    broadcast: bool = False,
    extra_pred: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """containment_join for mixed v4/v6 tables: addresses are
    (family, hi, lo) with v4 as (4, 0, addr32); bounds compare
    lexicographically unsigned via ipv6_le. One hash equi-join on
    (family, bucket) covers both families — the bucket is derived per
    family so v4 rows don't all collapse into hi=0's bucket. Coarse
    supernets (::/0 and friends) explode across their buckets in the
    same single pass — see containment_join's strategy note for the
    measurement behind one-scan-with-bounded-explode. ``how="left"``
    keeps every probe row, with null prefix columns where nothing
    contains it; with ``broadcast`` the probe side keeps its
    partitioning."""
    p = probes.withColumn(
        "__bucket",
        _bucket128(F.col(probe_family), F.col(probe_hi), F.col(probe_lo), bucket_bits))
    b_lo = _bucket128(F.col(family), F.col(start_hi), F.col(start_lo), bucket_bits)
    b_hi = _bucket128(F.col(family), F.col(end_hi), F.col(end_lo), bucket_bits)
    x = prefixes.withColumn("__bucket", F.explode(F.sequence(b_lo, b_hi)))
    if broadcast:
        x = F.broadcast(x)
    range_pred = (
        (F.col(probe_family) == F.col(family))
        & ipv6_le(F.col(start_hi), F.col(start_lo), F.col(probe_hi), F.col(probe_lo))
        & ipv6_le(F.col(probe_hi), F.col(probe_lo), F.col(end_hi), F.col(end_lo))
    )
    if extra_pred is not None:
        range_pred = range_pred & extra_pred
    return p.join(x, (p["__bucket"] == x["__bucket"]) & range_pred, how) \
            .drop("__bucket")


def lpm_join128(
    probes: DataFrame,
    probe_key: list[str],
    probe_family: str,
    probe_hi: str,
    probe_lo: str,
    prefixes: DataFrame,
    masklen_col: str = "masklen",
    tiebreak: list[Column] | None = None,
    bucket_bits: int = 16,
    broadcast: bool = True,
    **bounds: str,
) -> DataFrame:
    """Mixed-family longest-prefix match: windowed top-1 over
    containment_join128 (find_geo_ip over inet, 1_base.sql:66-81 —
    the reference's GIST path is family-blind; so is this)."""
    matched = containment_join128(
        probes, probe_family, probe_hi, probe_lo, prefixes,
        bucket_bits=bucket_bits, broadcast=broadcast, **bounds)
    sh = bounds.get("start_hi", "start_hi")
    sl = bounds.get("start_lo", "start_lo")
    order = [F.col(masklen_col).desc()] + list(
        tiebreak or [F.col(sh).asc(), F.col(sl).asc()])
    w = W.partitionBy(*probe_key).orderBy(*order)
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def lpm_join(
    probes: DataFrame,
    probe_key: list[str],
    probe_addr: str,
    prefixes: DataFrame,
    masklen_col: str = "masklen",
    start: str = "prefix_start",
    end: str = "prefix_end",
    tiebreak: list[Column] | None = None,
    bucket_bits: int = 16,
    addr_bits: int = 32,
    broadcast: bool = True,
) -> DataFrame:
    """Longest-prefix match: per probe, the most-specific containing
    prefix (max masklen). find_geo_ip's ORDER BY ip DESC LIMIT 1
    (1_base.sql:73-77) as a windowed top-1 over the containment join."""
    matched = containment_join(
        probes, probe_addr, prefixes, start, end,
        bucket_bits, addr_bits, broadcast)
    order = [F.col(masklen_col).desc()] + list(tiebreak or [F.col(start).asc()])
    w = W.partitionBy(*probe_key).orderBy(*order)
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
