"""IP / CIDR column-expression toolkit.

The reference leans on Postgres ``inet`` operators — ``&&`` overlap,
``>>=`` containment, ``host()``, ``family()`` (1_base.sql:66-81,
2_aggregations.sql:260-265, 8_views.sql:11,76). Spark has no inet
type, so prefixes are mapped to numeric (start, end) bounds once at
ingest and every containment/overlap predicate becomes an integer
range comparison — JVM-side, codegen-friendly, and usable for Parquet
min/max data skipping on the bounds columns at 100 TB.

IPv4 fits a single BIGINT. IPv6 is represented as two BIGINTs
(hi/lo, network byte order); comparisons compare (hi, lo)
lexicographically. Parsing v4 strings is pure column expressions;
v6 string parsing (:: expansion) is a vectorized pandas UDF on the
ingest path only — lookup tables are small, never the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# IPv4 (native column expressions)
# ---------------------------------------------------------------------------

def ipv4_to_long(ip: Column) -> Column:
    """Dotted-quad string -> BIGINT. (ref F4: IpAddr.getIpBits,
    src/test/java/org/openbmp/ConsumerRunnableAppTest.java:35-39)"""
    # try_cast: addresses arrive from external feeds, and under ANSI
    # mode a garbage octet would abort the job — malformed -> NULL
    # (NULL bounds never match a containment/LPM predicate)
    o = F.split(ip, r"\.")
    return (
        o.getItem(0).try_cast("long") * 16777216
        + o.getItem(1).try_cast("long") * 65536
        + o.getItem(2).try_cast("long") * 256
        + o.getItem(3).try_cast("long")
    )


def host(prefix: Column) -> Column:
    """Strip the mask: '10.1.0.0/16' -> '10.1.0.0' (ref F2:
    8_views.sql:11,76 host())."""
    return F.split(prefix, "/").getItem(0)


def masklen(prefix: Column) -> Column:
    # try_cast so a malformed mask ('10/xx') falls into the coalesce
    # default like a missing one, instead of raising under ANSI mode
    return F.coalesce(F.split(prefix, "/").getItem(1).try_cast("int"),
                      F.lit(32))


def ip_family(ip: Column) -> Column:
    """4 or 6 (ref F3: family(), 2_aggregations.sql:371-376)."""
    return F.when(ip.contains(":"), F.lit(6)).otherwise(F.lit(4))


def ipv4_prefix_bounds(prefix: Column) -> tuple[Column, Column]:
    """CIDR string -> (start, end) BIGINT bounds. Containment
    ``p >>= q`` becomes p.start <= q.start AND q.end <= p.end;
    overlap ``&&`` becomes p.start <= q.end AND q.start <= p.end
    (ref F4, J5/J6/J7)."""
    base = ipv4_to_long(host(prefix))
    m = masklen(prefix)
    # 2^(32-m) via double pow: powers of two are exact doubles and
    # shiftleft() only takes a literal bit count, not a column
    block = F.pow(F.lit(2.0), 32 - m).cast("long")
    start = base - (base % block)
    return start, start + block - 1


def asn_dot_to_long(asn: Column) -> Column:
    """'64512.100' dot-notation ASN -> (hi<<16)+lo; plain integers
    pass through (ref F12: gen_whois_route.py:136-141)."""
    parts = F.split(asn, r"\.")
    return F.when(
        F.size(parts) == 2,
        parts.getItem(0).try_cast("long") * 65536
        + parts.getItem(1).try_cast("long"),
    ).otherwise(asn.try_cast("long"))


# ---------------------------------------------------------------------------
# IPv6 (two-long representation; string parse = ingest-only pandas UDF)
# ---------------------------------------------------------------------------

_V6_SCHEMA = T.StructType([
    T.StructField("hi", T.LongType()),
    T.StructField("lo", T.LongType()),
])


@F.pandas_udf(_V6_SCHEMA)
def ipv6_to_longs(ip):  # type: ignore[no-untyped-def]
    """IPv6 string -> (hi, lo) signed longs (offset-free two's
    complement; order-preserving when compared as unsigned — use
    ``unsigned_cmp`` helpers below). Vectorized via Arrow."""
    import ipaddress

    import pandas as pd

    his, los = [], []
    for v in ip:
        # v4 rows pass NULL — skip the parse entirely. Zone-scoped
        # addresses (fe80::1%eth0) are REJECTED: Python 3.9+ would
        # accept them, but Postgres inet (the reference type) and the
        # native twin expression do not.
        if v is None or "%" in v:
            his.append(None)
            los.append(None)
            continue
        try:
            n = int(ipaddress.IPv6Address(v))
            hi = (n >> 64) & 0xFFFFFFFFFFFFFFFF
            lo = n & 0xFFFFFFFFFFFFFFFF
            # map to signed 64-bit
            his.append(hi - (1 << 64) if hi >= (1 << 63) else hi)
            los.append(lo - (1 << 64) if lo >= (1 << 63) else lo)
        except Exception:
            his.append(None)
            los.append(None)
    # nullable Int64 extension arrays: a plain DataFrame would infer
    # float64 when any element is None and silently round values
    # beyond 2^53 — real v6 addresses corrupt without this
    return pd.DataFrame({"hi": pd.array(his, dtype="Int64"),
                         "lo": pd.array(los, dtype="Int64")})


def ipv6_to_longs_expr(ip: Column) -> Column:
    """IPv6 string -> struct(hi, lo) as NATIVE column expressions —
    no Python/Arrow round-trip. Handles '::' expansion and the
    embedded dotted-quad tail ('::ffff:1.2.3.4'); malformed -> NULL.
    A unit test pins it to ``ipv6_to_longs`` (the Arrow UDF).

    MEASURED TRADE-OFF (sf0.1, local[32]): the expression tree
    generates ~12KB methods — past HotSpot's 8KB JIT limit — and
    janino recompiles it into every stage that inlines it, costing
    seconds of compile per plan. The Arrow UDF evaluates as its own
    operator (small JVM methods, one Python worker round-trip,
    ~1µs/row amortized) and is FASTER end-to-end on every pipeline
    benched, so production call sites use ``ipv6_to_longs``. This
    variant remains for Python-worker-free deployments and as the
    differential-testing twin."""
    # embedded dotted-quad tail -> two hex groups. One regex validates
    # the whole tail (exactly 4 octets, each 0-255, no leading zeros —
    # stdlib/Postgres reject '0.256.3.4', '1.2.3.4.5', '01.2.3.4'; the
    # arithmetic alone would fold 256 into a plausible hex group)
    tail = F.substring_index(ip, ":", -1)
    o = F.split(tail, r"\.")
    _OCT = r"(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    tail_ok = tail.rlike(rf"^({_OCT}\.){{3}}{_OCT}$")
    g7 = F.lower(F.hex(o.getItem(0).cast("int") * 256 + o.getItem(1).cast("int")))
    g8 = F.lower(F.hex(o.getItem(2).cast("int") * 256 + o.getItem(3).cast("int")))
    hexified = F.concat(
        F.substring(ip, F.lit(1), F.length(ip) - F.length(tail)), g7, F.lit(":"), g8)
    # invalid dotted tail -> NULL s -> fails the group regex -> NULL out
    s = F.when(tail.contains("."), F.when(tail_ok, hexified)).otherwise(ip)

    # '::' expansion by string surgery only — NO higher-order array
    # functions (transform/filter/forall are CodegenFallback and drop
    # the whole projection to interpreted eval, ~60x slower). Keep the
    # tree SMALL: the generated method must stay under HotSpot's
    # 8KB JIT limit or the stage runs bytecode-interpreted.
    colons = F.length(s) - F.length(F.replace(s, F.lit(":"), F.lit("")))
    has_dc = s.contains("::")
    at_edge = s.startswith("::") | s.endswith("::")
    n_groups = (
        F.when(s == "::", F.lit(0))
        .when(has_dc & at_edge, colons - 1)
        .when(has_dc, colons)
        .otherwise(colons + 1)
    )
    fill = F.call_function("repeat", F.lit("0:"), (F.lit(8) - n_groups).cast("int"))
    expanded = F.when(has_dc,
                      F.replace(s, F.lit("::"), F.concat(F.lit(":"), fill))) \
                .otherwise(s)
    norm = F.btrim(expanded, F.lit(":"))
    arr = F.split(norm, ":")

    def g(i: int) -> Column:
        return F.conv(arr.getItem(i), 16, 10).cast("long")

    def half(a: int) -> Column:
        return (F.shiftleft(g(a), 48).bitwiseOR(F.shiftleft(g(a + 1), 32))
                .bitwiseOR(F.shiftleft(g(a + 2), 16)).bitwiseOR(g(a + 3)))

    # one regex validates group count, charset, and group lengths
    valid = norm.rlike("^[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){7}$")
    return F.when(valid, F.struct(half(0).alias("hi"), half(4).alias("lo"))) \
            .otherwise(F.lit(None).cast(_V6_SCHEMA))


def _mask64(bits: Column) -> Column:
    """Top-``bits`` mask of a 64-bit word as a signed long
    (bits clamped to [0, 64]). Native exprs; shiftleft's Java
    mod-64 shift-count semantics guarded by the when() arms."""
    b = bits.cast("int")
    return (
        F.when(b <= 0, F.lit(0).cast("long"))
        .when(b >= 64, F.lit(-1).cast("long"))
        .otherwise(F.call_function(
            "shiftleft", F.lit(-1).cast("long"), (F.lit(64) - b)))
    )


def ipv6_bounds_longs(hi: Column, lo: Column, masklen: Column
                      ) -> tuple[Column, Column, Column, Column]:
    """(hi, lo, masklen) -> (start_hi, start_lo, end_hi, end_lo)
    numeric bounds of the CIDR block, all native bit exprs. The same
    containment algebra as ipv4_prefix_bounds, over the two-long
    unsigned-128 representation (ref F4 for inet v6;
    1_base.sql:40-59 geo_ip.ip inet covers both families)."""
    mh = _mask64(masklen)            # hi consumes the first 64 bits
    ml = _mask64(masklen - 64)       # lo the remainder
    return (
        hi.bitwiseAND(mh),
        lo.bitwiseAND(ml),
        hi.bitwiseOR(F.bitwise_not(mh)),
        lo.bitwiseOR(F.bitwise_not(ml)),
    )


def u64_key(c: Column) -> Column:
    """Map a signed long holding unsigned-64 bits to an
    order-preserving signed key (flip the sign bit)."""
    return c.bitwiseXOR(F.lit(-0x8000000000000000))


def ipv6_le(hi_a: Column, lo_a: Column, hi_b: Column, lo_b: Column) -> Column:
    """(a <= b) over the two-long unsigned-128 representation."""
    ka, kb = u64_key(hi_a), u64_key(hi_b)
    return (ka < kb) | ((ka == kb) & (u64_key(lo_a) <= u64_key(lo_b)))


# ---------------------------------------------------------------------------
# IP range -> CIDR list (geo CSV ingest; ref F13 geo-csv-to-psql.py:330-333)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.ArrayType(T.StringType()))
def iprange_to_cidrs(start_ip, end_ip):  # type: ignore[no-untyped-def]
    """Minimal covering CIDR set for [start_ip, end_ip], both
    families — the netaddr.iprange_to_cidrs algorithm. Ingest-only
    (geo CSV loads), so a pandas UDF is acceptable; explode the
    result downstream."""
    import ipaddress

    import pandas as pd

    out = []
    for s, e in zip(start_ip, end_ip):
        try:
            rng = ipaddress.summarize_address_range(
                ipaddress.ip_address(s), ipaddress.ip_address(e))
            out.append([str(c) for c in rng])
        except Exception:
            out.append(None)
    return pd.Series(out)
