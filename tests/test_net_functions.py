"""Unit coverage for the IP toolkit pieces not exercised by the
oracle queries (IPv6 two-long mapping, range->CIDR UDF, LPM bucket
explosion for wide prefixes)."""

from __future__ import annotations

import ipaddress

from pyspark.sql import functions as F

from obmp_psql_spark.functions import net


def test_ipv6_to_longs_roundtrip(spark):
    ips = ["fe80::1", "2001:db8::ff00:42:8329", "::1",
           "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff", "not-an-ip"]
    df = spark.createDataFrame([(s,) for s in ips], "ip string")
    rows = df.select("ip", net.ipv6_to_longs(F.col("ip")).alias("v")).collect()
    for r in rows:
        if r.ip == "not-an-ip":
            assert r.v.hi is None and r.v.lo is None
            continue
        n = int(ipaddress.IPv6Address(r.ip))
        hi = (n >> 64) & 0xFFFFFFFFFFFFFFFF
        lo = n & 0xFFFFFFFFFFFFFFFF
        to_signed = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
        assert r.v.hi == to_signed(hi) and r.v.lo == to_signed(lo)


def test_ipv6_native_expr_matches_udf_and_stdlib(spark):
    """The hot-path native parser (ipv6_to_longs_expr) must agree
    with the pandas UDF and the stdlib across compressed/exploded/
    embedded-v4/malformed forms — including a batch that CONTAINS
    NULLs (which once silently float64-degraded the UDF's output)."""
    import random

    forms = ["::", "::1", "1::", "fe80::1", "2001:db8::ff00:42:8329",
             "ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff", "::ffff:1.2.3.4",
             "2001:0db8:0000:0000:0000:0000:0000:0001", "a:b:c:d:e:f:1:2",
             "2001:DB8::AbCd", "::ffff:255.255.255.255", "1:2:3:4:5:6:7::",
             "not-an-ip", "zz::1", "1:2:3", "1.2.3.4",
             # adversarial malformed: multiple/misplaced '::', too many
             # groups, oversized group, stray chars — all must be NULL
             # on both parsers, never garbage values
             "1::2::3", ":::", ":", "12345::", "1:2:3:4:5:6:7:8:9",
             "::g", "abcd", "1:2:3:4:5:6:7", "fe80::1%eth0", "",
             # malformed dotted-quad tails: out-of-range octet (256
             # would fold into hex '100' and pass the group regex
             # without the tail gate), too many/few octets, leading
             # zeros, negative octet — stdlib/Postgres reject all
             "::ffff:0.256.3.4", "::ffff:256.1.2.3", "::ffff:1.2.3.999",
             "::ffff:1.2.3.4.5", "::ffff:1.2.3", "::ffff:01.2.3.4",
             "::ffff:1.2.3.-4", "::ffff:0.0.0.0", "::ffff:9.99.199.249"]
    random.seed(11)
    for _ in range(30):
        a = ipaddress.IPv6Address(random.getrandbits(128))
        forms += [str(a), a.exploded]
    df = spark.createDataFrame([(s,) for s in forms], "ip string")
    rows = df.select(
        "ip", net.ipv6_to_longs(F.col("ip")).alias("u"),
        net.ipv6_to_longs_expr(F.col("ip")).alias("n")).collect()
    for r in rows:
        assert (r.u and (r.u.hi, r.u.lo)) == (r.n and (r.n.hi, r.n.lo)) \
            or (r.u == (None, None) and r.n is None), r.ip
        try:
            # zone-scoped forms parse in Python 3.9+ but are rejected
            # by Postgres inet and both our parsers
            if "%" in r.ip:
                raise ValueError("zone id")
            v = int(ipaddress.IPv6Address(r.ip))
        except ValueError:
            assert r.n is None or (r.n.hi is None and r.n.lo is None), r.ip
            continue
        to_signed = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
        assert (r.n.hi, r.n.lo) == (
            to_signed(v >> 64), to_signed(v & (2**64 - 1))), r.ip


def test_ipv6_ordering_via_u64_keys(spark):
    ips = ["::1", "8000::", "fe80::1", "2001:db8::", "::ffff:1.2.3.4"]
    df = spark.createDataFrame([(s,) for s in ips], "ip string") \
        .select("ip", net.ipv6_to_longs(F.col("ip")).alias("v"))
    got = [r.ip for r in
           df.orderBy(net.u64_key(F.col("v.hi")), net.u64_key(F.col("v.lo"))).collect()]
    want = sorted(ips, key=lambda s: int(ipaddress.IPv6Address(s)))
    assert got == want


def test_iprange_to_cidrs(spark):
    df = spark.createDataFrame(
        [("10.0.0.0", "10.0.0.255"), ("10.0.0.1", "10.0.0.6"),
         ("192.168.1.0", "192.168.2.255")],
        "s string, e string")
    rows = df.select("s", net.iprange_to_cidrs(F.col("s"), F.col("e")).alias("c")).collect()
    got = {r.s: r.c for r in rows}
    assert got["10.0.0.0"] == ["10.0.0.0/24"]
    # non-aligned range splits into minimal covering set
    assert got["10.0.0.1"] == ["10.0.0.1/32", "10.0.0.2/31", "10.0.0.4/31",
                               "10.0.0.6/32"]
    assert got["192.168.1.0"] == ["192.168.1.0/24", "192.168.2.0/24"]


def test_lpm_wide_prefix_bucket_explosion(spark):
    """A /8 prefix covers 256 /16 buckets; probes anywhere inside
    must still match (explode_buckets correctness for wide ranges)."""
    from obmp_psql_spark.operators.lpm import lpm_join

    prefixes = spark.createDataFrame(
        [(167772160, 184549375, 8, "10.0.0.0/8"),
         (167837696, 167903231, 16, "10.1.0.0/16")],
        "prefix_start long, prefix_end long, mask_len int, label string")
    probes = spark.createDataFrame(
        [(1, 167837697),   # 10.1.0.1 -> /16 wins
         (2, 184549374),   # 10.255.255.254 -> only /8 covers
         (3, 167772161)],  # 10.0.0.1 -> only /8
        "probe_id long, addr long")
    out = {r.probe_id: r.label for r in lpm_join(
        probes, ["probe_id"], "addr", prefixes,
        masklen_col="mask_len", broadcast=True).collect()}
    assert out == {1: "10.1.0.0/16", 2: "10.0.0.0/8", 3: "10.0.0.0/8"}


def test_ipv6_bounds_longs_vs_ipaddress(spark):
    """Native (hi, lo, masklen) -> bounds mask math against the
    stdlib across the edge masklens (0, sign boundary, 64, 80, 128)."""
    cidrs = ["::/0", "2001:db8::/32", "fe80::/10", "ff00::/8",
             "2001:db8:a:b::/64", "2001:db8:a:b:c::/80",
             "2001:db8:a:b:c:d:e:0/112", "2001:db8::1/128", "8000::/1"]
    rows = [(c.split("/")[0], int(c.split("/")[1])) for c in cidrs]
    df = spark.createDataFrame(rows, "host string, m int") \
        .select("host", "m", net.ipv6_to_longs(F.col("host")).alias("v"))
    sh, sl, eh, el = net.ipv6_bounds_longs(F.col("v.hi"), F.col("v.lo"), F.col("m"))
    got = df.select("host", "m", sh.alias("sh"), sl.alias("sl"),
                    eh.alias("eh"), el.alias("el")).collect()
    to_signed = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
    for r in got:
        nw = ipaddress.IPv6Network((r.host, r.m), strict=False)
        s, e = int(nw.network_address), int(nw.broadcast_address)
        assert (r.sh, r.sl, r.eh, r.el) == (
            to_signed(s >> 64), to_signed(s & (2**64 - 1)),
            to_signed(e >> 64), to_signed(e & (2**64 - 1))), (r.host, r.m)


def test_containment_join128_mixed_families(spark):
    """v4 and v6 probes resolve through ONE unified join; families
    never cross-match even when the numeric ranges overlap."""
    from obmp_psql_spark.operators.lpm import containment_join128, lpm_join128

    # v4 10.0.0.0/8 = lo range [167772160, 184549375]; craft a v6
    # prefix whose (0, lo) range overlaps it: ::a00:0/104 has hi=0
    # and the same lo span — family tag must keep them apart
    pref = spark.createDataFrame(
        [(4, 0, 167772160, 0, 184549375, 8, "v4-10/8"),
         (6, 0, 167772160, 0, 184549375, 104, "v6-overlap"),
         (6, 2306139568115548160, 0, 2306139568119742463, -1, 48, "v6-2001:db8:a/48")],
        "family int, start_hi long, start_lo long, end_hi long, end_lo long, "
        "masklen int, label string")
    probes = spark.createDataFrame(
        [(1, 4, 0, 167772161),                  # 10.0.0.1
         (2, 6, 0, 167772161),                  # ::a00:1 (v6, same lo)
         (3, 6, 2306139568115548161, 5)],       # inside 2001:db8:a/48... hi+1
        "pid long, fam int, phi long, plo long")
    got = {(r.pid, r.label) for r in containment_join128(
        probes, "fam", "phi", "plo", pref, broadcast=True).collect()}
    assert got == {(1, "v4-10/8"), (2, "v6-overlap"), (3, "v6-2001:db8:a/48")}

    top = {r.pid: r.label for r in lpm_join128(
        probes, ["pid"], "fam", "phi", "plo", pref,
        masklen_col="masklen", broadcast=True).collect()}
    assert top == {1: "v4-10/8", 2: "v6-overlap", 3: "v6-2001:db8:a/48"}


def test_containment_join128_coarse_default_route(spark):
    """::/0 and 0.0.0.0/0 match every probe of their family through
    the single-pass bucketed join (their bounded 2^16-row explode
    lives on the small broadcast side — the probe side is scanned
    exactly once; see containment_join's strategy note)."""
    from obmp_psql_spark.operators.lpm import containment_join128

    # v6 ::/0 raw signed two-long bounds are (0,0)..(-1,-1); the u64
    # flip inside ipv6_le makes the range total
    pref = spark.createDataFrame(
        [(4, 0, 0, 0, 4294967295, 0, "v4-default"),
         (6, 0, 0, -1, -1, 0, "v6-default")],
        "family int, start_hi long, start_lo long, end_hi long, end_lo long, "
        "masklen int, label string")
    probes = spark.createDataFrame(
        [(1, 4, 0, 3221225985),                # 192.0.2.1
         (2, 6, -72057594037927936, 1)],       # ff00::1 (negative hi)
        "pid long, fam int, phi long, plo long")
    out = containment_join128(probes, "fam", "phi", "plo", pref, broadcast=True)
    got = {(r.pid, r.label) for r in out.collect()}
    assert got == {(1, "v4-default"), (2, "v6-default")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "Union" not in plan


def _fold_pairs(queries, items):
    """Pure-Python reference of cosine_topk's scoring: the SQL folds
    (sums in element order, cos = dot / (qn * in)) over every
    (query, item) pair but self-matches. Rows: (query_id, neighbor_id,
    cos)."""
    import math

    def norm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    out = []
    for qid, qv in queries:
        for nid, iv in items:
            if nid != qid:
                acc = 0.0
                for x, y in zip(qv, iv):
                    acc = acc + x * y
                den = norm(qv) * norm(iv)
                out.append((qid, nid, acc / den if den else math.nan))
    return out


def _trim(pairs, k):
    """The window trim: each query's first k pairs by (cos DESC with
    NaN first, neighbor_id ASC). Rows: (query_id, neighbor_id, cos
    bits, rank)."""
    import math

    out = []
    for qid in sorted({p[0] for p in pairs}):
        mine = sorted((p for p in pairs if p[0] == qid),
                      key=lambda p: (not math.isnan(p[2]),
                                     0.0 if math.isnan(p[2]) else -p[2],
                                     p[1]))
        out += [(qid, nid, float(cos).hex(), rank)
                for rank, (_, nid, cos) in enumerate(mine[:k], 1)]
    return out


def _topk_vectors():
    """(queries, items) with the cases the prefilter must not break:
    exact duplicates at the k boundary (ties broken by id), a zero
    vector as item and as query (NaN cos, ranked first), and
    near-parallel vectors whose cosines differ by < 1e-12."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 24))
    vecs[5] = vecs[6] = vecs[4]            # query 4: ranks 2-3 tie
    vecs[21] = vecs[22] = vecs[20]         # query 23: 20/21/22 tie at k
    vecs[23] = vecs[20] + 0.01 * rng.standard_normal(24)
    vecs[9] = 0.0                          # zero vector -> NaN
    base = vecs[10].copy()                 # query 14: near-parallel at k,
    for j in (10, 11, 12, 13, 15):         # BLAS and fold orders differ
        vecs[j] = base + 2e-15 * rng.standard_normal(24)
    vecs[14] = base + 0.3 * rng.standard_normal(24)
    items = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return [items[i] for i in (0, 4, 9, 14, 17, 23, 31, 38)], items


def test_cosine_topk_bit_equal_to_fold_reference(spark):
    """cosine_topk emits the fold's rows, ranks and cos bits: ties, a
    zero vector, near-parallel vectors, several item partitions, and k
    above the item count."""
    from obmp_psql_spark.operators import similarity

    queries, items = _topk_vectors()
    near = [c for _, n, c in _fold_pairs(queries[3:4], items)
            if n in (10, 11, 12, 13, 15)]
    assert 0 < max(near) - min(near) < 1e-12
    schema = "vec_id long, embedding array<double>"
    q = spark.createDataFrame(queries, schema)
    e = spark.createDataFrame(spark.sparkContext.parallelize(items, 4),
                              schema)
    for k in (3, len(items) + 5):
        got = [(r.query_id, r.neighbor_id, r.cos.hex(), r.rank)
               for r in similarity.cosine_topk(q, e, k=k)
               .orderBy("query_id", "rank").collect()]
        assert got == _trim(_fold_pairs(queries, items), k)
        assert any(cos == "nan" for _, _, cos, _ in got)


def test_cosine_topk_chunks_cross_query_boundaries():
    """The per-batch kernel, chunked two queries at a time, prunes to a
    candidate set whose trim is the fold reference, bit for bit, for
    several k, with and without the zero vector (its NaN takes one of
    the k slots)."""
    import math

    import numpy as np

    from obmp_psql_spark.operators.similarity import (_fold_norm,
                                                      _topk_chunks)

    all_queries, all_items = _topk_vectors()
    for zero in (True, False):
        queries = [q for q in all_queries if zero or q[0] != 9]
        items = [it for it in all_items if zero or it[0] != 9]
        q_ids = np.array([i for i, _ in queries], dtype=np.int64)
        q_cols = np.array([v for _, v in queries]).T.copy()
        ids = np.array([i for i, _ in items], dtype=np.int64)
        i_cols = np.array([v for _, v in items]).T.copy()
        want = _fold_pairs(queries, items)
        for k in (1, 2, 3, 4):
            chunks = list(_topk_chunks(q_ids, q_cols, _fold_norm(q_cols),
                                       ids, i_cols, k, cells=2 * len(items)))
            assert len(chunks) == math.ceil(len(queries) / 2)
            cand = [(int(q), int(n), float(c))
                    for qs, ns, cs in chunks for q, n, c in zip(qs, ns, cs)]
            assert len(cand) < len(want) // 2  # pruned
            assert _trim(cand, k) == _trim(want, k)


def test_cosine_topk_rejects_bad_query_vectors(spark):
    """A null or ragged query vector fails on the driver, naming its id
    and the width of the first query vector."""
    import pytest

    from obmp_psql_spark.operators import similarity

    e = spark.createDataFrame([(1, [1.0, 0.0, 0.0])],
                              "vec_id long, embedding array<float>")
    for bad, msg in ((None, "id 2 is null; expected width 3"),
                     ([1.0, 2.0], "id 2 is 2 wide; expected width 3")):
        q = spark.createDataFrame([(1, [0.0, 1.0, 0.0]), (2, bad)],
                                  "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match=msg):
            similarity.cosine_topk(q, e, k=2)


def test_cosine_topk_rejects_bad_item_vectors(spark):
    """A null or ragged item vector fails the task with the same
    ValueError, naming its id and the query width."""
    import pytest

    from obmp_psql_spark.operators import similarity

    q = spark.createDataFrame([(1, [0.0, 1.0, 0.0])],
                              "vec_id long, embedding array<float>")
    for bad, msg in ((None, "id 7 is null; expected width 3"),
                     ([1.0] * 4, "id 7 is 4 wide; expected width 3")):
        e = spark.createDataFrame([(1, [1.0, 0.0, 0.0]), (7, bad)],
                                  "vec_id long, embedding array<float>")
        with pytest.raises(Exception, match="ValueError: cosine_topk: "
                                            "the vector of " + msg):
            similarity.cosine_topk(q, e, k=2).collect()


def test_ivf_recall_vs_exact(spark):
    """IVF with nprobe=3 over 16 centroids must recover a reasonable
    share of the exact top-5 (structure check, not a tuning claim)."""
    from obmp_psql_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(e, e, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in similarity.ivf_topk(e, n_centroids=16, nprobe=3, k=5).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall > 0.15, recall  # weakly-correlated synthetic vectors
    # every query still gets answers
    assert len({q for q, _ in ivf}) == e.count()


def test_multimodal_resize_and_features(spark):
    """Resize and feature-extract plumbing: Arrow batch contract,
    deterministic kernels, unit-norm vectors that feed the ANN ops."""
    import math

    from obmp_psql_spark.operators.multimodal import (
        extract_image_features, resize_images)

    docs = spark.createDataFrame(
        [(1, b"x" * 500), (2, b"hello world" * 40), (3, b"\x00\x01\x02" * 100)],
        "doc_id long, payload binary")
    # kernel pinned: this test asserts the FAKE kernel's contract (on
    # a PIL deployment 'auto' resolves to the real decoder instead)
    rs = {r.doc_id: r
          for r in resize_images(docs, 224, 224, kernel="fake").collect()}
    assert set(rs) == {1, 2, 3}
    assert all(r.width == 224 and r.height == 224 for r in rs.values())
    assert all(0 < len(r.payload) <= 500 for r in rs.values())
    # determinism
    rs2 = {r.doc_id: r
           for r in resize_images(docs, 224, 224, kernel="fake").collect()}
    assert all(bytes(rs[k].payload) == bytes(rs2[k].payload) for k in rs)

    fe = {r.doc_id: r.embedding for r in extract_image_features(docs, dim=16).collect()}
    assert all(len(v) == 16 for v in fe.values())
    assert all(abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9 for v in fe.values())
    fe2 = {r.doc_id: r.embedding for r in extract_image_features(docs, dim=16).collect()}
    assert fe == fe2  # seeded kernel: bit-for-bit deterministic


def test_multimodal_kernel_selection(spark):
    """Without Pillow, 'auto' resolves to the fake kernel, 'pil' is an
    explicit ImportError, and non-netpbm pixel decode is a ValueError;
    with Pillow the real path is covered by the skipif tests below."""
    import pytest

    from obmp_psql_spark.operators import multimodal as mm

    assert mm.decode_image_meta(b"abc", kernel="fake")["format"] == "png"
    with pytest.raises(ValueError, match="unknown kernel"):
        mm.decode_image_meta(b"abc", kernel="nope")
    if not mm.HAS_PIL:
        assert mm.decode_image_meta(b"abc") == \
            mm.decode_image_meta(b"abc", kernel="fake")
        with pytest.raises(ImportError, match="pil"):
            mm.extract_image_meta(
                spark.createDataFrame([(1, b"x")],
                                      "doc_id long, payload binary"),
                kernel="pil")
        with pytest.raises(ValueError, match="not netpbm"):
            mm.decode_image_pixels(b"x")


def test_netpbm_decode_encode_roundtrip():
    """Pure-Python netpbm kernel: P6 round-trips bit-exactly; P2/P3/P5
    decode; comments/whitespace/16-bit/grayscale handled; malformed
    payloads raise ValueError; non-netpbm returns None."""
    import numpy as np
    import pytest

    from obmp_psql_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    p6 = mm.encode_netpbm(arr)
    fmt, w, h, back = mm.decode_netpbm(p6)
    assert (fmt, w, h) == ("ppm", 4, 5)
    assert np.array_equal(back, arr)
    assert mm.encode_netpbm(back) == p6  # bit-exact round-trip

    # ascii P3 with comments and ragged whitespace
    p3 = (b"P3 # comment\n# full-line comment\n 2\t2 # dims\n255\n"
          b"1 2 3  4 5 6\n7 8 9 10 11 12")
    fmt, w, h, a3 = mm.decode_netpbm(p3)
    assert (fmt, w, h) == ("ppm", 2, 2)
    assert a3[1, 1].tolist() == [10, 11, 12]

    # grayscale P5 broadcasts to 3 channels; 16-bit rescales to uint8
    p5 = b"P5\n2 2\n255\n" + bytes([0, 64, 128, 255])
    _, _, _, a5 = mm.decode_netpbm(p5)
    assert a5.shape == (2, 2, 3)
    assert a5[0, 1].tolist() == [64, 64, 64]
    p5w = b"P5\n1 1\n65535\n" + (32768).to_bytes(2, "big")
    _, _, _, aw = mm.decode_netpbm(p5w)
    assert aw[0, 0, 0] == 32768 * 255 // 65535

    # P2 ascii grayscale
    fmt, w, h, a2 = mm.decode_netpbm(b"P2\n3 1\n9\n0 4 9")
    assert (fmt, w, h) == ("pgm", 3, 1)
    assert a2[0, :, 0].tolist() == [0, 4 * 255 // 9, 255]

    assert mm.decode_netpbm(b"\x89PNG...") is None
    assert mm.decode_netpbm(b"") is None
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_netpbm(b"P6\n4 4\n255\n" + b"\x00" * 10)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_netpbm(b"P3\n2 2\n255\n1 2 3")
    with pytest.raises(ValueError, match="bad header"):
        mm.decode_netpbm(b"P6\nxx 4\n255\n")
    with pytest.raises(ValueError, match="exceeds maxval"):
        mm.decode_netpbm(b"P2\n1 1\n9\n10")
    # a comment terminating the maxval token must NOT be consumed as
    # the single header/raster separator (comment bytes would be read
    # as raster): the error contract is ValueError, not corrupt pixels
    with pytest.raises(ValueError, match="whitespace after maxval"):
        mm.decode_netpbm(b"P5\n2 2\n255# c\n" + bytes(4))
    with pytest.raises(ValueError, match="whitespace after maxval"):
        mm.split_netpbm_stream(b"P5\n2 2\n255# c\n" + bytes(4))

    # decode_image_pixels prefers the netpbm kernel (works without PIL)
    assert np.array_equal(mm.decode_image_pixels(p6), arr)


def test_netpbm_real_resize_and_stats(spark):
    """resize_images executes REAL pixel math on netpbm payloads with
    no image library: nearest-neighbor resample, P6 re-encode; the
    channel-stats kernel computes exact integer-ppm means."""
    import numpy as np

    from obmp_psql_spark.operators import multimodal as mm

    grad = np.stack([np.tile(np.arange(8, dtype=np.uint8) * 30, (6, 1))] * 3,
                    axis=2)
    docs = spark.createDataFrame(
        [(1, mm.encode_netpbm(grad)), (2, b"not an image")],
        "doc_id long, payload binary")

    rs = {r.doc_id: r for r in mm.resize_images(docs, 4, 3).collect()}
    fmt, w, h, small = mm.decode_netpbm(bytes(rs[1].payload))
    assert (fmt, w, h) == ("ppm", 4, 3)
    # nearest-neighbor of the column gradient: columns 0,2,4,6 survive
    assert small[0, :, 0].tolist() == [0, 60, 120, 180]
    assert (rs[2].width, rs[2].height) == (4, 3)  # fake path rides on

    st = {r.doc_id: r for r in mm.image_channel_stats(docs).collect()}
    n = grad[:, :, 0].size
    want = int(grad[:, :, 0].astype(np.int64).sum()) * 1_000_000 // n
    assert st[1].mean_r_ppm == want
    assert (st[1].width, st[1].height, st[1].format) == (8, 6, "ppm")
    assert st[2].width is None and st[2].mean_b_ppm is None

    # generate -> decode closes the loop the q_multimodal_decode oracle
    # checks: stats equal the closed-form pixel formula
    gen = mm.generate_ppm_payloads(
        spark.createDataFrame([(11,)], "doc_id long"))
    row = mm.image_channel_stats(gen).collect()[0]
    w_, h_ = 4 + 11 % 5, 3 + 11 % 4
    s = sum((11 * 1 + 7 * y + 11 * x) % 256
            for y in range(h_) for x in range(w_))
    assert (row.width, row.height) == (w_, h_)
    assert row.mean_r_ppm == s * 1_000_000 // (w_ * h_)


def _png_bytes(w: int, h: int, color) -> bytes:
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (w, h), color).save(buf, format="PNG")
    return buf.getvalue()


def test_multimodal_pil_real_decode(spark):
    """Real-kernel path (runs only where Pillow is installed): meta
    reads true dimensions, resize re-encodes at target size,
    undecodable payloads yield typed nulls not crashes."""
    import pytest

    from obmp_psql_spark.operators import multimodal as mm

    if not mm.HAS_PIL:
        pytest.skip("Pillow not installed in this environment")

    docs = spark.createDataFrame(
        [(1, _png_bytes(30, 20, "red")), (2, _png_bytes(64, 64, "blue")),
         (3, b"not an image at all")],
        "doc_id long, payload binary")
    meta = {r.doc_id: r for r in mm.extract_image_meta(docs).collect()}
    assert (meta[1].format, meta[1].width, meta[1].height) == ("png", 30, 20)
    assert (meta[2].width, meta[2].height) == (64, 64)
    assert meta[3].format is None and meta[3].width == 0

    rs = {r.doc_id: r for r in mm.resize_images(docs, 8, 8).collect()}
    assert (rs[1].width, rs[1].height) == (8, 8)
    redecoded = mm.decode_image_meta(bytes(rs[1].payload))
    assert (redecoded["format"], redecoded["width"], redecoded["height"]) \
        == ("png", 8, 8)
    assert (rs[3].width, rs[3].height) == (0, 0)  # passthrough

    px = mm.decode_image_pixels(_png_bytes(4, 3, "green"))
    assert px.shape == (3, 4, 3)


def test_ivf_kmeans_training_recall_and_determinism(spark):
    """train_iters>0 runs distributed Lloyd refinement; recall must
    stay in family with the untrained codebook and the result must be
    run-to-run deterministic."""
    from obmp_psql_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(e, e, k=5).collect()}
    trained = {(r.query_id, r.neighbor_id)
               for r in similarity.ivf_topk(
                   e, n_centroids=16, nprobe=3, k=5, train_iters=2).collect()}
    recall = len(exact & trained) / len(exact)
    assert recall > 0.15, recall
    again = {(r.query_id, r.neighbor_id)
             for r in similarity.ivf_topk(
                 e, n_centroids=16, nprobe=3, k=5, train_iters=2).collect()}
    assert trained == again


def test_pq_recall_and_numpy_parity(spark):
    """PQ ADC must (a) recover a reasonable share of exact top-5 and
    (b) match an independent numpy implementation of the same
    algorithm (same seeding, same Lloyd rounds) on recall — the
    differential check that the relational form IS product
    quantization, not merely 'an approximation'."""
    import numpy as np

    from obmp_psql_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = e.toPandas().sort_values("vec_id").reset_index(drop=True)
    V = np.array([np.array(v, dtype=float) for v in pdf.embedding])
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf.vec_id.values
    n_q = 20
    m, ks, sd = 8, 16, U.shape[1] // 8

    pq = similarity.pq_topk(e, m=m, n_codes=ks, k=5, train_iters=2,
                            max_queries=n_q)
    got = {(r.query_id, r.neighbor_id) for r in pq.collect()}
    exact = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(
        e.orderBy("vec_id").limit(n_q), e, k=5).collect()}
    recall = len(exact & got) / len(exact)

    # numpy reference: identical seeding (subvectors of the ks
    # lowest-id vectors), 2 Lloyd rounds, ADC scoring
    codes = np.zeros((len(U), m), dtype=int)
    adc = np.zeros((n_q, len(U)))
    for s in range(m):
        X = U[:, s * sd:(s + 1) * sd]
        C = X[:ks].copy()
        for _ in range(2):
            a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(ks):
                if (a == c).any():
                    C[c] = X[a == c].mean(0)
        a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        codes[:, s] = a
        adc += X[:n_q] @ C[a].T
    true = U[:n_q] @ U.T
    np_hits = 0
    for qi in range(n_q):
        t = np.argsort(-true[qi]); t = [j for j in t if j != qi][:5]
        g = np.argsort(-adc[qi]); g = [j for j in g if j != qi][:5]
        np_hits += len(set(t) & set(g))
    np_recall = np_hits / (5 * n_q)

    assert recall > 0.1, recall
    # same algorithm -> same ballpark; allow float-tie divergence
    assert abs(recall - np_recall) < 0.15, (recall, np_recall)
    # every probed query answered with a full top-k
    assert len({q for q, _ in got}) == n_q


def test_approx_percentile_tracks_exact(spark):
    """The approx_percentile scale path (GK sketch, single pass,
    mergeable partials) must stay within the sketch's rank-error
    bound of the exact interpolated percentile that the driver gate
    hash-checks (q_doc_percentiles)."""
    from obmp_psql_spark.queries_text import (doc_percentiles_approx,
                                              q_doc_percentiles)

    sf = "/root/testdata/sf0.001"
    exact = {r.source: (r.len_p50, r.len_p90, r.len_p99)
             for r in q_doc_percentiles(spark, sf).collect()}
    approx = {r.source: (r.len_p50, r.len_p90, r.len_p99)
              for r in doc_percentiles_approx(spark, sf).collect()}
    assert set(exact) == set(approx)
    for src, ex in exact.items():
        for e_v, a_v in zip(ex, approx[src]):
            # small groups + accuracy=10000 -> the sketch is near-exact;
            # allow interpolation-vs-rank-statistic slack of one value gap
            assert abs(e_v - a_v) <= max(30.0, 0.1 * e_v), (src, ex, approx[src])


def test_wav_encode_decode_roundtrip():
    """Pure-Python WAV kernel: PCM8 round-trips exactly; extra RIFF
    chunks and odd-length padding are tolerated; truncated or non-PCM
    payloads raise ValueError; non-RIFF returns None."""
    import struct

    from obmp_psql_spark.operators import multimodal as mm

    samples = [(5 * t + 3) % 256 for t in range(100)]
    p = mm.encode_wav_pcm8(samples, sample_rate=8000)
    rate, n_ch, bits, got = mm.decode_wav(p)
    assert (rate, n_ch, bits) == (8000, 1, 8)
    assert got == samples

    # an extra odd-length LIST chunk before data must be skipped, with
    # its pad byte honored (word alignment per RIFF spec)
    body = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    p2 = p[:36] + body + p[36:]
    p2 = p2[:4] + struct.pack("<I", len(p2) - 8) + p2[8:]
    assert mm.decode_wav(p2)[3] == samples

    assert mm.decode_wav(b"not audio at all") is None
    import pytest
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_wav(p[:50])
    bad_fmt = p[:20] + struct.pack("<H", 3) + p[22:]  # float PCM
    with pytest.raises(ValueError, match="unsupported"):
        mm.decode_wav(bad_fmt)


def test_audio_features_pipeline(spark):
    """generate -> decode -> features through mapInPandas matches the
    closed-form formula, and a corrupt payload yields typed nulls."""
    from pyspark.sql import functions as F

    from obmp_psql_spark.operators import multimodal as mm

    ids = spark.createDataFrame([(i,) for i in (0, 7, 130)],
                                "doc_id long")
    rows = {r["doc_id"]: r
            for r in mm.audio_features(
                mm.generate_wav_payloads(ids)).collect()}
    for did in (0, 7, 130):
        n = 64 + did % 129
        dev = [(did * 5 + t * 13) % 256 - 128 for t in range(n)]
        assert rows[did]["n_samples"] == n
        assert rows[did]["energy_ppm"] == \
            sum(d * d for d in dev) * 1_000_000 // n
        assert rows[did]["peak_dev"] == max(abs(d) for d in dev)
    corrupt = spark.createDataFrame(
        [(1, bytearray(b"RIFFxxxxWAVEdata"))],
        "doc_id long, payload binary")
    r = mm.audio_features(corrupt).collect()[0]
    assert r["n_samples"] is None and r["energy_ppm"] is None


def test_netpbm_stream_split_and_frame_sampling(spark):
    """split_netpbm_stream finds frame boundaries by parsing headers
    (variable frame sizes), rejects truncated streams, and the
    sampler emits every n-th decodable frame."""
    import numpy as np
    import pytest

    from obmp_psql_spark.operators import multimodal as mm

    f0 = mm.encode_netpbm(np.zeros((2, 3, 3), dtype=np.uint8))
    f1 = mm.encode_netpbm(np.full((4, 5, 3), 9, dtype=np.uint8))
    f2 = mm.encode_netpbm(np.full((1, 2, 3), 255, dtype=np.uint8))
    stream = f0 + f1 + f2
    frames = mm.split_netpbm_stream(stream)
    assert frames == [f0, f1, f2]
    assert mm.split_netpbm_stream(b"AVI nonsense") is None
    with pytest.raises(ValueError, match="truncated"):
        mm.split_netpbm_stream(stream[:-2])
    with pytest.raises(ValueError, match="bad frame magic"):
        mm.split_netpbm_stream(f0 + b"XX" + f1)

    df = spark.createDataFrame([(7, bytearray(stream)),
                                (8, bytearray(b"junk"))],
                               "doc_id long, payload binary")
    got = sorted((r["doc_id"], r["frame_index"])
                 for r in mm.sample_video_frames(df, every_n=2).collect())
    assert got == [(7, 0), (7, 2)]  # junk payload contributes no rows


def test_dhash63_closed_form(spark):
    """dHash kernel pinned against an independent recomputation from
    the noise-image formula: grayscale = sum(c)//3, 9x8 nearest-
    neighbor grid, row-major adjacent compare, first 63 bits; hash is
    non-negative (signed-BIGINT contract); exact copies collide and a
    3x3 patch lands within a few bits."""
    import numpy as np

    from obmp_psql_spark.operators import multimodal as mm

    def ref_arr(base, w=12, h=9, patch=False):
        y = np.arange(h)[:, None, None]
        x = np.arange(w)[None, :, None]
        c = np.arange(3)[None, None, :]
        v = ((base + 1) * (c * 7 + y * 13 + x * 29 + 101)
             * 2654435761) % (1 << 32)
        arr = ((v >> 13) % 256).astype(np.int64)
        if patch:
            arr[0:3, 0:3, :] = (arr[0:3, 0:3, :] + 80) % 256
        return arr.astype(np.uint8)

    def ref_dhash(arr):
        h, w, _ = arr.shape
        gray = arr.astype(np.uint32).sum(axis=2) // 3
        g = gray[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9]
        v = 0
        for b in (g[:, :-1] > g[:, 1:]).flatten()[:63]:
            v = (v << 1) | int(b)
        return v

    rows = spark.createDataFrame(
        [(i, i % 4, i % 4 == 3) for i in range(8)],
        "img_id long, base_id long, patched boolean")
    imgs = mm.generate_noise_ppm(rows)
    got = {r.img_id: r.dhash for r in
           mm.dhash63(imgs, id_col="img_id").collect()}
    assert len(got) == 8
    for i in range(8):
        expected = ref_dhash(ref_arr(i % 4, patch=(i % 4 == 3)))
        assert got[i] == expected, i
        assert got[i] >= 0
    # copies of the same base collide exactly
    assert got[0] == got[4] and got[1] == got[5]
    # a patched clone is near but (for these bases) not identical
    ham = bin(got[0] ^ ref_dhash(ref_arr(0, patch=True))).count("1")
    assert 0 <= ham <= 10
    # undecodable payloads produce no row
    junk = spark.createDataFrame([(99, bytearray(b"\x89PNG..."))],
                                 "img_id long, payload binary")
    assert mm.dhash63(junk, id_col="img_id").count() == 0


def test_fingerprint_banding_pigeonhole_complete(spark):
    """Uncapped banding is LOSSLESS ground truth: with bands >
    max_hamming, every pair within the threshold shares at least one
    identical band, so the banded equi-join finds exactly the pairs a
    brute-force hamming scan finds (property-checked on adversarial
    fingerprints: equal, 1-bit, threshold-edge, band-straddling
    diffs)."""
    import itertools

    from obmp_psql_spark.operators.dedup import fingerprint_neardup_pairs

    base = 0x155555555555555  # alternating bits, 63-bit positive
    fps = [
        (0, base),
        (1, base),                     # hamming 0
        (2, base ^ 0x1),               # 1 bit
        (3, base ^ 0x7),               # 3 bits in one band (edge)
        (4, base ^ (1 | 1 << 20 | 1 << 40)),  # 3 bits across 3 bands
        (5, base ^ 0xF),               # 4 bits: beyond threshold
        (6, ~base & ((1 << 63) - 1)),  # far away
        (7, 0),
        (8, (1 << 63) - 1),
    ]
    df = spark.createDataFrame(fps, "img_id long, dhash long")
    got = {(r.id_a, r.id_b, r.hamming) for r in fingerprint_neardup_pairs(
        df, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size=None).collect()}
    want = set()
    for (ia, fa), (ib, fb) in itertools.combinations(fps, 2):
        h = bin(fa ^ fb).count("1")
        if h <= 3:
            want.add((min(ia, ib), max(ia, ib), h))
    assert got == want

    # minimum pigeonhole banding (finding 34): bits=60/bands=4 leaves
    # bits 60-62 UNcovered by any band — diffs there disturb no band
    # (the pair still collides everywhere) while the Hamming verify
    # runs over the full fingerprint, so losslessness and exact
    # distances both survive; and the 4-band set equals the 7-band set
    fps4 = fps + [(9, base ^ (1 << 62)),            # uncovered-bit diff
                  (10, base ^ (7 << 60))]           # all three high bits
    df4 = spark.createDataFrame(fps4, "img_id long, dhash long")
    got4 = {(r.id_a, r.id_b, r.hamming) for r in fingerprint_neardup_pairs(
        df4, "img_id", "dhash", bits=60, bands=4, max_hamming=3,
        max_bucket_size=None).collect()}
    got7 = {(r.id_a, r.id_b, r.hamming) for r in fingerprint_neardup_pairs(
        df4, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size=None).collect()}
    want4 = set()
    for (ia, fa), (ib, fb) in itertools.combinations(fps4, 2):
        h = bin(fa ^ fb).count("1")
        if h <= 3:
            want4.add((min(ia, ib), max(ia, ib), h))
    assert got4 == got7 == want4
    assert any(p[:2] == (0, 9) for p in got4)   # hamming-1 via bit 62


def test_dhash63_brightness_invariance(spark):
    """dHash is invariant under strictly order-preserving pixel
    transforms: doubling-and-capping-free scaling of the noise image
    (x -> x // 2 keeps >= ordering but can merge neighbors; x -> x is
    identity) — pin the strong case: adding a constant WITHOUT
    wraparound preserves every comparison, hence the exact hash."""
    import numpy as np

    from obmp_psql_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 200, size=(10, 14, 3), dtype=np.uint8)
    brighter = (arr + 55).astype(np.uint8)  # no wraparound: max 254
    df = spark.createDataFrame(
        [(0, bytearray(mm.encode_netpbm(arr))),
         (1, bytearray(mm.encode_netpbm(brighter)))],
        "img_id long, payload binary")
    got = {r.img_id: r.dhash for r in
           mm.dhash63(df, id_col="img_id").collect()}
    assert got[0] == got[1]


def test_audio_fingerprint63_closed_form(spark):
    """Energy-envelope fingerprint pinned against an independent
    recomputation: 64 integer window energies (boundaries (k*n)//64),
    bit k = e[k] > e[k+1]. Monotone envelopes give all-zeros /
    all-ones; the noise producer's perturbed clone lands within 2
    bits of its base; sub-64-sample clips and junk payloads yield no
    row."""
    import numpy as np

    from obmp_psql_spark.operators import multimodal as mm

    # monotone-increasing |dev|: energies strictly rise -> no bit set
    up = [128 + min(t // 4, 127) for t in range(256)]
    # monotone-decreasing |dev| -> every bit set -> 2^63 - 1
    down = list(reversed(up))
    df = spark.createDataFrame(
        [(0, bytearray(mm.encode_wav_pcm8(up))),
         (1, bytearray(mm.encode_wav_pcm8(down))),
         (2, bytearray(mm.encode_wav_pcm8([128] * 32))),   # < 64 samples
         (3, bytearray(b"RIFFxxxxWAVEjunk"))],
        "doc_id long, payload binary")
    got = {r.doc_id: r.afp
           for r in mm.audio_fingerprint63(df).collect()}
    assert set(got) == {0, 1}
    assert got[0] == 0
    assert got[1] == (1 << 63) - 1

    def ref_afp(samples):
        dev = np.asarray(samples, dtype=np.int64) - 128
        sq = dev * dev
        n = len(samples)
        b = (np.arange(65) * n) // 64
        cs = np.concatenate(([0], np.cumsum(sq)))
        e = cs[b[1:]] - cs[b[:-1]]
        v = 0
        for bit in (e[:-1] > e[1:]):
            v = (v << 1) | int(bit)
        return v

    def noise_samples(base, perturbed=False, n=512):
        t = np.arange(n, dtype=np.int64)
        v = (((base + 1) * (t * 29 + 101)) * 2654435761) % (1 << 32)
        s = ((v >> 13) % 256).astype(np.int64)
        if perturbed:
            s[:16] = (s[:16] + 8) % 256
        return s.tolist()

    ids = spark.createDataFrame(
        [(0, 0, False), (1, 1, False), (100, 0, True)],
        "aud_id long, base_id long, perturbed boolean")
    clips = mm.generate_noise_wav(ids)
    fps = {r.aud_id: r.afp
           for r in mm.audio_fingerprint63(clips, id_col="aud_id").collect()}
    assert fps[0] == ref_afp(noise_samples(0))
    assert fps[1] == ref_afp(noise_samples(1))
    assert fps[100] == ref_afp(noise_samples(0, perturbed=True))
    assert 0 <= fps[0] < (1 << 63)
    # the perturbation touches only the first two energy windows
    assert bin(fps[0] ^ fps[100]).count("1") <= 2
    # distinct bases spread far apart
    assert bin(fps[0] ^ fps[1]).count("1") > 3


def test_noise_video_and_frameset_pairs(spark):
    """Noise-video producer: copies are frame-identical, the edited
    clone differs only in frame 0; frameset_neardup_pairs aggregates
    banded frame matches to (min_hamming, n_hit_frames) exactly."""
    import itertools

    from obmp_psql_spark.operators import multimodal as mm
    from obmp_psql_spark.operators.dedup import frameset_neardup_pairs

    ids = spark.createDataFrame(
        [(0, 0, False), (100, 0, False), (200, 0, True), (1, 1, False)],
        "vid_id long, base_id long, edited boolean")
    vids = mm.generate_noise_video(ids)
    frames = mm.sample_video_frames(vids, id_col="vid_id", every_n=1)
    fid = frames.selectExpr("doc_id * 16 + frame_index AS fid",
                            "frame_payload AS payload")
    h = mm.dhash63(fid, id_col="fid") \
        .selectExpr("fid div 16 AS vid_id",
                    "CAST(fid % 16 AS INT) AS frame_index",
                    "dhash")
    rows = {(r.vid_id, r.frame_index): r.dhash for r in h.collect()}
    assert len(rows) == 16  # 4 videos x 4 frames
    for f in range(4):
        assert rows[(0, f)] == rows[(100, f)]      # exact copy
        if f > 0:
            assert rows[(200, f)] == rows[(0, f)]  # edit only frame 0

    got = {(r.id_a, r.id_b): (r.min_hamming, r.n_hit_frames)
           for r in frameset_neardup_pairs(
               h, "vid_id", "frame_index", "dhash",
               bits=63, bands=7, max_hamming=3,
               max_bucket_size=None).collect()}
    # independent recomputation: any frame pair within hamming 3
    want = {}
    vids_set = sorted({v for v, _ in rows})
    for va, vb in itertools.combinations(vids_set, 2):
        hams = [bin(rows[(va, fa)] ^ rows[(vb, fb)]).count("1")
                for fa in range(4) for fb in range(4)]
        hits = [x for x in hams if x <= 3]
        if hits:
            want[(va, vb)] = (min(hits), len(hits))
    assert got == want
    assert (0, 100) in got and got[(0, 100)][0] == 0


def test_auto_bucket_cap_policy(spark):
    """The occupancy-adaptive cap: auto_cap_value matches the exact
    integer law max(FLOOR, ceil(MULT*N/2^w)); max_bucket_size='auto'
    produces the identical pair set to passing that value explicitly,
    for both the batch and the incremental operator."""
    import tempfile

    from obmp_psql_spark.operators.dedup import (
        AUTO_CAP_FLOOR,
        AUTO_CAP_MULT,
        auto_cap_value,
        fingerprint_neardup_pairs,
        incremental_fingerprint_pairs,
    )
    from obmp_psql_spark.state import TxnStateStore

    assert auto_cap_value(0, 63, 7) == AUTO_CAP_FLOOR
    assert auto_cap_value(512, 63, 7) == max(AUTO_CAP_FLOOR, AUTO_CAP_MULT)
    assert auto_cap_value(513, 63, 7) == \
        max(AUTO_CAP_FLOOR, (513 * AUTO_CAP_MULT + 511) // 512)
    assert auto_cap_value(100_000, 63, 7) == (100_000 * 4 + 511) // 512

    # corpus with one mega-bucket (many equal fingerprints) + spread
    base = 0x2AAAAAAAAAAAAAA
    fps = [(i, base) for i in range(40)]           # degenerate cluster
    fps += [(100 + i, (base ^ (1 << (9 * (i % 7)))) + 2 * i)
            for i in range(30)]                    # spread-ish tail
    df = spark.createDataFrame(fps, "img_id long, dhash long")
    cap = auto_cap_value(len(fps), 63, 7)
    manual = {(r.id_a, r.id_b) for r in fingerprint_neardup_pairs(
        df, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size=cap).collect()}
    auto = {(r.id_a, r.id_b) for r in fingerprint_neardup_pairs(
        df, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size="auto").collect()}
    assert auto == manual
    uncapped = {(r.id_a, r.id_b) for r in fingerprint_neardup_pairs(
        df, "img_id", "dhash", bits=63, bands=7, max_hamming=3,
        max_bucket_size=None).collect()}
    assert auto < uncapped  # the mega-bucket really was chopped

    # incremental twin: two batches with the auto cap accumulate the
    # same pair set the batch auto run finds over the union
    store = TxnStateStore(spark, tempfile.mkdtemp(prefix="autocap_"))
    b1 = df.filter("img_id % 2 = 0")
    b2 = df.filter("img_id % 2 = 1")
    kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size="auto")
    incremental_fingerprint_pairs(store, b1, "img_id", "dhash",
                                  batch_id=0, **kw)
    incremental_fingerprint_pairs(store, b2, "img_id", "dhash",
                                  batch_id=1, **kw)
    inc = {(r.id_a, r.id_b)
           for r in store.read("img_pairs").collect()}
    # incremental applies the cap against a GROWING index, so batch-1
    # pairs face a smaller census; every pair it keeps is a true pair
    # and the final-census batch subset matches the batch operator
    assert inc <= uncapped
    assert (0, 2) in uncapped  # sanity: mega-bucket pairs exist


def test_frameset_auto_cap_equivalence(spark):
    """frameset_neardup_pairs: 'auto' equals the explicitly computed
    occupancy cap (census = FRAME fingerprint count), and a degenerate
    all-same-frame pile is chopped while planted copies survive."""
    from obmp_psql_spark.operators.dedup import (
        auto_cap_value,
        frameset_neardup_pairs,
    )

    base = 0x4CCCCCCCCCCCCCC
    rows = []
    # 30 videos sharing one degenerate frame fingerprint (mega-bucket)
    for v in range(30):
        rows.append((v, 0, base))
    # two planted near-dup videos with distinctive frames
    for v, off in ((100, 0), (101, 1)):  # 1-bit apart on frame 0
        rows.append((v, 0, (base ^ (0x15 << 9)) ^ off))
        rows.append((v, 1, base ^ (0x3F << 27)))
    df = spark.createDataFrame(rows, "vid_id long, frame_index int, dhash long")
    cap = auto_cap_value(len(rows), 63, 7)
    kw = dict(bits=63, bands=7, max_hamming=3)
    auto = {(r.id_a, r.id_b, r.min_hamming, r.n_hit_frames)
            for r in frameset_neardup_pairs(
                df, "vid_id", "frame_index", "dhash",
                max_bucket_size="auto", **kw).collect()}
    manual = {(r.id_a, r.id_b, r.min_hamming, r.n_hit_frames)
              for r in frameset_neardup_pairs(
                  df, "vid_id", "frame_index", "dhash",
                  max_bucket_size=cap, **kw).collect()}
    assert auto == manual
    assert any(p[:2] == (100, 101) for p in auto)  # planted pair kept


def test_incremental_frameset_pairs_matches_batch(spark, tmp_path):
    """Streaming frameset index: with videos arriving whole per batch,
    the accumulated pairs table equals the batch-built
    frameset_neardup_pairs output — including each pair's complete
    (min_hamming, n_hit_frames) aggregate — replay is a no-op, and the
    auto-capped path accumulates a subset of the exact set."""
    from obmp_psql_spark.operators.dedup import (
        frameset_neardup_pairs,
        incremental_frameset_pairs,
    )
    from obmp_psql_spark.state import TxnStateStore

    base = 0x4CCCCCCCCCCCCCC
    rows = []
    for v in range(12):  # clusters of 3 near-identical videos
        for f in range(3):
            rows.append((v, f, (base ^ (0x1F << (9 * (v % 3) + 9))) ^ (v // 3)))
    # one planted cross-batch pair with two hit frames
    rows += [(100, 0, base ^ (0x2A << 36)), (100, 1, base ^ (0x15 << 45)),
             (101, 0, (base ^ (0x2A << 36)) ^ 1), (101, 1, base ^ (0x15 << 45))]
    df = spark.createDataFrame(rows, "vid_id long, frame_index int, dhash long")
    kw = dict(bits=60, bands=4, max_hamming=3, max_bucket_size=None)
    want = {(r.id_a, r.id_b, r.min_hamming, r.n_hit_frames)
            for r in frameset_neardup_pairs(
                df, "vid_id", "frame_index", "dhash", **kw).collect()}
    assert any(p[:2] == (100, 101) and p[3] == 2 for p in want)

    store = TxnStateStore(spark, str(tmp_path / "vididx"))
    for b in range(2):  # video-granularity split: 100 and 101 straddle
        incremental_frameset_pairs(
            store, df.filter(f"vid_id % 2 = {b}"), "vid_id",
            "frame_index", "dhash", batch_id=b, **kw)
    got = {(r.id_a, r.id_b, r.min_hamming, r.n_hit_frames)
           for r in store.read("vid_pairs").collect()}
    assert got == want
    # replay: no-op
    incremental_frameset_pairs(
        store, df.filter("vid_id % 2 = 0"), "vid_id",
        "frame_index", "dhash", batch_id=0, **kw)
    assert store.read("vid_pairs").count() == len(want)
    # capped incremental path: subset of the exact pair set
    capped = TxnStateStore(spark, str(tmp_path / "vididx_cap"))
    for b in range(2):
        incremental_frameset_pairs(
            capped, df.filter(f"vid_id % 2 = {b}"), "vid_id",
            "frame_index", "dhash", batch_id=b,
            **{**kw, "max_bucket_size": "auto"})
    got_cap = {(r.id_a, r.id_b) for r in capped.read("vid_pairs").collect()}
    assert got_cap <= {p[:2] for p in want}


def test_incremental_fingerprint_optimize_cadence(spark, tmp_path,
                                                  monkeypatch):
    """A compaction between batches (``store.optimize``, its own
    commit) leaves the pair results identical to the uncompacted run,
    collapses the file count, and a replayed batch stays a no-op after
    compaction (the replay counter lives in the commit log, not the
    layout)."""
    import glob

    from obmp_psql_spark import state
    from obmp_psql_spark.operators.dedup import (
        fingerprint_neardup_pairs,
        incremental_fingerprint_pairs,
    )
    from obmp_psql_spark.state import TxnStateStore

    # both runs uncompacted by the law: only the explicit optimize differs
    monkeypatch.setattr(state, "AUTO_OPTIMIZE_FILE_MULT", float("inf"))
    base = 0x155555555555555
    fps = [(i, base ^ (i % 3)) for i in range(64)]
    df = spark.createDataFrame(fps, "img_id long, dhash long")
    kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size=None)

    def files(root):
        return len(glob.glob(str(root) + "/**/*.parquet", recursive=True))

    store = TxnStateStore(spark, str(tmp_path / "opt"))
    for b in range(4):
        incremental_fingerprint_pairs(
            store, df.filter(f"img_id % 4 = {b}"), "img_id", "dhash",
            batch_id=b, **kw)
        if b % 2:
            store.optimize("img_bands")
    plain = TxnStateStore(spark, str(tmp_path / "plain"))
    for b in range(4):
        incremental_fingerprint_pairs(
            plain, df.filter(f"img_id % 4 = {b}"), "img_id", "dhash",
            batch_id=b, **kw)
    got = {(r.id_a, r.id_b, r.hamming)
           for r in store.read("img_pairs").collect()}
    want = {(r.id_a, r.id_b, r.hamming)
            for r in plain.read("img_pairs").collect()}
    exact = {(r.id_a, r.id_b, r.hamming) for r in fingerprint_neardup_pairs(
        df, "img_id", "dhash", **kw).collect()}
    assert got == want == exact
    assert files(tmp_path / "opt") < files(tmp_path / "plain")
    # replay after compaction: still a no-op
    before = store.read("img_pairs").count()
    incremental_fingerprint_pairs(
        store, df.filter("img_id % 4 = 1"), "img_id", "dhash",
        batch_id=1, **kw)
    assert store.read("img_pairs").count() == before


def test_compaction_law_rejects_non_integer_partitions(spark):
    """The compaction law needs an integer spark.sql.shuffle.partitions;
    a non-integer conf (vendor/AQE 'auto' strings) must fail BEFORE any
    batch work or commit — never post-commit. The live session
    validates this conf on set, so fake the deployment whose runtime
    hands back a non-integer string."""
    import types

    import pytest

    from obmp_psql_spark.state import (AUTO_OPTIMIZE_FILE_MULT,
                                       _compaction_limit, index_step)

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _compaction_limit(spark) == AUTO_OPTIMIZE_FILE_MULT * parts
    built = []
    bad_store = types.SimpleNamespace(
        last_txn_version=lambda app: -1,
        spark=types.SimpleNamespace(conf=types.SimpleNamespace(
            get=lambda k, d=None: "auto")))
    with pytest.raises(ValueError, match="shuffle.partitions"):
        index_step(bad_store, "app", 0, lambda keep: built.append(1),
                   compact="bands")
    assert not built


def test_incremental_minhash_optimize_cadence(spark, tmp_path, monkeypatch):
    """The MinHash streaming index under a mid-stream compaction:
    results identical to the uncompacted run, fewer band files, replay
    no-op."""
    import glob

    from obmp_psql_spark import state
    from obmp_psql_spark.operators.dedup import incremental_minhash_pairs
    from obmp_psql_spark.state import TxnStateStore

    monkeypatch.setattr(state, "AUTO_OPTIMIZE_FILE_MULT", float("inf"))
    docs = [(i, f"alpha beta gamma delta {'clone' if i % 2 else 'orig'} "
                f"epsilon zeta eta theta")
            for i in range(24)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def run(root, compact):
        store = TxnStateStore(spark, str(root))
        for b in range(4):
            incremental_minhash_pairs(
                store, df.filter(f"doc_id % 4 = {b}"), "doc_id", "text",
                batch_id=b, num_hashes=8, bands=2)
            if compact and b % 2:
                store.optimize("doc_bands")
        return store

    opt = run(tmp_path / "opt", True)
    plain = run(tmp_path / "plain", False)
    got = {(r.id_a, r.id_b) for r in opt.read("doc_pairs").collect()}
    want = {(r.id_a, r.id_b) for r in plain.read("doc_pairs").collect()}
    assert got == want and got  # non-empty: clones pair up

    def files(root):
        return len(glob.glob(str(root) + "/**/*.parquet", recursive=True))

    assert files(tmp_path / "opt") < files(tmp_path / "plain")
    before = opt.read("doc_pairs").count()
    incremental_minhash_pairs(
        opt, df.filter("doc_id % 4 = 1"), "doc_id", "text",
        batch_id=1, num_hashes=8, bands=2)
    assert opt.read("doc_pairs").count() == before


def test_auto_optimize_cadence_default_on(spark, tmp_path, monkeypatch):
    """The compaction law is always on: the bands table self-compacts
    once its live file count exceeds AUTO_OPTIMIZE_FILE_MULT x shuffle
    partitions, with pair results identical to a never-compacted run
    (the law's constant patched off) and replay still a no-op
    (round-10 verdict #4)."""
    import glob

    from obmp_psql_spark import state
    from obmp_psql_spark.operators.dedup import (
        fingerprint_neardup_pairs,
        incremental_fingerprint_pairs,
    )
    from obmp_psql_spark.state import AUTO_OPTIMIZE_FILE_MULT, TxnStateStore

    base = 0x155555555555555
    fps = [(i, base ^ (i % 3)) for i in range(64)]
    df = spark.createDataFrame(fps, "img_id long, dhash long")
    kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size=None)

    def files(root):
        return len(glob.glob(str(root) + "/**/*.parquet", recursive=True))

    # shrink the threshold so a handful of small batches crosses it
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        auto = TxnStateStore(spark, str(tmp_path / "auto"))
        never = TxnStateStore(spark, str(tmp_path / "never"))
        for b in range(8):
            batch = df.filter(f"img_id % 8 = {b}")
            incremental_fingerprint_pairs(
                auto, batch, "img_id", "dhash", batch_id=b, **kw)
            with monkeypatch.context() as m:
                m.setattr(state, "AUTO_OPTIMIZE_FILE_MULT", float("inf"))
                incremental_fingerprint_pairs(
                    never, batch, "img_id", "dhash", batch_id=b, **kw)
        threshold = AUTO_OPTIMIZE_FILE_MULT * 1
        assert files(tmp_path / "never") > threshold  # the law engaged
        # live band files stay bounded near the threshold under auto
        assert auto.live_file_count("img_bands") <= threshold + 7
        got = {(r.id_a, r.id_b, r.hamming)
               for r in auto.read("img_pairs").collect()}
        want = {(r.id_a, r.id_b, r.hamming)
                for r in never.read("img_pairs").collect()}
        exact = {(r.id_a, r.id_b, r.hamming)
                 for r in fingerprint_neardup_pairs(
                     df, "img_id", "dhash", **kw).collect()}
        assert got == want == exact
        # replay after an auto-compaction: still a no-op
        before = auto.read("img_pairs").count()
        incremental_fingerprint_pairs(
            auto, df.filter("img_id % 8 = 3"), "img_id", "dhash",
            batch_id=3, **kw)
        assert auto.read("img_pairs").count() == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_incremental_capped_redelivered_id_no_reemit(spark, tmp_path):
    """Capped incremental path: an id re-delivered under a NEW batch_id
    with a changed, unrelated fingerprint must NOT re-emit the pairs its
    OLD index rows already committed (round-10 ADVICE: the former
    left-semi on __id re-admitted old band rows sharing an id with the
    batch; the new side must be exactly this batch's rows)."""
    from obmp_psql_spark.operators.dedup import incremental_fingerprint_pairs
    from obmp_psql_spark.state import TxnStateStore

    base = 0x2AAAAAAAAAAAAAA
    b0 = spark.createDataFrame(
        [(0, base), (1, base ^ 1)], "img_id long, dhash long")
    store = TxnStateStore(spark, str(tmp_path / "redeliver"))
    kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size=64)
    incremental_fingerprint_pairs(store, b0, "img_id", "dhash",
                                  batch_id=0, **kw)
    first = [(r.id_a, r.id_b) for r in store.read("img_pairs").collect()]
    assert first == [(0, 1)]
    # id 0 arrives again in batch 1 with a fingerprint far from all
    # existing ones: no new true pair exists, so nothing may be appended
    far = base ^ ((1 << 62) - 1)
    b1 = spark.createDataFrame([(0, far)], "img_id long, dhash long")
    incremental_fingerprint_pairs(store, b1, "img_id", "dhash",
                                  batch_id=1, **kw)
    again = [(r.id_a, r.id_b) for r in store.read("img_pairs").collect()]
    assert again == [(0, 1)]  # old (0,1) not re-emitted as a duplicate


def test_auto_cap_expr_matches_python_twin(spark):
    """The in-plan integer auto-cap expression and auto_cap_value must
    agree exactly over the whole plausible census range (exact BIGINT
    arithmetic — any drift would silently desync the oracles)."""
    from pyspark.sql import functions as F

    from obmp_psql_spark.operators.dedup import (
        _auto_cap_expr,
        auto_cap_value,
    )

    ns = ([0, 1, 2, 3, 4, 511, 512, 513, 1023, 1024, 76667]
          + [7 ** k % 10 ** 9 for k in range(1, 40)]
          + [10 ** k for k in range(10)])
    df = spark.createDataFrame([(n,) for n in ns], "__nfp long")
    for bits, bands in ((63, 7), (60, 4), (32, 4)):
        w = bits // bands
        got = {r["__nfp"]: r["cap"] for r in
               df.select("__nfp",
                         _auto_cap_expr("__nfp", w).alias("cap")).collect()}
        for n in ns:
            assert got[n] == auto_cap_value(n, bits, bands), (n, bits, bands)


def test_capped_operators_default_to_auto():
    """Findings 30-36: fixed caps collapse recall at scale in every
    measured modality, so the N-adaptive 'auto' cap is the default on
    every banded candidate-join operator. Gates that need exact
    semantics opt OUT with an explicit max_bucket_size=None/int —
    never the other way around."""
    import inspect

    from obmp_psql_spark.operators import dedup, similarity

    for fn in (dedup.fingerprint_neardup_pairs,
               dedup.frameset_neardup_pairs,
               dedup.simhash_neardup_pairs,
               dedup.incremental_fingerprint_pairs,
               dedup.incremental_frameset_pairs,
               similarity.lsh_topk):
        d = inspect.signature(fn).parameters["max_bucket_size"].default
        assert d == "auto", f"{fn.__name__} default is {d!r}, not 'auto'"
