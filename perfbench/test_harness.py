"""Harness tests for the benchmark itself (no Spark):

    python -m pytest perfbench -q

- the generator is a pure function of the seed, and carries the
  FIXTURES.md §3 scenarios;
- the tail-percentile rule, the open-loop lateness accounting and the
  steady-intake check, on a fake clock;
- span self time and driver-only time on a synthetic span tree;
- the DuckDB rib reference on a hand-checked withdraw sequence.
"""

from __future__ import annotations

import datetime as dt

import pytest

from perfbench import gen, reference, stats, trace


def _rib(seed):
    return gen.rib_inputs(seed, n_prefixes=300, n_files=4, msgs_per_file=40)


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = _rib(7), _rib(7), _rib(8)
    flat = lambda r: [r[0], r[1], *r[2]]
    assert gen.digest(*flat(a)) == gen.digest(*flat(b))
    assert gen.digest(*flat(a)) != gen.digest(*flat(c))
    assert a[3] == b[3]
    d1, v1 = gen.curation_inputs(7, 50, 40)
    d2, v2 = gen.curation_inputs(7, 50, 40)
    d3, _ = gen.curation_inputs(8, 50, 40)
    assert (d1, v1) == (d2, v2) and d1 != d3


def test_kafka_files_are_byte_identical(tmp_path):
    uni = _rib(3)[0]
    gen.write_records(str(tmp_path / "a.parquet"), uni, "unicast_prefix")
    gen.write_records(str(tmp_path / "b.parquet"), uni, "unicast_prefix")
    assert (tmp_path / "a.parquet").read_bytes() == \
        (tmp_path / "b.parquet").read_bytes()


def _fields(msgs):
    return [v.split("\t") for _, v in msgs]


def test_rib_streams_carry_the_scenarios():
    uni, _, updates, _ = _rib(5)
    rows = _fields(uni)
    # v4 and v6, AS_TRANS, prefix_len > 128
    assert {r[4] for r in rows} == {"0", "1"}
    assert any(r[5] == str(gen.AS_TRANS) for r in rows)
    assert any(int(r[7]) > 128 for r in rows)
    # advertise -> withdraw -> re-advertise of one key
    by_key = {}
    for r in rows:
        by_key.setdefault((r[2], r[1]), []).append(r[0])
    assert any(seq[-3:] == ["add", "del", "add"] for seq in by_key.values())
    # a prefix with >= 3 peers, one of which withdraws
    peers, dels = {}, {}
    for r in rows:
        peers.setdefault(r[1], set()).add(r[2])
        if r[0] == "del":
            dels.setdefault(r[1], set()).add(r[2])
    assert any(len(peers[h]) >= 3 and dels.get(h) for h in peers)
    # the same key twice in one file, the later timestamp first
    first = _fields(updates[0])
    found = False
    for i in range(len(first) - 1):
        a, b = first[i], first[i + 1]
        if (a[1], a[2]) == (b[1], b[2]) and a[13] > b[13]:
            found = True
    assert found
    # timestamps are unique, so no dedup decision rests on a tie
    ts = [r[13] for f in (uni, *updates) for r in _fields(f)]
    assert len(ts) == len(set(ts))


def test_tail_percentile_rule():
    # highest percentile with >= 10 samples beyond it
    assert stats.tail_percentile(30) == 66
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) is None
    xs = list(range(1, 101))
    p, v = stats.tail(xs)
    assert p == 90 and sum(x > v for x in xs) >= 10
    assert stats.tail_or_max([3.0, 1.0, 2.0]) == (100, 3.0)
    with pytest.raises(ValueError):
        stats.tail([1.0] * 5)


def test_open_loop_accounting_on_a_fake_clock():
    # files due every 0.5 s from t=100; the generator lands #2 0.3 s
    # late; #3 never becomes visible; the window ends at t=102
    due = [100.0, 100.5, 101.0, 101.5]
    landed = [100.0, 100.5, 101.3, 101.5]
    visible = [101.0, 102.5, 103.0, None]
    rep = stats.open_loop_report(due, landed, visible, window_end=102.0,
                                 max_lateness=0.5, latency_limit=10.0)
    # latency is timed from the due time, not from landing
    assert rep["latencies"] == [1.0, 2.0, 2.0]
    assert rep["failed"] == 1
    assert rep["backlog"] == 3  # due by 102, not visible by 102
    assert rep["max_lateness_s"] == pytest.approx(0.3)
    assert rep["valid"]
    late = stats.open_loop_report(due, [100.0, 101.2, 101.0, 101.5],
                                  visible, 102.0, 0.5, 10.0)
    assert not late["valid"]  # the generator ran 0.7 s late
    # a late generator voids the phase; it does not fail the files
    assert late["failed"] == rep["failed"] == 1
    over = stats.open_loop_report(due, landed, visible, 102.0, 0.5, 1.5)
    assert over["failed"] == 3  # two over the latency limit, one lost
    assert stats.lateness([1.0, 2.0], [0.9, 2.4]) == [0.0, pytest.approx(0.4)]


def test_intake_growth_skips_the_first_and_last_batch():
    assert stats.intake_growth([7, 25, 25, 23]) == 1.0
    assert stats.intake_growth([1, 10, 20, 30, 5]) == 3.0  # falling behind
    assert stats.intake_growth([3, 24, 4]) is None  # one loaded batch


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        # two children overlapping each other (concurrent staging)
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        # a grandchild counts against its parent only
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},
        # a child running past its parent's end is clipped
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # [1,6] and [9,10] covered
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    # driver-only: self time with no Spark job running
    assert trace.driver_only(spans[0], [(1.0, 4.0), (3.0, 6.0)],
                             [(6.5, 7.0), (8.0, 9.5)]) == pytest.approx(3.0)


def test_rib_reference_withdraw_semantics():
    t = [gen.T0 + dt.timedelta(seconds=i) for i in range(4)]
    pfx = ("10.0.0.0", 24, True, "h1")
    add = lambda attr, ts: ("p1", gen.unicast_msg("add", "p1", pfx, attr,
                                                  65001, ts))
    wd = lambda ts: ("p1", gen.unicast_msg("del", "p1", pfx, "", 9, ts))
    bad = ("p1", gen.unicast_msg("add", "p1", ("::", 129, False, "h2"),
                                 "x", 1, t[0]))
    ref = reference.RibReference()
    ref.apply_unicast([add("A", t[0]), bad])       # insert: no log row
    ref.apply_unicast([wd(t[2]), add("B", t[1])])  # later ts wins: withdraw
    ref.apply_unicast([add("C", t[3])])            # re-advertise
    rib = ref.con.execute("SELECT base_attr_hash_id, origin_as, is_withdrawn,"
                          " first_added_timestamp FROM rib").fetchall()
    assert rib == [("C", 65001, False, t[0])]
    log = ref.con.execute("SELECT is_withdrawn, base_attr_hash_id, origin_as"
                          " FROM rib_log ORDER BY timestamp").fetchall()
    # the withdraw logs the OLD attr and origin
    assert log == [(True, "A", 65001), (False, "C", 65001)]
    assert ref.rows_rejected == 1
