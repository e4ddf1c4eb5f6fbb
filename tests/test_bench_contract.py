"""Bench stdout/artifact contract (r14 verdict #1 and #2), the
counter-based regression verdict, and one pass on a live session.

Round 14 regression: the compact stdout line inlined the full
`headlines` draw provenance, the 1700-char budget went negative, and
the driver received `"queries":{}` — PERF_r14 lost its per-query table
and scaling block. These tests pin the restored contract: per-query
walls get the budget, provenance stays file-only, and the no-clobber
guard keys on (git_head, cpus, sf). Only the last test needs Spark.
"""

import glob
import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def _prof(**kw) -> dict:
    p = {"wall_s": 1.0, "jobs": 4, "stages": 6, "tasks": 40,
         "executor_run_s": 3.0, "executor_cpu_s": 2.5, "gc_s": 0.1,
         "shuffle_read_bytes": 1e6, "shuffle_write_bytes": 1e6,
         "spill_bytes": 0, "input_bytes": 5e6, "driver_only_s": 0.2}
    return {**p, **kw}


def _fake_out(n_queries: int = 153) -> dict:
    """A full-record dict shaped like a real BENCH_LOCAL file."""
    timings = {f"q_some_longish_query_name_{i:03d}": round(0.3 + i * 0.05, 3)
               for i in range(n_queries)}
    return {
        "git_head": "a" * 40,
        "cpus": 32,
        "metric": "bench_total_wall",
        "value": 228.7,
        "total_is_first_pass_only": True,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "headlines": {f"q_bmp_h{i}": [_prof()] * 3 for i in range(3)},
        "query_meta": {n: {"profile": _prof(wall_s=w)}
                       for n, w in timings.items()},
        "profile_read_s": 7.2,
        "timings_cold": {"q_bmp_h0": 5.2, "q_bmp_h1": 3.4, "q_bmp_h2": 3.2},
        "ingest_rate_msgs_per_sec": 110619,
        "ingest_rate_durable_msgs_per_sec": 56561,
        "ingest_rate_cold_msgs_per_sec": 18957,
        "regressions_vs": "BENCH_LOCAL_r13.json",
        "regressions": [{"query": "q_x", "wall_ratio": 1.4},
                        {"query": "q_y", "wall_ratio": 1.35}],
        "full_timings": "BENCH_LOCAL_r15.json",
    }


def test_compact_line_is_dominated_by_queries():
    out = _fake_out()
    compact = bench.build_compact(out)
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= bench.COMPACT_BUDGET
    # the r14 failure mode: an empty queries dict. The line must carry
    # a substantial per-query table (>= 30 entries under the default
    # budget with realistic name lengths), slowest-first.
    assert len(compact["queries"]) >= 30
    walls = sorted(out["queries"].values(), reverse=True)
    expect_slowest = set(walls[:len(compact["queries"])])
    assert set(compact["queries"].values()) == expect_slowest
    # bulky provenance is file-only
    for k in ("headlines", "query_meta", "regressions", "timings_cold",
              "profile_read_s"):
        assert k not in compact
    # essential scalars survive
    for k in ("git_head", "cpus", "metric", "value", "unit", "sf",
              "ingest_rate_msgs_per_sec", "full_timings"):
        assert k in compact
    assert compact["n_regressions"] == 2


def test_compact_line_small_registry_fits_everything():
    out = _fake_out(n_queries=5)
    compact = bench.build_compact(out)
    assert compact["queries"] == out["queries"]
    assert len(json.dumps(compact, separators=(",", ":"))) \
        <= bench.COMPACT_BUDGET


def test_compact_budget_never_negative_on_fat_scalars():
    # even with an absurdly long scalar field the builder sheds
    # non-contract scalars rather than starving the per-query table
    # (the r14 failure class), and the line stays under budget
    out = _fake_out()
    out["note"] = "x" * 1600
    compact = bench.build_compact(out)
    assert len(json.dumps(compact, separators=(",", ":"))) \
        <= bench.COMPACT_BUDGET
    assert "note" not in compact             # fat field shed
    assert len(compact["queries"]) >= 20     # contract survives
    for k in ("git_head", "value", "unit", "sf", "cpus"):
        assert k in compact


def _write_rec(path, head, cpus, sf):
    with open(path, "w") as fh:
        json.dump({"git_head": head, "cpus": cpus, "sf": sf}, fh)


def test_preserve_displaced_keys_on_head_cpus_sf(tmp_path):
    p = str(tmp_path / "BENCH_LOCAL_r15.json")

    # same (head, cpus, sf): overwrite in place, no archive
    _write_rec(p, "h1", 32, 0.1)
    bench.preserve_displaced(p, "h1", 32, 0.1)
    assert os.path.exists(p) and not os.listdir(tmp_path)[1:]

    # same head, DIFFERENT cpus: preserved (the r14 clobber case)
    bench.preserve_displaced(p, "h1", 8, 0.1)
    assert not os.path.exists(p)
    assert os.path.exists(p + ".h1.c32.prev")

    # different head: preserved with head tag
    _write_rec(p, "h2", 32, 0.1)
    bench.preserve_displaced(p, "h3", 32, 0.1)
    assert os.path.exists(p + ".h2.c32.prev")

    # same head, different sf: preserved
    _write_rec(p, "h3", 32, 0.1)
    bench.preserve_displaced(p, "h3", 32, 0.01)
    assert os.path.exists(p + ".h3.c32.prev")

    # tag collision appends a counter instead of overwriting
    _write_rec(p, "h2", 32, 0.1)
    bench.preserve_displaced(p, "h4", 32, 0.1)
    assert os.path.exists(p + ".h2.c32.1.prev")

    # legacy record without a cpus stamp: preserved, head-only tag
    with open(p, "w") as fh:
        json.dump({"git_head": "h5", "sf": 0.1}, fh)
    bench.preserve_displaced(p, "h5", 32, 0.1)
    assert os.path.exists(p + ".h5.prev")


# -- the regression verdict --------------------------------------------

def _pair(prev_prof: dict, cur_prof: dict, prev_wall=1.0, cur_wall=1.0):
    """(current, previous) records holding one query."""
    def rec(prof, wall):
        return {"cpus": 32, "sf": 0.1, "queries": {"q_x": wall},
                "query_meta": {"q_x": {"profile": prof}}}
    return rec(cur_prof, cur_wall), rec(prev_prof, prev_wall)


def _verdicts(cur, prev) -> dict:
    return {r["query"]: r["verdict"] for r in bench.regressions(cur, prev)}


def test_wall_move_with_equal_counters_is_noise():
    cur, prev = _pair(_prof(), _prof(wall_s=2.0), 1.0, 2.0)
    assert _verdicts(cur, prev) == {"q_x": "noise"}
    [row] = bench.regressions(cur, prev)
    assert row["wall_ratio"] == 2.0 and row["grown"] == {}
    # under 1.3x and no counter growth: no row at all
    cur, prev = _pair(_prof(), _prof(), 1.0, 1.25)
    assert bench.regressions(cur, prev) == []


@pytest.mark.parametrize("counter", ["tasks", "jobs", "input_bytes"])
def test_work_counter_growth_is_real(counter):
    base = _prof()
    more = _prof(**{counter: base[counter] * 1.31})
    # real even when the wall did not move
    cur, prev = _pair(base, more)
    assert _verdicts(cur, prev) == {"q_x": "real"}
    assert list(bench.regressions(cur, prev)[0]["grown"]) == [counter]
    # 1.3x itself is not growth
    cur, prev = _pair(base, _prof(**{counter: base[counter] * 1.3}))
    assert bench.regressions(cur, prev) == []


def test_cpu_growth_needs_two_seconds_on_both_sides():
    # 1.5 s -> 3.0 s: one side under the floor, wall 2x: noise
    cur, prev = _pair(_prof(executor_cpu_s=1.5),
                      _prof(executor_cpu_s=3.0), 1.0, 2.0)
    assert _verdicts(cur, prev) == {"q_x": "noise"}
    # 2.0 s -> 3.0 s: both sides at the floor: real
    cur, prev = _pair(_prof(executor_cpu_s=2.0), _prof(executor_cpu_s=3.0))
    assert _verdicts(cur, prev) == {"q_x": "real"}


def test_shuffle_bytes_do_not_decide():
    cur, prev = _pair(_prof(), _prof(shuffle_write_bytes=1e9,
                                     shuffle_read_bytes=1e9))
    assert bench.regressions(cur, prev) == []


def _record(cpus, sf, profiles=True) -> dict:
    meta = {"q_x": {"profile": _prof()} if profiles
            else {"load_at_draw": 1.0, "cpu_s": 3.0}}
    return {"cpus": cpus, "sf": sf, "queries": {"q_x": 1.0},
            "query_meta": meta}


def test_compare_only_like_with_like():
    cur = _record(8, 0.1)
    cur["queries"]["q_x"] = 3.0
    for prev in (_record(32, 0.1), _record(8, 0.01),
                 _record(8, 0.1, profiles=False)):
        assert bench.compare(cur, [("BENCH_LOCAL_r15.json", prev)]) \
            == {"regressions_vs": None}
    block = bench.compare(cur, [("BENCH_LOCAL_r15.json", _record(32, 0.1)),
                                ("BENCH_LOCAL_r15.json.ab.c8.prev",
                                 _record(8, 0.1))])
    assert block["regressions_vs"] == "BENCH_LOCAL_r15.json.ab.c8.prev"
    assert [r["verdict"] for r in block["regressions"]] == ["noise"]


def test_previous_records_reads_record_then_archives(tmp_path):
    def put(name, rec):
        with open(tmp_path / name, "w") as fh:
            json.dump(rec, fh)
    put("BENCH_LOCAL_r15.json", _record(32, 0.1))
    put("BENCH_LOCAL_r15.json.h1.c8.prev", _record(8, 0.1))
    put("BENCH_LOCAL_r15.json.h2.c8.prev", _record(8, 0.01))
    put("BENCH_LOCAL_r14.json", _record(8, 0.1))
    (tmp_path / "BENCH_LOCAL_r15.json.h3.prev").write_text("{not json")
    got = list(bench.previous_records(str(tmp_path), 16))
    assert [n for n, _ in got] == ["BENCH_LOCAL_r15.json",
                                   "BENCH_LOCAL_r15.json.h1.c8.prev",
                                   "BENCH_LOCAL_r15.json.h2.c8.prev"]
    assert bench.compare(_record(8, 0.1), got)["regressions_vs"] \
        == "BENCH_LOCAL_r15.json.h1.c8.prev"
    assert bench.compare(_record(4, 0.1), got) == {"regressions_vs": None}
    assert list(bench.previous_records(str(tmp_path), 3)) == []


# -- one pass on a live session ----------------------------------------

class _Without:
    """``module`` with the attributes ``names`` raising when called."""

    def __init__(self, module, *names):
        self._module, self._names = module, names

    def __getattr__(self, name):
        if name in self._names:
            def banned(*a, **k):
                raise AssertionError(f"the pass called {name}")
            return banned
        return getattr(self._module, name)


def test_pass_profiles_every_query_without_host_probes(spark, monkeypatch):
    from obmp_psql_spark.registry import all_specs

    # bench's own os and time: py4j's client threads sleep, bench not
    monkeypatch.setattr(bench, "os", _Without(os, "getloadavg"))
    monkeypatch.setattr(bench, "time", _Without(time, "sleep"))
    before = set(glob.glob(os.path.join(ROOT, "BENCH_*")))
    names = ["q_bmp_rib_merge", "q_bmp_chg_stats"]
    draws, total, read_s = bench.run_pass(
        spark, all_specs(), names, "/root/testdata/sf0.001",
        cold=["q_bmp_rib_merge"])
    assert list(draws) == names
    assert [len(draws[n]) for n in names] == [3, 1]
    for n in names:
        for prof in draws[n]:
            assert prof["jobs"] >= 1 and prof["tasks"] >= 1, (n, prof)
            assert prof["wall_s"] > 0
    # the pass wall covers its draws; each draw's wall and the total are
    # rounded to the millisecond, so each may read up to 0.5 ms off
    assert total >= (sum(draws[n][0]["wall_s"] for n in names)
                     - 0.0005 * (len(names) + 1))
    assert read_s >= 0
    assert set(glob.glob(os.path.join(ROOT, "BENCH_*"))) == before
