"""One harness for the decade, layout and streaming probes.

    python tools/probe.py --list
    python tools/probe.py <family> [--scales tag,...] [--out path] [--data dir]

A family is one entry of ``FAMILIES``: a name, its frozen artifact (a
``BENCH_*.json`` at the repo root), its scales as ``(tag, arg)``, a
one-line claim, and ``run(spark, arg) -> dict``, which builds the
family's data and returns its measurements at one scale. The harness
owns everything else:

- one session (``get_spark`` with the family's ``conf``) and one
  warm-up, which starts a Python worker too;
- a scale whose input dataset is missing is skipped;
- every row runs inside one tracer span (``perfbench.trace.Tracer``)
  and gets a ``profile``: wall seconds and the Spark counters of the
  jobs the row ran (jobs, stages, tasks, executor run, CPU and GC
  seconds, shuffle read and write bytes, spill bytes, input bytes,
  driver-only seconds);
- ``alpha_vs_prev`` on every row after the first: for each of the
  family's timed keys, log(t / t_prev) / log(n / n_prev), where n is
  the family's size key, or one decade per scale step when it has none.
  1.0 is linear, 2.0 quadratic;
- one writer: the artifact resolves against the repo root, and a
  partial run merges into the existing file by scale tag when the
  family's parameters match.

A scale arg names its datasets with ``Data``: sf0.001 to sf0.1 are the
shipped test data, larger ones are derived into ``--data`` (default
/tmp) by ``tools/make_sf_scale.py``, e.g.
``python tools/make_sf_scale.py /tmp/sf1 10``. Stores and files a probe
writes go to one temporary directory per run, removed at the end.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TESTDATA = "/root/testdata"
SHIPPED = ("sf0.001", "sf0.01", "sf0.1")
# the status store keeps this many jobs and stages; a row's counters
# are read when it ends, so all of one row's jobs must still be there
PROBE_CONF = {"spark.ui.retainedJobs": "100000",
              "spark.ui.retainedStages": "100000",
              "spark.ui.showConsoleProgress": "false"}


class Data(str):
    """A dataset named in a scale arg (module docstring)."""


@dataclass(frozen=True)
class Family:
    name: str
    artifact: str
    scales: tuple
    claim: str
    run: Callable
    params: dict = field(default_factory=dict)
    alpha: tuple = ()         # timed row keys, dotted when nested
    size: str | None = None   # row key alpha divides by; None: decades
    conf: dict = field(default_factory=dict)


FAMILIES: dict[str, Family] = {}


def family(name: str, artifact: str, scales, claim: str, **kw):
    def add(fn):
        assert name not in FAMILIES, name
        FAMILIES[name] = Family(name, artifact, tuple(scales), claim, fn,
                                **kw)
        return fn
    return add


# -- harness ------------------------------------------------------------

_SCRATCH: list[str] = []
_TRACER: list = []


def scratch(prefix: str) -> str:
    """A fresh directory inside the run's temporary directory."""
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH[-1])


def tracer(spark):
    """One Tracer per SparkContext: span ids restart at 0 in a new
    Tracer while jobs keep their ``pb:<id>`` tags, so a second Tracer
    would claim the first one's jobs."""
    from perfbench.trace import Tracer

    if not _TRACER or _TRACER[0].sc is not spark.sparkContext:
        _TRACER[:] = [Tracer(spark)]
    return _TRACER[0]


def warm_up(spark) -> None:
    """JVM code paths and one Python worker, so that the first row
    does not absorb them."""
    noop(spark.range(10_000).selectExpr("id % 7 k").groupBy("k").count())
    noop(spark.range(8).mapInArrow(lambda batches: batches, "id long"))


def _resolve(arg, data: str):
    """``arg`` with every ``Data`` replaced by its path, and the paths."""
    if isinstance(arg, Data):
        path = os.path.join(TESTDATA if arg in SHIPPED else data, arg)
        return path, [path]
    if isinstance(arg, tuple):
        parts = [_resolve(a, data) for a in arg]
        return tuple(p for p, _ in parts), [d for _, ds in parts for d in ds]
    return arg, []


def profile(report: dict, span: dict, wall: float) -> dict:
    """``span``'s wall seconds and Spark counters, from a ``report``
    already read with ``Tracer.report``: one read can serve every span
    that ended before it."""
    from perfbench.trace import SPARK_COUNTERS

    [rec] = [s for s in report["spans"] if s["id"] == span["id"]]
    return {"wall_s": round(wall, 3),
            **{k: round(rec["spark"].get(k, 0), 3) for k in SPARK_COUNTERS}}


def run_family(spark, fam: Family, tags=None, out: str | None = None,
               data: str = "/tmp") -> dict:
    """Run ``fam`` at ``tags`` (default: every scale), write the rows
    into ``out`` (default: the family's artifact) and return the
    written document."""
    tr = tracer(spark)
    rows: dict = {}
    _SCRATCH.append(tempfile.mkdtemp(prefix=f"probe_{fam.name}_"))
    try:
        warm_up(spark)
        for tag, arg in fam.scales:
            if tags is not None and tag not in tags:
                continue
            arg, dirs = _resolve(arg, data)
            missing = [d for d in dirs if not os.path.isdir(d)]
            if missing:
                print(f"skip {tag}: {missing[0]} missing", file=sys.stderr)
                continue
            t0 = time.perf_counter()
            with tr.span(f"{fam.name}:{tag}", "probe", root=True) as span:
                row = fam.run(spark, arg)
            wall = time.perf_counter() - t0
            row["profile"] = profile(tr.report(wall), span, wall)
            rows[tag] = row
            print(tag, json.dumps(row, default=str), flush=True)
    finally:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)
    return write(fam, rows, out or os.path.join(ROOT, fam.artifact))


def _get(row: dict, key: str):
    for k in key.split("."):
        row = row.get(k) if isinstance(row, dict) else None
    return row if isinstance(row, (int, float)) and row > 0 else None


def _alpha(fam: Family, a: dict, b: dict, steps: int) -> dict:
    if fam.size:
        na, nb = _get(a, fam.size), _get(b, fam.size)
        ratio = nb / na if na and nb else 1.0
    else:
        ratio = 10.0 ** steps
    out = {}
    for k in fam.alpha:
        ta, tb = _get(a, k), _get(b, k)
        if ta and tb and ratio != 1.0:
            out[k] = round(math.log(tb / ta) / math.log(ratio), 3)
    return out


def write(fam: Family, rows: dict, path: str) -> dict:
    doc: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        if all(old.get(k, v) == v for k, v in fam.params.items()):
            doc = old
    scales = {**doc.get("scales", {}), **rows}
    order = [t for t, _ in fam.scales if t in scales]
    index = {t: i for i, (t, _) in enumerate(fam.scales)}
    prev = None
    for t in order:
        scales[t].pop("alpha_vs_prev", None)
        if prev is not None:
            alpha = _alpha(fam, scales[prev], scales[t],
                           index[t] - index[prev])
            if alpha:
                scales[t]["alpha_vs_prev"] = alpha
        prev = t
    order += [t for t in scales if t not in index]
    doc.update(fam.params, family=fam.name, claim=fam.claim,
               scales={t: scales[t] for t in order})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
        f.write("\n")
    print("wrote", path)
    return doc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="Run a probe family (module docstring).")
    ap.add_argument("family", nargs="?", choices=sorted(FAMILIES))
    ap.add_argument("--list", action="store_true",
                    help="name every family, its artifact and scales")
    ap.add_argument("--scales", help="comma-separated scale tags")
    ap.add_argument("--out", help="artifact path (default: the family's)")
    ap.add_argument("--data", default="/tmp",
                    help="directory of the derived datasets sf1, sf10...")
    a = ap.parse_args(argv)
    if a.list:
        for f in FAMILIES.values():
            tags = ",".join(t for t, _ in f.scales)
            print(f"{f.name:16} {f.artifact:27} [{tags}] {f.claim}")
        return 0
    if a.family is None:
        ap.error("name a family, or --list")
    fam = FAMILIES[a.family]
    tags = a.scales.split(",") if a.scales else None
    unknown = sorted(set(tags or ()) - {t for t, _ in fam.scales})
    if unknown:
        ap.error(f"{fam.name} has no scale {unknown}")
    from obmp_psql_spark.session import get_spark

    spark = get_spark(f"probe-{fam.name}", {**PROBE_CONF, **fam.conf})
    run_family(spark, fam, tags, a.out and os.path.abspath(a.out), a.data)
    return 0


# -- shared measurement helpers ----------------------------------------

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *a, **k) -> tuple:
    t0 = time.perf_counter()
    out = fn(*a, **k)
    return out, round(time.perf_counter() - t0, 3)


def best_of(n: int, fn) -> float:
    """Min wall of ``n`` calls (cold builds: the caller clears memos)."""
    return min(timed(fn)[1] for _ in range(n))


def ppm(part: int, whole: int) -> int:
    return part * 1_000_000 // max(whole, 1)


def parquet_files(root: str, table: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                                  recursive=True) if f"/{table}/" in f
             or os.path.basename(os.path.dirname(f)).startswith(table)]
    return len(files), sum(os.path.getsize(f) for f in files)


def cluster_census(assigned) -> dict:
    """Max occupancy, within-block candidate pairs and block count."""
    r = (assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("c"))
         .agg(F.max("c").alias("mx"),
              F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
              F.count(F.lit(1)).alias("blocks")).collect()[0])
    return {"max_occ": int(r["mx"]), "pairs": int(r["pairs"]),
            "blocks": int(r["blocks"])}


def vectors(spark, sf_dir: str):
    # fan_out: the derived parquet has few row groups, so without it
    # the vector math runs on one or two scan tasks
    from obmp_psql_spark.session import fan_out, load_tables
    return fan_out(load_tables(spark, sf_dir, ("embeddings",))["embeddings"],
                   spark)


# -- ingest, state and jobs ---------------------------------------------

SCALE_QUERIES = ("q_bmp_rib_merge", "q_bmp_txn_store", "q_bmp_txn_bucketed",
                 "q_minhash_lsh", "q_bmp_global_rib")


@family("scale", "BENCH_sf1.json",
        [(t, Data(t)) for t in ("sf0.1", "sf1", "sf10", "sf100")],
        "the O(churn)-claimed headline queries scale about linearly over "
        "derived decades (alpha well below 1.5)",
        alpha=SCALE_QUERIES)
def _scale(spark, sf_dir):
    from obmp_psql_spark.operators.cache import release_build_artifacts
    from obmp_psql_spark.queries_bmp import _PIPELINE_CACHE
    from obmp_psql_spark.registry import all_specs

    specs = all_specs()

    def cold(name):
        _PIPELINE_CACHE.clear()
        release_build_artifacts()
        noop(specs[name].fn(spark, sf_dir))
    row = {q: best_of(2, lambda q=q: cold(q)) for q in SCALE_QUERIES}
    release_build_artifacts()
    return row


CHURN_BUCKET_ROWS = 50_000
CHURN_T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def synth_rib(spark, n: int, ts: dt.datetime, *, pfx_mod: int,
              id_offset: int = 0, flap_keys: int | None = None):
    """``n`` ip_rib rows, about 4 peers per prefix; ``flap_keys``
    restricts them to that many prefixes (concentrated churn)."""
    from obmp_psql_spark.schemas import IP_RIB

    pid = F.col("id") % F.lit(flap_keys or pfx_mod)
    base = F.lit(10 * (1 << 24)) + pid * 256
    df = spark.range(id_offset, id_offset + n).select(
        F.concat(F.lit("h"), F.col("id")).alias("hash_id"),
        F.concat(F.lit("peer"), F.col("id") % 64).alias("peer_hash_id"),
        F.concat(F.lit("attr"), F.col("id") % 1000).alias("base_attr_hash_id"),
        F.lit(True).alias("is_ipv4"),
        (pid % 50000 + 1000).alias("origin_as"),
        F.concat(F.lit("10."), ((pid / 65536).cast("long") % 256),
                 F.lit("."), ((pid / 256).cast("long") % 256),
                 F.lit("."), (pid % 256)).alias("prefix"),
        F.lit(24).cast("smallint").alias("prefix_len"),
        F.lit(ts).alias("timestamp"),
        F.lit(ts).alias("first_added_timestamp"),
        (F.col("id") % 7 == 0).alias("is_withdrawn"),
        F.lit(0).cast("long").alias("path_id"),
        F.lit("").alias("labels"),
        F.lit(True).alias("is_pre_policy"),
        F.lit(True).alias("is_adj_rib_in"),
        base.alias("prefix_start"),
        (base + 255).alias("prefix_end"),
        F.lit(0).cast("long").alias("prefix_base_hi"),
        base.alias("prefix_base_lo"),
    )
    return df.select(*[F.col(f.name).cast(f.dataType) for f in IP_RIB.fields])


def _churn_store(spark, n: int, root: str):
    """An ip_rib of ``n`` rows plus small IRR and ROA tables, so both
    enrichment joins stay on the path."""
    from obmp_psql_spark.schemas import INFO_ROUTE, RPKI_VALIDATOR
    from obmp_psql_spark.state import TxnStateStore

    def typed(df, schema):
        return df.select(*[F.col(f.name).cast(f.dataType)
                           for f in schema.fields])
    store = TxnStateStore(spark, root)
    store.overwrite("ip_rib", synth_rib(
        spark, n, CHURN_T0 - dt.timedelta(hours=1), pfx_mod=n // 4))
    pid = F.col("id")
    base = F.lit(10 * (1 << 24)) + pid * 256
    pfx = F.concat(F.lit("10."), ((pid / 65536).cast("long") % 256),
                   F.lit("."), ((pid / 256).cast("long") % 256),
                   F.lit("."), (pid % 256))
    store.overwrite("info_route", typed(spark.range(1000).select(
        pfx.alias("prefix"), F.lit(24).alias("prefix_len"),
        F.lit("probe route object").alias("descr"),
        (pid % 50000 + 1000).alias("origin_as"),
        F.lit("IRR").alias("source"), F.lit(CHURN_T0).alias("timestamp")),
        INFO_ROUTE))
    store.overwrite("rpki_validator", typed(spark.range(500).select(
        F.concat(pfx, F.lit("/24")).alias("prefix"),
        F.lit(24).alias("prefix_len"), F.lit(24).alias("prefix_len_max"),
        (pid % 50000 + 1000).alias("origin_as"),
        F.lit(CHURN_T0).alias("timestamp"),
        base.alias("prefix_start"), (base + 255).alias("prefix_end"),
        F.lit(0).alias("start_hi"), base.alias("start_lo"),
        F.lit(0).alias("end_hi"), (base + 255).alias("end_lo")),
        RPKI_VALIDATOR))
    return store


@family("churn", "BENCH_churn.json",
        [(str(n), n) for n in (200_000, 2_000_000, 20_000_000)],
        "a fixed-size churn batch costs flat wall against 1x-100x state "
        "(incremental global RIB); the full_sync rebuild grows with state",
        params={"bucket_rows": CHURN_BUCKET_ROWS},
        alpha=("inc_20k_churn_s", "full_sync_s"), size="n_rib")
def _churn(spark, n):
    from obmp_psql_spark.jobs import JobRunner

    root = scratch("churn_")
    store = _churn_store(spark, n, root)
    jr = JobRunner(store)
    buckets = max(4, n // CHURN_BUCKET_ROWS)
    row = {"n_rib": n, "buckets": buckets}
    row["initial_build_s"] = timed(jr.run_global_rib, now=CHURN_T0,
                                   buckets=buckets)[1]

    def churn(rows: int, keys: int, minute: int, id_offset: int) -> float:
        ts = CHURN_T0 + dt.timedelta(minutes=minute)
        store.append("ip_rib", synth_rib(spark, rows, ts, pfx_mod=n // 4,
                                         id_offset=id_offset,
                                         flap_keys=keys))
        return timed(jr.run_global_rib,
                     now=ts + dt.timedelta(minutes=1))[1]
    # 20 flapping prefixes x 1000 updates, three rounds, min wall; then
    # a 10x batch over 200 prefixes for the per-churn-row slope
    row["inc_20k_churn_s"] = min(churn(20_000, 20, 10 * i, i * 10 ** 9)
                                 for i in (1, 2, 3))
    row["inc_200k_churn_s"] = churn(200_000, 200, 60, 9 * 10 ** 9)
    row["full_sync_s"] = timed(
        jr.run_global_rib, full_sync=True,
        now=CHURN_T0 + dt.timedelta(hours=1, minutes=59))[1]
    shutil.rmtree(root, ignore_errors=True)
    return row


DIFF_BATCH, DIFF_KEEP = 200, 20


@family("diff", "BENCH_diff.json", [(str(n), n) for n in (10, 100, 1000)],
        "snapshot_at replay grows with the commit log; checkpoint_log "
        "bounds what a later read replays",
        params={"batch_rows": DIFF_BATCH, "keep": DIFF_KEEP},
        alpha=("replay_ms", "diff_s"), size="commits")
def _diff(spark, n_commits):
    from obmp_psql_spark.operators.diff import snapshot_diff
    from obmp_psql_spark.state import TxnStateStore

    store = TxnStateStore(spark, scratch(f"diff{n_commits}_"))
    for i in range(n_commits):
        # half the keys churn every commit, half are fresh
        batch = spark.range(DIFF_BATCH).select(
            (F.col("id") + (i % 2) * 100_000_000
             + i * (DIFF_BATCH // 2)).alias("k"),
            F.lit(i).cast("long").alias("v"))
        with store.transaction() as txn:
            txn.append("t", batch.coalesce(1))
    latest = store.snapshot().version
    mid = latest - n_commits // 2
    t0 = time.perf_counter()
    store.snapshot_at(mid)
    replay_ms = round((time.perf_counter() - t0) * 1000, 1)
    old = store.read_at("t", mid, schema=batch.schema) \
        .groupBy("k").agg(F.max("v").alias("v"))
    new = store.read("t", schema=batch.schema) \
        .groupBy("k").agg(F.max("v").alias("v"))
    n_changed, diff_s = timed(lambda: snapshot_diff(
        old, new, keys=["k"], compare_cols=["v"]).count())
    store.checkpoint_log(keep=DIFF_KEEP)
    t0 = time.perf_counter()
    store.snapshot_at(latest - DIFF_KEEP // 2)
    return {"commits": n_commits, "replay_ms": replay_ms,
            "diff_s": diff_s, "n_changed": n_changed,
            "replay_after_checkpoint_ms":
                round((time.perf_counter() - t0) * 1000, 1)}


@family("compaction", "BENCH_compaction.json", [("1M", (200, 5000))],
        "many small append commits make every scan pay per-file "
        "overhead; TxnStateStore.optimize removes it")
def _compaction(spark, arg):
    from obmp_psql_spark.state import TxnStateStore

    n_appends, rows = arg
    store = TxnStateStore(spark, scratch("compaction_"))
    base = spark.range(rows)
    for i in range(n_appends):
        store.append("t", base.select(
            F.concat(F.lit(f"b{i}_"), F.col("id").cast("string")).alias("k"),
            (F.col("id") + i).cast("long").alias("v")))

    def layout() -> dict:
        files = sum(len(glob.glob(os.path.join(p, "*.parquet")))
                    for p in store.current_paths("t"))
        walls = [timed(lambda: store.read("t")
                       .agg({"v": "sum", "k": "count"}).collect())[1]
                 for _ in range(3)]
        return {"files": files, "scan_walls_s": walls,
                "scan_wall_min_s": min(walls)}
    frag = layout()
    optimize_s = timed(store.optimize, "t", num_files=8)[1]
    compact = layout()
    return {"n_appends": n_appends, "rows_total": n_appends * rows,
            "fragmented": frag, "optimize_wall_s": optimize_s,
            "compacted": compact,
            "scan_speedup": round(frag["scan_wall_min_s"]
                                  / compact["scan_wall_min_s"], 2)}


BLOOM_ROWS, BLOOM_FILES, BLOOM_LOOKUPS = 8_000_000, 8, 10


@family("bloom", "BENCH_bloom.json",
        [("plain", None), ("bloom", ("hash_id",))],
        "parquet bloom filters on the md5-shaped merge key let absent-key "
        "point lookups skip row groups",
        params={"n_rows": BLOOM_ROWS, "files": BLOOM_FILES,
                "lookups": BLOOM_LOOKUPS})
def _bloom(spark, cols):
    from obmp_psql_spark.state import TxnStateStore

    df = spark.range(BLOOM_ROWS).select(
        F.md5(F.col("id").cast("string")).alias("hash_id"),
        (F.col("id") % 1000).alias("v"))
    absent = [spark.sql(f"SELECT md5('absent-{i}')").collect()[0][0]
              for i in range(BLOOM_LOOKUPS)]
    store = TxnStateStore(spark, scratch("bloom_"))
    store.append("t", df)
    compact_s = timed(store.optimize, "t", num_files=BLOOM_FILES,
                      bloom_cols=list(cols) if cols else None,
                      bloom_ndv=BLOOM_ROWS // BLOOM_FILES)[1]
    d = store.read("t")
    d.filter(F.col("hash_id") == absent[0]).count()  # warm
    lookups_s = timed(lambda: [d.filter(F.col("hash_id") == k).count()
                               for k in absent])[1]
    size = sum(os.path.getsize(os.path.join(dp, f))
               for p in store.current_paths("t")
               for dp, _, fs in os.walk(p) for f in fs
               if f.endswith(".parquet"))
    return {"lookup_s": round(lookups_s / BLOOM_LOOKUPS, 4),
            "compact_s": compact_s, "bytes": size}


ZORDER_BITS = 16
# a narrow user slice x a broad value band: the mixed selectivity where
# a single-column layout prunes one side only
ZORDER_BOX = (1000, 1200, 10000, 20000)


@family("zorder", "BENCH_zorder.json",
        [("100k", Data("sf0.1")), ("1M", Data("sf1"))],
        "a Morton layout prunes a 2-D box by both columns' row-group "
        "stats; a one-column sort prunes one",
        params={"bits": ZORDER_BITS, "box": list(ZORDER_BOX)})
def _zorder(spark, sf_dir):
    import duckdb

    from obmp_psql_spark.operators.layout import (cluster_by_zorder,
                                                  quantize, z_value)
    from obmp_psql_spark.session import load_tables

    x_lo, x_hi, y_lo, y_hi = ZORDER_BOX
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.select(
        "event_id", "ts",
        F.pmod(F.col("user_id"), F.lit(1 << ZORDER_BITS)).cast("long")
        .alias("x"),
        quantize(F.col("value"), 0.0, 561.0, ZORDER_BITS).alias("y"),
        "value")
    con = duckdb.connect()
    row: dict = {}
    for layout in ("linear", "zorder"):
        path = os.path.join(scratch("zorder_"), layout)
        df = (base.repartitionByRange(8, "ts").sortWithinPartitions("ts")
              if layout == "linear" else cluster_by_zorder(
                  base, z_value(F.col("x"), F.col("y"), ZORDER_BITS), 8))
        df.write.option("parquet.block.size", 131072).parquet(path)
        # the row groups the box touches, from the footer statistics
        # any engine prunes with
        total, touched = con.execute(f"""
            WITH s AS (
              SELECT row_group_id, file_name,
                max(CASE WHEN path_in_schema = 'x'
                    THEN CAST(stats_min_value AS BIGINT) END) AS x_min,
                max(CASE WHEN path_in_schema = 'x'
                    THEN CAST(stats_max_value AS BIGINT) END) AS x_max,
                max(CASE WHEN path_in_schema = 'y'
                    THEN CAST(stats_min_value AS BIGINT) END) AS y_min,
                max(CASE WHEN path_in_schema = 'y'
                    THEN CAST(stats_max_value AS BIGINT) END) AS y_max
              FROM parquet_metadata('{path}/*.parquet')
              GROUP BY row_group_id, file_name)
            SELECT count(*), count(*) FILTER (
              x_max >= {x_lo} AND x_min <= {x_hi}
              AND y_max >= {y_lo} AND y_min <= {y_hi}) FROM s""").fetchone()
        n, wall = timed(lambda: spark.read.parquet(path).filter(
            F.col("x").between(x_lo, x_hi)
            & F.col("y").between(y_lo, y_hi)).count())
        row[layout] = {"row_groups_total": int(total),
                       "row_groups_touched": int(touched),
                       "box_rows": int(n), "scan_wall_s": wall}
    row["pruning_gain"] = round(row["linear"]["row_groups_touched"]
                                / max(1, row["zorder"]["row_groups_touched"]),
                                2)
    return row


# -- streaming ----------------------------------------------------------

LATENCY_ROUNDS = 8


@family("latency", "BENCH_latency.json",
        [("200 milliseconds", (Data("sf0.01"), "200 milliseconds", None)),
         ("1 second", (Data("sf0.01"), "1 second", None)),
         ("5 seconds", (Data("sf0.01"), "5 seconds", None)),
         ("1 second bucketed", (Data("sf0.01"), "1 second", 32))],
        "file-landed to committed-visible latency is one trigger wait "
        "plus one micro-batch of plan, merge and commit",
        params={"rounds": LATENCY_ROUNDS},
        conf={"spark.sql.shuffle.partitions": "8"})
def _latency(spark, arg):
    from obmp_psql_spark.queries_bmp import _messages
    from obmp_psql_spark.state import TxnStateStore
    from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

    sf_dir, trigger, buckets = arg
    # one message file per round, staged outside the watched dir so a
    # round lands atomically by rename; round 0 is the warm-up
    stage = scratch("lat_stage_")
    msgs = _messages(spark, sf_dir)
    rounds = []
    for r in range(LATENCY_ROUNDS + 1):
        part = msgs.filter(F.col("event_id") % (LATENCY_ROUNDS + 1) == r) \
            .drop("event_id")
        d = os.path.join(stage, f"r{r}")
        part.coalesce(1).write.parquet(d)
        rounds.append((glob.glob(os.path.join(d, "*.parquet"))[0],
                       part.count()))
    root, src = scratch("lat_store_"), scratch("lat_src_")
    ing = BmpStreamingIngest(spark, TxnStateStore(spark, root),
                             rib_buckets=buckets)
    q = ing.start_file_stream("unicast_prefix", src, scratch("lat_ckpt_"),
                              available_now=False, trigger_interval=trigger)
    log_dir = os.path.join(root, "_txn_log")

    def data_commits() -> int:
        # an empty micro-batch commits too, and the committer's
        # ".tmp_*" staging entry holds a commit's content before it is
        # linked: count only linked records that made data visible
        n = 0
        for name in os.listdir(log_dir):
            if not name.endswith(".json") or name.startswith("."):
                continue
            try:
                with open(os.path.join(log_dir, name)) as f:
                    c = json.load(f)
            except (OSError, ValueError):
                continue
            n += any(a.get("has_files") for a in c.get("actions", []))
        return n

    lats = []
    try:
        for r, (path, _) in enumerate(rounds):
            before = data_commits()
            tmp = os.path.join(src, f".b{r}.parquet.tmp")
            shutil.copy(path, tmp)
            os.rename(tmp, os.path.join(src, f"b{r}.parquet"))
            t0 = time.perf_counter()
            while data_commits() == before:
                if time.perf_counter() > t0 + 120:
                    raise TimeoutError(f"{trigger}: round {r} never "
                                       "became visible")
                time.sleep(0.005)
            lats.append(round(time.perf_counter() - t0, 3))
    finally:
        q.stop()
    steady = lats[1:]
    return {"msgs_per_round": rounds[1][1], "warmup_s": lats[0],
            "min_s": min(steady),
            "median_s": round(statistics.median(steady), 3),
            # nearest-rank p95: with 8 samples, the max
            "p95_s": sorted(steady)[min(len(steady) - 1,
                                        -(-95 * len(steady) // 100) - 1)],
            "all_s": steady}


@family("stream_index", "BENCH_stream_index.json",
        [("sf0.1", (Data("sf0.1"), 10))],
        "per-batch wall of the incremental fingerprint index grows with "
        "the bands table's file count; compaction keeps it flat")
def _stream_index(spark, arg):
    from unittest import mock

    from obmp_psql_spark import state
    from obmp_psql_spark.operators.dedup import incremental_fingerprint_pairs
    from obmp_psql_spark.queries_text import _image_fingerprints

    sf_dir, nbatch = arg
    fp = _image_fingerprints(spark, sf_dir).select("img_id", "dhash") \
        .persist()
    kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size="auto")
    batches = [fp.filter(F.pmod(F.xxhash64("img_id"), nbatch) == b)
               .persist() for b in range(nbatch)]
    for part in batches:
        part.count()

    # pass 1: the compaction law patched off, the uncompacted append
    # pile-up
    root = scratch("streamidx_")
    store = state.TxnStateStore(spark, root)
    row: dict = {"n_fp": fp.count(), "nbatch": nbatch, "batches": []}
    with mock.patch.object(state, "AUTO_OPTIMIZE_FILE_MULT", math.inf):
        for b, part in enumerate(batches):
            wall = timed(incremental_fingerprint_pairs, store, part,
                         "img_id", "dhash", batch_id=b, **kw)[1]
            nfiles, nbytes = parquet_files(root, "img_bands")
            row["batches"].append({"batch": b, "wall_s": round(wall, 2),
                                   "bands_files": nfiles,
                                   "bands_bytes": nbytes})
        pairs_all = store.read("img_pairs").count()
        # then OPTIMIZE and re-deliver the last slice under a new batch id
        opt_s = timed(store.optimize, "img_bands")[1]
        nfiles, nbytes = parquet_files(root, "img_bands")
        post_s = timed(incremental_fingerprint_pairs, store, batches[-1],
                       "img_id", "dhash", batch_id=nbatch, **kw)[1]
    row["optimize"] = {"optimize_wall_s": round(opt_s, 2),
                       "bands_files_after": nfiles,
                       "bands_bytes_after": nbytes,
                       "postopt_batch_wall_s": round(post_s, 2)}
    row["total_pairs"] = store.read("img_pairs").count()
    # pass 2: the compaction law
    root = scratch("streamidx_")
    store = state.TxnStateStore(spark, root)
    walls = [round(timed(incremental_fingerprint_pairs, store, part,
                         "img_id", "dhash", batch_id=b, **kw)[1], 2)
             for b, part in enumerate(batches)]
    row["auto_default"] = {
        "walls_s": walls,
        "bands_files_final": parquet_files(root, "img_bands")[0],
        "pairs_equal": store.read("img_pairs").count() == pairs_all}
    for part in batches:
        part.unpersist()
    fp.unpersist()
    return row


@family("stream_frameset", "BENCH_stream_frameset.json",
        [("sf0.1", (Data("sf0.1"), 10))],
        "the incremental frame-set index accumulates a subset of the "
        "batch-built pairs, and a replayed batch is a no-op")
def _stream_frameset(spark, arg):
    from obmp_psql_spark.operators.dedup import (frameset_neardup_pairs,
                                                 incremental_frameset_pairs)
    from obmp_psql_spark.queries_text import _video_fingerprints
    from obmp_psql_spark.state import TxnStateStore

    sf_dir, nbatch = arg
    cols = ("vid_id", "frame_index", "dhash")
    fp = _video_fingerprints(spark, sf_dir).select(*cols).persist()
    root = scratch("streamfs_")
    store = TxnStateStore(spark, root)
    kw = dict(bits=63, bands=7, max_hamming=3, max_bucket_size="auto")
    # split at video granularity: frames ride with their video
    batches = [fp.filter(F.pmod(F.xxhash64("vid_id"), nbatch) == b)
               .persist() for b in range(nbatch)]
    for part in batches:
        part.count()
    row: dict = {"n_fp": fp.count(),
                 "n_videos": fp.select("vid_id").distinct().count(),
                 "nbatch": nbatch, "batches": []}
    for b, part in enumerate(batches):
        wall = timed(incremental_frameset_pairs, store, part, *cols,
                     batch_id=b, **kw)[1]
        nfiles, nbytes = parquet_files(root, "vid_bands")
        row["batches"].append({"batch": b, "wall_s": round(wall, 2),
                               "bands_files": nfiles,
                               "bands_bytes": nbytes})
    # the capped incremental set against the uncapped batch-built one
    inc = {(r.id_a, r.id_b) for r in
           store.read("vid_pairs").select("id_a", "id_b").collect()}
    exact = {(r.id_a, r.id_b) for r in frameset_neardup_pairs(
        fp, *cols, bits=60, bands=4, max_hamming=3, max_bucket_size=None)
        .select("id_a", "id_b").collect()}
    row.update(pairs_accumulated=len(inc), pairs_exact_uncapped=len(exact),
               accumulated_subset_of_exact=inc <= exact,
               recall_vs_exact_ppm=ppm(len(inc & exact), len(exact)))
    before = store.read("vid_pairs").count()
    incremental_frameset_pairs(store, batches[3], *cols, batch_id=3, **kw)
    row["replay_noop"] = store.read("vid_pairs").count() == before
    for part in batches:
        part.unpersist()
    fp.unpersist()
    return row


# -- joins and views ----------------------------------------------------

LS_USER_COPY, LS_EVENT_COPY = 10_000_000, 100_000_000  # make_sf_scale


def _ls_messages(spark, sf_dir):
    """The LS gate messages with key spaces that grow with the derived
    copies, so per-key churn stays constant across decades."""
    from obmp_psql_spark.session import fan_out, load_tables

    ev = fan_out(load_tables(spark, sf_dir, ("events",))["events"], spark)
    mts = F.timestamp_micros(F.unix_micros("ts") + F.col("event_id"))
    wd = F.col("value") < 5
    ecopy = (F.col("event_id") / LS_EVENT_COPY).cast("long")
    attr = F.when(wd, F.lit("")).otherwise(
        F.concat(F.lit("a"), (F.col("event_id") % 20).cast("string")))
    user50 = (F.col("user_id") % 50).cast("string")

    def node_of(c):
        return F.concat(F.lit("n"), (c / LS_USER_COPY).cast("long"),
                        F.lit("-"), (c % 50).cast("string"))
    common = (F.lit("p1").alias("peer_hash"),
              attr.alias("base_attr_hash"),
              F.col("event_id").alias("sequence"))
    tail = (wd.alias("is_withdrawn"), mts.alias("timestamp"),
            F.col("event_id"))
    nodes = ev.select(
        node_of(F.col("user_id")).alias("hash"), *common,
        F.lit(65001).cast("long").alias("peer_asn"),
        F.lit(0).cast("long").alias("ls_id"),
        F.concat(F.lit("0100.0a0b.0c"), user50).alias("igp_router_id"),
        F.lit("").alias("ospf_area_id"),
        F.lit("IS-IS_L2").alias("protocol"),
        F.concat(F.lit("10.0.0."), user50).alias("router_id"),
        F.lit("49.0001").alias("isis_area_id"),
        F.lit("").alias("flags"),
        F.concat(F.lit("node-"), user50, F.lit("-"),
                 (F.col("event_id") % 3).cast("string")).alias("name"),
        F.lit("0 2").alias("mt_ids"),
        F.lit("").alias("sr_capabilities"), *tail)
    link = F.concat(ecopy, F.lit("-"),
                    (F.col("event_id") % 499).cast("string"))
    links = ev.select(
        F.concat(F.lit("l"), link).alias("hash"), *common,
        F.lit(0).cast("int").alias("mt_id"),
        F.lit("10.1.0.1").alias("interface_ip"),
        F.lit("10.1.0.2").alias("neighbor_ip"),
        F.lit("IS-IS_L2").alias("protocol"),
        F.lit(1).cast("long").alias("local_link_id"),
        F.lit(2).cast("long").alias("remote_link_id"),
        node_of(F.col("user_id")).alias("local_node_hash"),
        node_of(F.col("user_id") + 1).alias("remote_node_hash"),
        F.lit(0).cast("long").alias("admin_group"),
        F.lit(10000).cast("long").alias("max_link_bw"),
        F.lit(8000).cast("long").alias("max_resv_bw"),
        F.lit("8000").alias("unreserved_bw"),
        F.lit(10).cast("long").alias("te_default_metric"),
        F.lit("").alias("link_protection"),
        F.lit("LDP").alias("mpls_proto_mask"),
        (F.col("event_id") % 97).cast("long").alias("igp_metric"),
        F.lit("").alias("srlg"),
        F.concat(F.lit("link-"), link).alias("link_name"),
        F.lit("x").alias("igp_router_id"),
        F.lit("10.0.0.1").alias("router_id"),
        F.lit("y").alias("remote_igp_router_id"),
        F.lit("10.0.0.2").alias("remote_router_id"),
        F.lit(65001).cast("long").alias("local_node_asn"),
        F.lit(65001).cast("long").alias("remote_node_asn"),
        F.lit("").alias("epe_peer_node_sid"),
        F.lit("").alias("adjacency_segment_id"), *tail)
    return nodes, links


@family("ls", "BENCH_ls_scale.json",
        [(t, Data(t)) for t in ("sf0.1", "sf1", "sf10")],
        "the LS and L3VPN conditional merge + CDC scale linearly when the "
        "key space grows with the data",
        alpha=("ls_link_merge_cdc", "ls_node_merge_cdc", "l3vpn_merge_cdc"))
def _ls(spark, sf_dir):
    from obmp_psql_spark.ingest_ls import (apply_l3vpn, apply_ls_link,
                                           apply_ls_node)
    from obmp_psql_spark.queries_bmp import _l3vpn_messages
    from obmp_psql_spark.schemas import TABLE_SCHEMAS
    from obmp_psql_spark.session import empty_df, sized_session

    s = sized_session(spark, sf_dir)
    probes = {
        "ls_link_merge_cdc": (apply_ls_link, "ls_links",
                              lambda: _ls_messages(s, sf_dir)[1]),
        "ls_node_merge_cdc": (apply_ls_node, "ls_nodes",
                              lambda: _ls_messages(s, sf_dir)[0]),
        "l3vpn_merge_cdc": (apply_l3vpn, "l3vpn_rib",
                            lambda: _l3vpn_messages(s, sf_dir)),
    }

    def two_batch(apply, table, msgs):
        # insert batch, then merge batch; both outputs consumed
        m = msgs()
        state, _ = apply(empty_df(s, TABLE_SCHEMAS[table]),
                         m.filter(F.col("event_id") % 2 == 0).drop("event_id"))
        state, log = apply(state, m.filter(F.col("event_id") % 2 == 1)
                           .drop("event_id"),
                           materialize_join=lambda df: df.localCheckpoint())
        noop(state)
        noop(log)
    return {name: best_of(2, lambda p=p: two_batch(*p))
            for name, p in probes.items()}


LPM_DIM_ROWS = 500_000


def _lpm_dim(spark):
    """500k /24s over 10/8 plus 256 /16s, 8 /8s and a default route:
    the coarse tail a real ROA or geo table carries."""
    def tier(n, start, span, masklen, asn):
        return spark.range(n).select(
            F.lit(4).alias("family"), F.lit(0).cast("long").alias("start_hi"),
            start.alias("start_lo"), F.lit(0).cast("long").alias("end_hi"),
            (start + span).alias("end_lo"),
            F.lit(masklen).alias("masklen"), asn.alias("origin_as"))
    i = F.col("id")
    return (tier(LPM_DIM_ROWS, (i * 7919) % (1 << 24) * 256, 255, 24,
                 i % 50000 + 1000)
            .unionByName(tier(256, i * (1 << 16), (1 << 16) - 1, 16,
                              i + 64512))
            .unionByName(tier(8, i * (1 << 24), (1 << 24) - 1, 8, i + 64000))
            .unionByName(tier(1, F.lit(0).cast("long"), (1 << 32) - 1, 0,
                              F.lit(65535)))
            .localCheckpoint())


@family("lpm", "BENCH_lpm_scale.json",
        [("2M", (Data("sf100"), 50)), ("20M", (Data("sf100"), 5)),
         ("100M", (Data("sf100"), 1))],
        "containment and LPM joins broadcast the dim once and stay linear "
        "in probe rows, with no BroadcastNestedLoopJoin",
        params={"dim_rows": LPM_DIM_ROWS + 256 + 8 + 1},
        alpha=("containment_join128_agg", "lpm_join128"), size="probe_rows")
def _lpm(spark, arg):
    from obmp_psql_spark.operators.lpm import containment_join128, lpm_join128

    sf_dir, keep_one_in = arg
    dim = _lpm_dim(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if keep_one_in > 1:
        ev = ev.filter(F.col("event_id") % keep_one_in == 0)
    # xxhash64 + pmod: a Knuth multiply overflows int64 under ANSI mode
    addr = F.pmod(F.xxhash64("user_id", "event_id"), F.lit(1 << 32))
    p = ev.select(F.col("event_id").alias("probe_id"),
                  F.lit(4).alias("pfamily"),
                  F.lit(0).cast("long").alias("phi"),
                  addr.cast("long").alias("plo"))
    ops = {
        # RPKI-validation shape: matched pairs, then a per-probe agg
        "containment_join128_agg": lambda: containment_join128(
            p, "pfamily", "phi", "plo", dim, broadcast=True)
        .groupBy("probe_id").agg(F.max("origin_as").alias("rpki_origin_as"),
                                 F.count(F.lit(1)).alias("n_roas")),
        "lpm_join128": lambda: lpm_join128(
            p, ["probe_id"], "pfamily", "phi", "plo", dim,
            masklen_col="masklen", broadcast=True),
    }
    row = {"probe_rows": p.count(), "bnl_free": all(
        "BroadcastNestedLoopJoin" not in
        build()._jdf.queryExecution().executedPlan().toString()
        for build in ops.values())}
    row.update({op: best_of(2, lambda b=b: noop(b()))
                for op, b in ops.items()})
    return row


VIEWS_PEERS, VIEWS_ROUTERS = 64, 8


def _view_facts(spark, sf_dir: str):
    """ip_rib-shaped facts, one per events row, from a projection."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    eid = F.col("event_id")
    return ev.select(
        F.concat(F.lit("r"), eid).alias("hash_id"),
        F.concat(F.lit("p"), F.col("user_id") % VIEWS_PEERS)
        .alias("peer_hash_id"),
        # event_id is copy-offset in the derived data, so the attr key
        # space grows with the tier
        F.concat(F.lit("a"), (eid / 100).cast("long"))
        .alias("base_attr_hash_id"),
        F.concat(F.lit("10."), (eid % 224).cast("string"), F.lit("."),
                 ((eid / 224) % 256).cast("long").cast("string"),
                 F.lit(".0")).alias("prefix"),
        F.lit(24).cast("int").alias("prefix_len"),
        (65000 + eid % 1000).alias("origin_as"),
        F.lit(True).alias("is_ipv4"),
        F.col("ts").alias("timestamp"),
        F.col("ts").alias("first_added_timestamp"),
        F.lit(0).cast("long").alias("path_id"),
        F.lit("").alias("labels"),
        (F.col("value") < 2).alias("is_withdrawn"),
        F.lit(False).alias("is_pre_policy"),
        F.lit(True).alias("is_adj_rib_in"))


def _view_attrs(spark, sf_dir: str):
    """base_attrs covering the facts' keys: facts/100 attr ids x 64
    peers, 0.64 rows per fact, so the attrs join is the view's one
    real shuffle. The derived tiers are copies of the 100k-event base
    offset by 100M event ids, so attr ids sit at 1M strides."""
    import pyarrow.parquet as pq

    n_rows = pq.ParquetFile(
        os.path.join(sf_dir, "events.parquet")).metadata.num_rows
    base_span, copy_stride = 100_000, 100_000_000
    per_copy = base_span // 100
    idx = (F.col("id") / VIEWS_PEERS).cast("long")
    aid = ((idx / per_copy).cast("long") * (copy_stride // 100)
           + idx % per_copy)
    i = F.col("id")
    return spark.range(max(1, n_rows // base_span) * per_copy
                       * VIEWS_PEERS).select(
        F.concat(F.lit("a"), aid).alias("hash_id"),
        F.concat(F.lit("p"), i % VIEWS_PEERS).alias("peer_hash_id"),
        (i % 2).cast("int").alias("origin"),
        (i % 100).cast("long").alias("med"),
        F.lit(100).cast("long").alias("local_pref"),
        F.lit("10.0.0.1").alias("next_hop"),
        F.sequence(F.lit(65001).cast("long"),
                   (65001 + i % 4).cast("long")).alias("as_path"),
        (1 + i % 4).cast("int").alias("as_path_count"),
        F.lit("65001:100").alias("community_list"),
        *(F.lit("").alias(c) for c in (
            "ext_community_list", "large_community_list", "cluster_list",
            "originator_id", "aggregator")))


def _view_plan(df) -> dict:
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    def nodes(op):  # formatted plans print each node twice
        return len(set(re.findall(rf"\((\d+)\)\s+{op}", plan)))
    bhj, smj, shj = (nodes(op) for op in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    m = re.search(r"ReadSchema:\s*struct<([^>]*)>", plan)
    # peers and routers broadcast; the attrs fact-to-fact join is the
    # one allowed shuffle join (AQE may broadcast it at small tiers)
    return {"broadcast_hash_joins": bhj, "sort_merge_joins": smj,
            "shuffled_hash_joins": shj,
            "events_read_schema_cols":
                len(m.group(1).split(",")) if m and m.group(1) else 0,
            "dims_broadcast": bhj >= 2 and smj + shj <= 1}


@family("views", "BENCH_views_scale.json",
        [(t, Data(t)) for t in ("sf1", "sf10", "sf100")],
        "the v_ip_routes 4-way join keeps its dims broadcast and scales "
        "linearly in fact rows",
        params={"attr_rows_per_fact": 0.64},
        alpha=("view_project", "view_agg"))
def _views(spark, sf_dir):
    from obmp_psql_spark.plans.views import v_ip_routes
    from obmp_psql_spark.session import sized_session

    s = sized_session(spark, sf_dir)

    def view():
        peers = s.range(VIEWS_PEERS).select(
            F.concat(F.lit("p"), F.col("id")).alias("hash_id"),
            F.concat(F.lit("rtr"), F.col("id") % VIEWS_ROUTERS)
            .alias("router_hash_id"),
            F.concat(F.lit("peer-"), F.col("id")).alias("name"),
            F.concat(F.lit("192.0.2."), F.col("id")).alias("peer_addr"),
            (64500 + F.col("id")).alias("peer_as"),
            F.lit(True).alias("is_ipv4"),
            F.lit(False).alias("is_l3vpn_peer"))
        routers = s.range(VIEWS_ROUTERS).select(
            F.concat(F.lit("rtr"), F.col("id")).alias("hash_id"),
            F.concat(F.lit("router-"), F.col("id")).alias("name"),
            F.concat(F.lit("198.51.100."), F.col("id")).alias("ip_address"))
        return v_ip_routes(_view_facts(s, sf_dir), peers,
                           _view_attrs(s, sf_dir), routers)

    def agg(v):
        return v.groupBy("origin_as").agg(
            F.count(F.lit(1)).alias("n_routes"),
            F.max("last_modified").alias("latest"))
    return {"plan": _view_plan(agg(view())),
            "view_project": best_of(2, lambda: noop(view())),
            "view_agg": best_of(2, lambda: noop(agg(view())))}


@family("olap", "BENCH_olap_scale.json",
        [("600k", Data("sf0.1")), ("6M", Data("sf1")), ("60M", Data("sf10"))],
        "the market-share star join and the grouping-sets report stay "
        "scan-bound (alpha about 1) over lineitem decades",
        alpha=("market_share.wall_s", "grouping_sets.wall_s"))
def _olap(spark, sf_dir):
    from obmp_psql_spark.queries_curate import q_market_share
    from obmp_psql_spark.queries_olap import q_grouping_sets

    row = {}
    for name, fn in (("market_share", q_market_share),
                     ("grouping_sets", q_grouping_sets)):
        rows, wall = timed(lambda: fn(spark, sf_dir).collect())
        row[name] = {"wall_s": wall, "n_rows": len(rows)}
    return row


MG_K = 50


@family("er_sketch", "BENCH_er_sketch.json",
        [("sf0.01", (Data("sf0.01"), ("uncapped", "capped", "sorted"))),
         ("sf0.1", (Data("sf0.1"),
                    ("uncapped", "capped", "sorted", "misra_gries"))),
         ("sf1", (Data("sf1"), ("capped", "sorted", "misra_gries"))),
         ("sf10", (Data("sf10"), ("misra_gries",)))],
        "uncapped blocked fuzzy match goes quadratic; the capped and "
        "sorted-neighbourhood variants and Misra-Gries stay linear",
        params={"k": MG_K},
        alpha=tuple(f"{op}.wall_s" for op in (
            "fuzzy_blocked_uncapped", "fuzzy_blocked_capped",
            "fuzzy_sorted", "misra_gries")))
def _er_sketch(spark, arg):
    from obmp_psql_spark.operators.cache import release_build_artifacts
    from obmp_psql_spark.operators.sketch import misra_gries
    from obmp_psql_spark.queries_curate import _docs, _norm_col
    from obmp_psql_spark.queries_olap import (fuzzy_blocked_pairs,
                                              q_fuzzy_match, q_fuzzy_sorted)
    from obmp_psql_spark.session import fan_out, load_tables

    sf_dir, ops = arg
    fuzzy = {
        "uncapped": ("fuzzy_blocked_uncapped", lambda: fuzzy_blocked_pairs(
            load_tables(spark, sf_dir, ("part",))["part"], cap=None)),
        "capped": ("fuzzy_blocked_capped",
                   lambda: q_fuzzy_match(spark, sf_dir)),
        "sorted": ("fuzzy_sorted", lambda: q_fuzzy_sorted(spark, sf_dir)),
    }
    row: dict = {}
    for op in ops:
        if op in fuzzy:
            name, build = fuzzy[op]
            rows, wall = timed(lambda: build().collect())
            release_build_artifacts()
            row[name] = {"wall_s": wall,
                         "n_pairs": int(sum(r["n_pairs"] for r in rows))}
    if "misra_gries" in ops:
        toks = (fan_out(_docs(spark, sf_dir), spark)
                .select(F.explode(F.split(_norm_col(), " ")).alias("term"))
                .filter(F.length("term") > 0))
        sketch, wall = timed(lambda: misra_gries(toks, "term", MG_K)
                             .collect())
        exact, exact_wall = timed(lambda: toks.groupBy("term")
                                  .agg(F.count(F.lit(1)).alias("c"))
                                  .agg(F.count(F.lit(1)).alias("v"),
                                       F.sum("c").alias("n")).collect()[0])
        row["misra_gries"] = {"wall_s": wall,
                              "exact_groupby_wall_s": exact_wall,
                              "n_kept": len(sketch), "vocab": int(exact["v"]),
                              "n_tokens": int(exact["n"])}
    return row


LPA_BLOCK, LPA_DRAWS, LPA_CAP, LPA_HUBS, LPA_ITERS = 50, 12, 32, 64, 4


@family("lpa", "BENCH_lpa.json",
        [("20k", 20_000), ("200k", 200_000)],
        "capped LPA rounds stay linear in edges while hub in-degree grows "
        "with N",
        params={"block": LPA_BLOCK, "cap": LPA_CAP, "iters": LPA_ITERS},
        alpha=("wall_s",), size="edges_sym")
def _lpa(spark, n_nodes):
    """Planted 50-node blocks with sparse bridges and 64 hub supernodes,
    the same shape at every N. Block degree (about 2 x 12 symmetric)
    stays below the cap; hub in-degree grows as N/64 uncapped. A 2M
    tier (30M edges) is over ``graph.DRIVER_MAX_EDGES``: its rounds
    raise instead of collecting."""
    from obmp_psql_spark.queries_curate import lpa_rounds

    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "32")
    r = s.range(n_nodes * LPA_DRAWS).select(
        F.expr(f"id div {LPA_DRAWS}").cast("long").alias("s"),
        (F.col("id") % LPA_DRAWS).cast("long").alias("j"))
    src = F.col("s").alias("src")
    # the within-block offset follows the draw index (j*7 cycles all 50
    # residues): an offset by s's residue class would give every node
    # one repeated neighbour and no communities
    intra = r.select(src, (F.expr(f"s div {LPA_BLOCK}") * LPA_BLOCK
                           + (F.col("s") + F.col("j") * 7 + 1) % LPA_BLOCK)
                     .cast("long").alias("dst"))
    bridge = r.filter((F.col("s") + F.col("j")) % 31 == 0).select(
        src, ((F.col("s") + LPA_BLOCK) % n_nodes).cast("long").alias("dst"))
    hubs = r.filter((F.col("s") + F.col("j")) % 97 == 0).select(
        src, (F.col("s") * 7 % LPA_HUBS).cast("long").alias("dst"))
    raw = intra.union(bridge).union(hubs) \
        .filter(F.col("src") != F.col("dst")).distinct()
    sym = raw.union(raw.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))) \
        .distinct().localCheckpoint()
    n_edges = sym.count()
    n_comm, wall = timed(lambda: lpa_rounds(sym, LPA_ITERS, cap=LPA_CAP)
                         .select("community").distinct().count())
    max_deg = sym.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
    return {"nodes": n_nodes, "edges_sym": n_edges,
            "max_in_degree": int(max_deg), "wall_s": wall,
            "n_communities": n_comm}


# -- vectors and near-duplicates ----------------------------------------

ANN_LSH_CAP = 500


@family("ann", "BENCH_sf10_ann.json",
        # (dataset, LSH planes, IVF centroids ~sqrt(N), uncapped runs,
        # capped LSH): the uncapped join and the full IVF self-join are
        # data-quadratic and O(N^1.5) by design, so 200k leaves them out
        [("2k", (Data("sf0.1"), 8, 16, True, False)),
         ("20k", (Data("sf1"), 12, 50, True, True)),
         ("200k", (Data("sf10"), 16, 158, False, True))],
        "IVF and PQ serving stay bounded as N grows; sign-LSH needs its "
        "bucket cap once sign patterns saturate at the cluster count",
        params={"lsh_cap": ANN_LSH_CAP})
def _ann(spark, arg):
    from obmp_psql_spark.operators import similarity as S
    from obmp_psql_spark.operators.cache import (build_artifacts,
                                                 release_build_artifacts)

    sf_dir, planes, cents, uncapped, capped = arg
    v = vectors(spark, sf_dir).select("vec_id", "embedding")
    row: dict = {}

    def run(label, build):
        def go():
            with build_artifacts():
                noop(build())
            release_build_artifacts()
        row[label] = round(timed(go)[1], 2)
    if uncapped:
        run(f"lsh {planes} planes uncapped", lambda: S.lsh_topk(
            v, dims=64, n_planes=planes, k=5, max_bucket_size=None))
    if capped:
        run(f"lsh {planes} planes cap {ANN_LSH_CAP}", lambda: S.lsh_topk(
            v, dims=64, n_planes=planes, k=5, max_bucket_size=ANN_LSH_CAP))
    if uncapped:
        run(f"ivf {cents} centroids full self-join", lambda: S.ivf_topk(
            v, n_centroids=cents, nprobe=3, k=5, train_iters=1))
    # the serving path: a bounded query set, nprobe x N/C per query
    run(f"ivf {cents} centroids mq1000", lambda: S.ivf_topk(
        v, n_centroids=cents, nprobe=3, k=5, train_iters=1,
        max_queries=1000))
    run("pq m=8 n_codes=16", lambda: S.pq_topk(
        v, m=8, n_codes=16, k=5, train_iters=2, max_queries=50))
    return row


LSH_DIMS, LSH_PLANES, LSH_K, LSH_FIXED_CAP = 64, 8, 5, 64
LSH_UNCAPPED_MAX_N = 500_000  # above it the uncapped join is quadratic


@family("lsh_cap", "BENCH_lsh_cap.json",
        [(t, Data(d)) for t, d in (("2k", "sf0.1"), ("20k", "sf1"),
                                   ("200k", "sf10"), ("2M", "sf100"))],
        "lsh_topk's auto shard cap holds recall@5 as N grows where a fixed "
        "cap decays; IVF is the recall path",
        params={"dims": LSH_DIMS, "n_planes": LSH_PLANES, "k": LSH_K,
                "fixed_cap": LSH_FIXED_CAP})
def _lsh_cap(spark, sf_dir):
    """Recall against exact cosine top-5 for the 50 probes vec_id < 50,
    present at every scale; ties break the same way in both paths."""
    from obmp_psql_spark.operators import similarity as S
    from obmp_psql_spark.operators.cache import build_artifacts

    e = vectors(spark, sf_dir).persist()
    n = e.count()

    def pairs(df) -> set:
        return {(r.query_id, r.neighbor_id)
                for r in df.filter(F.col("query_id") < 50).collect()}
    truth, brute_s = timed(lambda: pairs(S.cosine_topk(
        e.filter(F.col("vec_id") < 50), e, k=LSH_K)))
    row: dict = {"n_vec": n, "brute_wall_s": round(brute_s, 2)}

    def recall(build) -> dict:
        with build_artifacts():
            got, wall = timed(lambda: pairs(build()))
        return {"recall_ppm": ppm(len(got & truth), len(truth)),
                "wall_s": round(wall, 2)}
    caps = [("uncapped", None)] if n < LSH_UNCAPPED_MAX_N else []
    for tag, cap in caps + [("fixed", LSH_FIXED_CAP), ("auto", "auto")]:
        row[tag] = recall(lambda cap=cap: S.lsh_topk(
            e, dims=LSH_DIMS, n_planes=LSH_PLANES, k=LSH_K,
            max_bucket_size=cap))
    cents = max(16, int(n ** 0.5))
    row["ivf"] = {"n_centroids": cents, **recall(lambda: S.ivf_topk(
        e, n_centroids=cents, nprobe=3, k=LSH_K, train_iters=1,
        max_queries=50))}
    e.unpersist()
    return row


MLOPS_DIMS, MLOPS_SHARD_CAP = 64, 500


@family("mlops", "BENCH_mlops_scale.json",
        [(t, Data(d)) for t, d in (("2k", "sf0.1"), ("20k", "sf1"),
                                   ("200k", "sf10"), ("2M", "sf100"))],
        "PCA and the classifier stay scan-bound; SemDeDup's pair work is "
        "bounded by the shard cap at sqrt(N) clusters",
        params={"dims": MLOPS_DIMS, "shard_cap": MLOPS_SHARD_CAP},
        alpha=("pca_fit_s", "semdedup_assign_s", "semdedup_within_s",
               "logreg_train_s"))
def _mlops(spark, sf_dir):
    from obmp_psql_spark.functions.text import quality_features
    from obmp_psql_spark.operators import pca
    from obmp_psql_spark.operators import similarity as S
    from obmp_psql_spark.operators.cache import build_artifacts, owned_persist
    from obmp_psql_spark.operators.classifier import logreg_train
    from obmp_psql_spark.session import fan_out, load_tables

    e = vectors(spark, sf_dir)
    n_vec = e.count()
    (_, _, eig), pca_s = timed(pca.pca_fit, e, "embedding", dims=MLOPS_DIMS,
                               n_components=2)
    row: dict = {"n_vectors": n_vec, "pca_fit_s": pca_s,
                 "pca_top_eigval": round(eig[0], 4)}
    n_clusters = max(16, int(math.sqrt(n_vec)))
    def assign():
        a = owned_persist(S.shard_oversized_clusters(
            S.kmeans_assign(e, n_clusters=n_clusters, train_iters=1),
            max_cluster_size=MLOPS_SHARD_CAP))
        return a, cluster_census(a)
    with build_artifacts():
        (assigned, occ), assign_s = timed(assign)
        dropped, within_s = timed(lambda: S.semantic_dedup_within(
            assigned, e, threshold=0.95).filter(F.col("kept") == 0).count())
    row.update(semdedup_assign_s=assign_s,
               semdedup_clusters=n_clusters,
               semdedup_blocks=occ["blocks"],
               semdedup_max_occupancy=occ["max_occ"],
               semdedup_candidate_pairs=occ["pairs"],
               semdedup_within_s=within_s, semdedup_dropped=int(dropped))

    d = fan_out(load_tables(spark, sf_dir, ("documents",))["documents"],
                spark)
    feats = quality_features(F.col("text"))
    x = ["x1", "x2", "x3"]
    base = d.select(
        F.lit(1.0).alias("x0"),
        ((feats["stopword_ratio"] - F.lit(0.06)) * F.lit(16.0)).alias("x1"),
        (feats["avg_token_len"] / F.lit(16.0)).alias("x2"),
        (feats["n_tokens"].cast("double") / F.lit(256.0)).alias("x3"))
    base = base.withColumn(
        "label", F.when(F.col("x1") >= 0.0, 1).otherwise(0).cast("int"))
    row["n_docs"] = d.count()
    with build_artifacts():
        t0 = time.perf_counter()
        trained = owned_persist(base)
        w = logreg_train(trained, ["x0", *x], "label", iters=6, lr=8.0)
        row["logreg_train_s"] = round(time.perf_counter() - t0, 3)
        z = sum((F.lit(wj) * F.col(c) for wj, c in zip(w[1:], x)),
                start=F.lit(w[0]) * F.col("x0"))
        acc = trained.select(((z >= 0).cast("int") == F.col("label"))
                             .cast("int").alias("ok")) \
            .agg(F.avg("ok")).collect()[0][0]
        row["logreg_train_acc"] = round(float(acc), 4)
    return row


SEMDEDUP_CAP, SEMDEDUP_PLANES, SEMDEDUP_THRESHOLD = 128, 3, 0.95


@family("semdedup_band", "BENCH_semdedup_band.json",
        [("20k", Data("sf1")), ("200k", Data("sf10"))],
        "at a fixed pair budget, LSH banding of oversized k-means clusters "
        "keeps more true near-dup drops than hash sharding",
        params={"cap": SEMDEDUP_CAP, "n_planes": SEMDEDUP_PLANES,
                "threshold": SEMDEDUP_THRESHOLD})
def _semdedup_band(spark, sf_dir):
    """Ground truth is the uncapped within-cluster dedup on the same
    k-means assignment, so the recall isolates what each cap trades."""
    from obmp_psql_spark.operators import similarity as S
    from obmp_psql_spark.operators.cache import build_artifacts, owned_persist

    e = owned_persist(vectors(spark, sf_dir))
    n_vec = e.count()
    n_clusters = max(16, int(math.sqrt(n_vec)))
    row: dict = {"n_vectors": n_vec, "n_clusters": n_clusters}

    def dropped(assigned) -> set:
        return {r["vec_id"] for r in S.semantic_dedup_within(
            assigned, e, threshold=SEMDEDUP_THRESHOLD)
            .filter(F.col("kept") == 0).select("vec_id").collect()}
    with build_artifacts():
        base = owned_persist(
            S.kmeans_assign(e, n_clusters=n_clusters, train_iters=1))
        truth, within_s = timed(dropped, base)
        occ = cluster_census(base)
        row.update(uncapped_within_s=within_s, uncapped_dropped=len(truth),
                   uncapped_max_occ=occ["max_occ"],
                   uncapped_pairs=occ["pairs"])
        for name, make in (
                ("hash_shard", lambda: S.shard_oversized_clusters(
                    base, max_cluster_size=SEMDEDUP_CAP)),
                ("lsh_band", lambda: S.band_oversized_clusters(
                    base, e, max_cluster_size=SEMDEDUP_CAP,
                    n_planes=SEMDEDUP_PLANES))):
            t0 = time.perf_counter()
            assigned = owned_persist(make())
            occ = cluster_census(assigned)
            drop = dropped(assigned)
            row[name] = {
                "wall_s": round(time.perf_counter() - t0, 3), **occ,
                "dropped": len(drop),
                "recall_ppm": (ppm(len(drop & truth), len(truth))
                               if truth else None),
                # a cap can only lose drops, never invent them
                "extra_drops": len(drop - truth)}
    return row


def _neardup(fp, pairs_fn, n_fp: int) -> dict:
    """Recall of the fixed cap 4 and the occupancy-adaptive auto cap
    against uncapped ground truth at minimum pigeonhole banding
    (60 bits, 4 bands: lossless for hamming 3), overall and over the
    planted clones (id diff 100000 or 200000)."""
    from obmp_psql_spark.operators.dedup import auto_cap_value

    planted = (F.col("id_b") - F.col("id_a")).isin(100000, 200000)

    def counts(pairs) -> tuple:
        r = pairs.agg(F.count(F.lit(1)).alias("all"),
                      F.sum(F.when(planted, 1).otherwise(0)).alias("pl")) \
            .collect()[0]
        return int(r["all"]), int(r["pl"] or 0)
    kw = dict(bits=63, bands=7, max_hamming=3)
    true_all, true_pl = counts(pairs_fn(bits=60, bands=4, max_hamming=3,
                                        max_bucket_size=None))
    fixed_all, fixed_pl = counts(pairs_fn(max_bucket_size=4, **kw))
    (auto_all, auto_pl), wall = timed(
        lambda: counts(pairs_fn(max_bucket_size="auto", **kw)))
    fp.unpersist()
    return {"true_pairs": true_all, "true_planted": true_pl,
            "cap_auto": auto_cap_value(n_fp, 63, 7),
            "kept_fixed4": fixed_all, "kept_auto": auto_all,
            "recall_fixed4_ppm": ppm(fixed_all, true_all),
            "recall_auto_ppm": ppm(auto_all, true_all),
            "planted_recall_fixed4_ppm": ppm(fixed_pl, true_pl),
            "planted_recall_auto_ppm": ppm(auto_pl, true_pl),
            "wall_auto_s": round(wall, 2)}


@family("image", "BENCH_image_scale.json",
        [("5k", Data("sf0.1")), ("50k", Data("sf1"))],
        "the occupancy-adaptive band cap holds near-dup recall across a "
        "10x corpus while the wall stays linear",
        alpha=("wall_auto_s",), size="n_fp")
def _image(spark, sf_dir):
    from obmp_psql_spark.operators.dedup import fingerprint_neardup_pairs
    from obmp_psql_spark.queries_text import _image_fingerprints

    fp = _image_fingerprints(spark, sf_dir).select("img_id", "dhash") \
        .persist()
    n = fp.count()
    return {"n_fp": n, **_neardup(fp, lambda **kw: fingerprint_neardup_pairs(
        fp, "img_id", "dhash", **kw), n)}


@family("video", "BENCH_video_scale.json",
        [("sf0.1", Data("sf0.1")), ("sf1", Data("sf1"))],
        "the frame-pair near-dup join keeps the image family's cap law: "
        "recall holds and the wall stays linear in frames",
        alpha=("wall_auto_s",), size="n_fp")
def _video(spark, sf_dir):
    from obmp_psql_spark.operators.dedup import frameset_neardup_pairs
    from obmp_psql_spark.queries_text import _video_fingerprints

    cols = ("vid_id", "frame_index", "dhash")
    fp = _video_fingerprints(spark, sf_dir).select(*cols).persist()
    n = fp.count()
    n_vid = fp.select("vid_id").distinct().count()
    return {"n_fp": n, "n_videos": n_vid,
            **_neardup(fp, lambda **kw: frameset_neardup_pairs(
                fp, *cols, **kw), n)}


MODAL_QUERIES = ("q_audio_features", "q_video_frames", "q_gopher_rules",
                 "q_bpe_train")


@family("modal", "BENCH_modal_scale.json",
        [("5k", Data("sf0.1")), ("50k", Data("sf1")), ("500k", Data("sf10"))],
        "audio, video and rule filters are one bounded-work scan (alpha "
        "about 1); BPE merges run on a capped vocab (alpha well below 1)",
        alpha=MODAL_QUERIES)
def _modal(spark, sf_dir):
    from obmp_psql_spark.queries_bmp import _PIPELINE_CACHE
    from obmp_psql_spark.registry import all_specs

    specs = all_specs()
    row = {}
    for name in MODAL_QUERIES:
        _PIPELINE_CACHE.clear()  # q_bpe_train memoizes per sf
        row[name] = timed(lambda: noop(specs[name].fn(spark, sf_dir)))[1]
    return row


if __name__ == "__main__":
    sys.exit(main())
