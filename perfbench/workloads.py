"""The workloads, ``rib`` and ``curation``. Each runs through the
program's public entry points and returns a ``Result``; none of them
prints anything.

A workload has these phases:

- set-up: input generation, then one warm-up operation on smaller
  inputs so the measured window starts with compiled plans and
  JIT-warm code;
- the measured window: rib drains its dump, lands update files on a
  fixed schedule for ``--seconds``, then runs its cron phase;
  curation runs passes back to back until ``--seconds`` have passed
  (at least one);
- the check: the committed or collected results against the DuckDB
  reference or the registered oracle, outside the window.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen, reference, stats

RIB_BUCKETS = 8


@dataclasses.dataclass
class Result:
    ops: int = 0                 # operations in the measured window
    attempted: int = 0
    failed: int = 0
    checks: dict = dataclasses.field(default_factory=dict)
    invalid: list = dataclasses.field(default_factory=list)  # void parts
    window: tuple = (0.0, 0.0)   # wall-clock bounds of the window
    cpu_s: float = 0.0           # process-tree CPU inside the window
    headline_s: float = 0.0
    second_s: float = 0.0
    cpu_unit: float = 1.0        # ops per cpu_s_per_op unit
    detail: dict = dataclasses.field(default_factory=dict)
    layer: dict = dataclasses.field(default_factory=dict)


class Ctx:
    def __init__(self, start_spark, work: str, seed: int, seconds: float,
                 trace: bool, cpu_fn):
        self._start_spark = start_spark
        self.spark = None
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = None
        self.cpu = cpu_fn
        self.timeline: list[tuple[str, float]] = []

    def start_spark(self):
        """Start the session (and, traced, install the tracer). A
        workload calls it once, after any set-up that needs no Spark."""
        self.spark = self._start_spark()
        if self.trace:
            from .trace import Tracer
            self.tracer = Tracer(self.spark)
            self.tracer.install()
        return self.spark

    def dir(self, *parts) -> str:
        d = os.path.join(self.work, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def span(self, name: str, layer: str, op=None):
        if self.tracer is None:
            import contextlib
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, op)

    def phase(self, name: str) -> None:
        """Enter warmup / measure / cron / check; the timeline of phase
        starts goes into the detail line, and the tracer counts only
        the measure and cron phases."""
        self.timeline.append((name, time.time()))
        if self.tracer is not None:
            self.tracer.phase = name


def kafka_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ])


def write_files(d: str, chunks: list, msg_type: str,
                prefix: str | None = None) -> list[str]:
    names = []
    for i, msgs in enumerate(chunks):
        name = f"{prefix or msg_type}-{i:05d}.parquet"
        gen.write_records(os.path.join(d, name), msgs, msg_type)
        names.append(name)
    return names


# ---------------------------------------------------------------------------
# rib: backfill, steady updates, then the cron cycle, on one stream
# ---------------------------------------------------------------------------

# Steady traffic: 50 messages every 0.125 s (400 msg/s) under the
# program's default processing-time trigger (1 s, as start_kafka_stream).
# A micro-batch into the pre-loaded state costs a fixed floor of about
# 3 s plus about 0.16 ms per message (measured; README, "The steady
# phase"), so at 400 msg/s a batch settles near 1k messages and the
# per-message part is under a tenth of the capacity the floor leaves.
RIB = dict(n_prefixes=3000, uni_files=4, att_files=1, warm_prefixes=300,
           msgs_per_file=50, interval_s=0.125,
           max_lateness_s=0.5, latency_limit_s=30.0,
           global_buckets=4, report_rounds=2)
REPORT_PREFIXES = 2
REPORT_ORIGINS = 1
UNI, ATT = "unicast_prefix", "base_attribute"


def rib(ctx: Ctx) -> Result:
    """Backfill phase: the dump drained ``availableNow`` into an empty
    bucketed store, one micro-batch per stream, closed loop. Steady
    phase: the drain's unicast stream restarts on its own checkpoint
    under a processing-time trigger and update files land on a fixed
    schedule (open loop) for ``--seconds``; latency runs from each
    file's due time to the commit that makes it visible. Cron phase:
    one cycle of chg_stats -> bucketed global RIB (IRR + RPKI) -> peer
    RIB counts -> origin stats over the store the stream left, then
    rounds of report reads through plans/views."""
    from obmp_psql_spark.state import TxnStateStore
    from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

    res, cfg = Result(), RIB
    n_files = max(10, int(round(ctx.seconds / cfg["interval_s"])))

    def setup(prefixes=cfg["n_prefixes"], tag="src"):
        uni, att, updates, dims = gen.rib_inputs(
            ctx.seed, prefixes, n_files, cfg["msgs_per_file"])
        d = ctx.dir(tag)
        files = {}
        for mt, msgs, n in ((UNI, uni, cfg["uni_files"]),
                            (ATT, att, cfg["att_files"])):
            os.makedirs(os.path.join(d, mt))
            chunks = gen.split(msgs, n)
            files.update(zip(write_files(os.path.join(d, mt), chunks, mt),
                             chunks))
        os.makedirs(os.path.join(d, "staged"))
        names = write_files(os.path.join(d, "staged"), updates, UNI,
                            prefix="update")
        files.update(zip(names, updates))
        return d, files, len(uni) + len(att), names, dims

    # the inputs are written while the session starts
    with ThreadPoolExecutor(1) as ex:
        made = ex.submit(setup)
        warm_made = ex.submit(setup, cfg["warm_prefixes"], "warm_src")
        spark = ctx.start_spark()
        src, files, n_msgs, updates, dims = made.result()
        wsrc = warm_made.result()[0]

    def drain(src_dir: str, tag: str, store):
        ing = BmpStreamingIngest(spark, store, rib_buckets=RIB_BUCKETS)
        ck = {mt: os.path.join(ctx.work, tag, "ck_" + mt)
              for mt in (UNI, ATT)}
        t0 = time.time()
        queries = []
        for mt in ck:
            raw = spark.readStream.schema(kafka_schema()).parquet(
                os.path.join(src_dir, mt))
            queries.append(ing.start_kafka_shaped_stream(
                mt, raw, ck[mt], available_now=True))
        for q in queries:
            q.awaitTermination()
        return ing, ck, t0, reference.commit_times(store.root)

    # warm-up: a smaller dump through the same plans (a second batch
    # was measured as fast as a warm one).
    # Beside it, the dimension tables load into the store the measured
    # drain fills; ingest reads none of them, the cron phase all.
    ctx.phase("warmup")
    store = TxnStateStore(spark, ctx.dir("op", "store"))
    with ThreadPoolExecutor(1) as ex:
        dims_loaded = ex.submit(_preload_dims, spark, store, dims)
        drain(wsrc, "warm", TxnStateStore(spark, ctx.dir("warm", "store")))
        dims_loaded.result()

    ctx.phase("measure")
    cpu0 = ctx.cpu()
    ing, ck, t0, commits = drain(src, "op", store)
    res.cpu_s = ctx.cpu() - cpu0
    res.cpu_unit = n_msgs / 1000.0
    wall = max(commits.values()) - t0

    stream = _Stream(ctx, cfg, store, ing, src, ck[UNI])
    try:
        steady = stream.open_loop(updates)
    finally:
        stream.stop()
    ctx.phase("cron")
    cron = _cron(ctx, cfg, store, dims["info_route"])
    ctx.phase("check")

    # the store against a replay of the batches the stream formed
    # (backfill and steady), then the cron cycle's outputs
    comp = {mt: reference.batch_files(c) for mt, c in ck.items()}
    ref = reference.RibReference()
    for mt, apply in ((ATT, ref.apply_attrs), (UNI, ref.apply_unicast)):
        for b in sorted(comp[mt]):
            apply([m for f in comp[mt][b] for m in files[f]])
    an = reference.AnalyticsReference(ref)
    res.checks = reference.check_rib(ref, store)
    res.checks.update(an.check(store, gen.CRON_NOW))
    res.attempted += 1
    res.failed += int(any(res.checks.values()))
    rep = steady["report"]
    res.attempted += len(steady["files"]) + len(cron["reports"])
    res.failed += rep["failed"]
    if not rep["valid"]:
        # the generator missed its schedule: a harness or host stall,
        # not a program failure, but the freshness figures are void
        res.invalid.append(
            f"steady phase: generator {rep['max_lateness_s']:.3f} s late "
            f"(limit {cfg['max_lateness_s']} s); freshness not reported")

    res.window = (t0, steady["window"][1])
    res.ops = 1
    rate = n_msgs / wall
    lat = rep["latencies"] if rep["valid"] and rep["latencies"] else None
    res.headline_s = 1000.0 / rate
    # the cron cycle, not the report mix: over ten seeds the mix's
    # spread reached 0.26 of its median, the cycle's stayed near 0.1
    res.second_s = cron["cycle_s"]
    p_tail, tail_v = stats.tail_or_max(lat) if lat else (None, None)
    r_tail, r_tail_v = stats.tail_or_max(cron["reports"])
    intake = steady["intake"]
    res.detail = {
        "ingest_msgs_per_s": (rate, "msg/s"),
        "ingest_cpu_s_per_kmsg": (res.cpu_s / res.cpu_unit, "s"),
        "dump_msgs": (n_msgs, "count"),
        "freshness_p50_s": (stats.median(lat) if lat else None, "s"),
        "freshness_tail_s": (tail_v, "s"),
        "freshness_tail_percentile": (p_tail, "pct"),
        "generator_max_lateness_s": (rep["max_lateness_s"], "s"),
        "backlog_files_at_end": (rep["backlog"], "count"),
        "steady_run_valid": (int(rep["valid"]), "bool"),
        "steady_files": (len(steady["files"]), "count"),
        "steady_rate_msgs_per_s": (cfg["msgs_per_file"] / cfg["interval_s"],
                                   "msg/s"),
        "steady_files_per_batch": (intake, "count"),
        "steady_intake_growth": (stats.intake_growth(intake), "ratio"),
        "job_cycle_s": (cron["cycle_s"], "s"),
        "report_mix_s": (cron["mixes"][-1], "s"),
        "report_p50_s": (stats.median(cron["reports"]), "s"),
        "report_tail_s": (r_tail_v, "s"),
        "report_tail_percentile": (r_tail, "pct"),
    }
    res.layer = {
        "sources.rows_rejected": ref.rows_rejected,
        "ingest.dedup_ratio": ref.rows_deduped / max(
            ref.rows_in - ref.rows_rejected, 1),
        "state.live_files": store.live_file_count("ip_rib"),
        "streaming.generator_lateness_s": rep["max_lateness_s"],
        "streaming.backlog_files": rep["backlog"],
        "jobs.slice_rows_per_churn_row": an.slice_rows / max(
            an.changed_rows, 1),
        "_due": steady["due"],
        "_batches": reference.batch_files(ck[UNI]),
        "_rows_returned": cron["rows_returned"],
    }
    return res


class _Stream:
    """The drain's unicast stream, restarted on its checkpoint under a
    processing-time trigger; files land in its source dir."""

    def __init__(self, ctx: Ctx, cfg: dict, store, ing, src: str, ck: str):
        self.cfg, self.store, self.src, self.ck = cfg, store, src, ck
        raw = ctx.spark.readStream.schema(kafka_schema()).parquet(
            os.path.join(src, UNI))
        self.q = ing.start_kafka_shaped_stream(UNI, raw, ck)

    def land(self, name: str) -> float:
        os.rename(os.path.join(self.src, "staged", name),
                  os.path.join(self.src, UNI, name))
        return time.time()

    def visible_at(self, names: set) -> dict:
        """file -> commit time, for files whose batch has committed."""
        commits = reference.commit_times(self.store.root)
        out = {}
        for b, fs in reference.batch_files(self.ck).items():
            t = commits.get((UNI, b))
            if t is not None:
                out.update((f, t) for f in fs if f in names)
        return out

    def wait_visible(self, names: set) -> dict:
        end = time.time() + self.cfg["latency_limit_s"]
        while True:
            vis = self.visible_at(names)
            if len(vis) == len(names) or time.time() > end \
                    or self.q.exception() is not None:
                return vis
            time.sleep(0.05)

    def open_loop(self, measured: list) -> dict:
        """File i due at base + i * interval whatever the stream is
        doing. No warm-up file: the restarted stream reuses the plans
        the backfill compiled (its first batch was measured within
        about 10 % of the next)."""
        cfg = self.cfg
        base = time.time() + cfg["interval_s"]
        due, landed = [], []
        for i, name in enumerate(measured):
            t = base + i * cfg["interval_s"]
            pause = t - time.time()
            if pause > 0:
                time.sleep(pause)
            due.append(t)
            landed.append(self.land(name))
        w1 = due[-1] + cfg["interval_s"]
        pause = w1 - time.time()
        if pause > 0:
            time.sleep(pause)
        vis = self.wait_visible(set(measured))
        rep = stats.open_loop_report(
            due, landed, [vis.get(n) for n in measured], w1,
            cfg["max_lateness_s"], cfg["latency_limit_s"])
        names = set(measured)
        intake = [n for _, fs in sorted(reference.batch_files(self.ck).items())
                  if (n := sum(f in names for f in fs))]
        return {"report": rep, "files": measured, "window": (base, w1),
                "due": dict(zip(measured, due)), "intake": intake}

    def stop(self) -> None:
        self.q.stop()


def _cron(ctx: Ctx, cfg: dict, store, info_route: list) -> dict:
    """One cron cycle at ``gen.CRON_NOW`` (the global-RIB run is the
    first consolidation, so it builds the bucketed table), then
    ``report_rounds`` rounds of the report mix. The first round plans
    each report kind; the report figures come from the later rounds."""
    from pyspark.sql import functions as F

    from obmp_psql_spark.jobs import JobRunner
    from obmp_psql_spark.plans import views

    runner = JobRunner(store)
    now = gen.CRON_NOW
    t0 = time.perf_counter()
    runner.run_chg_stats(now=now)
    runner.run_global_rib(now=now, buckets=cfg["global_buckets"])
    runner.run_peer_rib_counts(now=now)
    runner.run_origin_stats(now=now)
    cycle_s = time.perf_counter() - t0

    prefixes = [p for p, *_ in info_route][:REPORT_PREFIXES]
    origins = sorted({r[3] for r in info_route})[:REPORT_ORIGINS]
    reports, mixes, returned = [], [], 0
    for rnd in range(cfg["report_rounds"]):
        peers, routers = store.read("bgp_peers"), store.read("routers")
        rib_, attrs = store.read("ip_rib"), store.read("base_attrs")
        todo = [("route_lookup", lambda p=p: views.v_ip_routes(
            rib_, peers, attrs, routers).filter(F.col("prefix") == p))
            for p in prefixes]
        todo.append(("peers", lambda: views.v_peers(
            peers, routers, store.read("info_asn"))))
        todo += [("origin_rpki", lambda a=a: store.read(
            "global_ip_rib").filter(F.col("recv_origin_as") == a)
            .selectExpr("prefix", "prefix_len", "recv_origin_as",
                        "CASE WHEN rpki_origin_as IS NULL THEN 'unknown' "
                        "WHEN rpki_origin_as = recv_origin_as "
                        "THEN 'valid' ELSE 'invalid' END AS rpki_state"))
            for a in origins]
        t_mix = time.perf_counter()
        for kind, build in todo:
            t1 = time.perf_counter()
            with ctx.span(f"views.{kind}", "views"):
                returned += len(build().collect())
            if rnd:
                reports.append(time.perf_counter() - t1)
        mixes.append(time.perf_counter() - t_mix)
    return {"cycle_s": cycle_s, "reports": reports, "mixes": mixes,
            "rows_returned": returned}


def _preload_dims(spark, store, dims: dict) -> None:
    from obmp_psql_spark import schemas
    from obmp_psql_spark.session import tiny_df

    def rows(schema, dicts):
        names = [f.name for f in schema.fields]
        return [tuple(dct.get(n) for n in names) for dct in dicts]

    ts = gen.T0 - dt.timedelta(days=1)
    routers = [{"hash_id": h, "name": n, "ip_address": ip, "state": "up",
                "timestamp": ts, "conn_count": 1}
               for h, n, ip in dims["routers"]]
    peers = [{**p, "timestamp": ts} for p in dims["peers"]]
    info_asn = [{"asn": a, "as_name": n, "timestamp": ts}
                for a, n in dims["info_asn"]]
    info_route = [{"prefix": p, "prefix_len": l, "descr": ds,
                   "origin_as": o, "source": s, "timestamp": ts}
                  for p, l, ds, o, s in dims["info_route"]]
    rpki = []
    for p, l, lmax, o in dims["rpki"]:
        a = 0
        for part in p.split("."):
            a = a * 256 + int(part)
        end = a + (1 << (32 - l)) - 1
        rpki.append({"prefix": p, "prefix_len": l, "prefix_len_max": lmax,
                     "origin_as": o, "timestamp": ts, "prefix_start": a,
                     "prefix_end": end, "start_hi": 0, "start_lo": a,
                     "end_hi": 0, "end_lo": end})
    with store.transaction() as txn:
        for table, schema, dicts in (
                ("routers", schemas.ROUTERS, routers),
                ("bgp_peers", schemas.BGP_PEERS, peers),
                ("info_asn", schemas.INFO_ASN, info_asn),
                ("info_route", schemas.INFO_ROUTE, info_route),
                ("rpki_validator", schemas.RPKI_VALIDATOR, rpki)):
            txn.replace(table, tiny_df(spark, rows(schema, dicts), schema))


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

CURATION = dict(n_docs=200, n_vecs=500, warm_docs=40, warm_vecs=40)
DEDUP_QUERIES = ("q_minhash_est_gate", "q_dedup_apply")
KNN_QUERIES = ("q_knn_classify", "q_ann_topk")
KNN_REPEATS = 3  # the kNN pair is short: three draws per dedup draw


def curation(ctx: Ctx) -> Result:
    """DuckDB computes the oracles of the measured corpus on another
    thread while the session starts and a warm-up pass runs over a
    small corpus (the same plans, so the JVM compiles them). Measured
    passes: each query cold of the pipeline memo and collected; every
    collected result is checked against its oracle after the window."""
    from obmp_psql_spark import registry
    from obmp_psql_spark.operators.cache import release_build_artifacts
    from obmp_psql_spark.queries_bmp import _PIPELINE_CACHE

    res, cfg = Result(), CURATION
    specs = registry.all_specs()
    names = DEDUP_QUERIES + KNN_QUERIES

    def setup(n_docs=cfg["n_docs"], n_vecs=cfg["n_vecs"], tag="sf"):
        docs, vecs = gen.curation_inputs(ctx.seed, n_docs, n_vecs)
        d = ctx.dir(tag)
        gen.write_curation(d, docs, vecs)
        return d

    sf = setup()
    warm_sf = setup(cfg["warm_docs"], cfg["warm_vecs"], "warm_sf")

    def oracles() -> dict:
        # one DuckDB thread (the calling one), at low priority, so the
        # oracles fill the cores the session start and the warm-up
        # leave idle instead of competing with them
        os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 10)
        con = reference.connect(threads=1)
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf}/{t}.parquet')")
        return {name: con.execute(specs[name].oracle_for(sf)).fetchdf()
                for name in names}

    def run(name: str, sf_dir: str):
        # cold of the pipeline memo, as bench.py's cold_run
        _PIPELINE_CACHE.clear()
        release_build_artifacts()
        with ctx.span(f"curation.{name}", "curation"):
            out = specs[name].fn(ctx.spark, sf_dir).toPandas()
        release_build_artifacts()
        return out

    with ThreadPoolExecutor(1) as ex:
        want = ex.submit(oracles)
        ctx.start_spark()
        ctx.phase("warmup")
        for name in names:
            run(name, warm_sf)
        want = want.result()

    ctx.phase("measure")
    dedup, knn, got = [], [], []
    cpu0 = ctx.cpu()
    w0 = time.time()
    while not dedup or time.time() - w0 < ctx.seconds:
        t0 = time.perf_counter()
        for name in DEDUP_QUERIES:
            got.append((name, run(name, sf)))
        dedup.append(time.perf_counter() - t0)
        for _ in range(KNN_REPEATS):
            t0 = time.perf_counter()
            for name in KNN_QUERIES:
                got.append((name, run(name, sf)))
            knn.append(time.perf_counter() - t0)
    w1 = time.time()
    res.cpu_s = ctx.cpu() - cpu0
    ctx.phase("check")
    for name, df in got:
        ok = name in want and _same_rows(df, want[name])
        res.checks[name] = res.checks.get(name, 0) + int(not ok)
        res.attempted += 1
        res.failed += int(not ok)
    res.window = (w0, w1)
    res.ops = len(dedup)
    res.headline_s = stats.median(dedup)
    res.second_s = stats.median(knn)
    res.cpu_unit = res.ops
    res.detail = {"dedup_s": (res.headline_s, "s"),
                  "knn_s": (res.second_s, "s"),
                  "passes": (res.ops, "count")}
    return res


def _norm(v):
    import pandas as pd
    if v is None or v is pd.NA:
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float):
        return None if v != v else float(f"{v:.9g}")
    return v


def _same_rows(got, want) -> bool:
    """Order-insensitive value compare by column name; doubles to 9
    significant digits, NaN and NA read as NULL."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)

    def rows(df):
        return sorted((tuple(_norm(v) for v in r)
                       for r in df[cols].itertuples(index=False, name=None)),
                      key=repr)
    return rows(got) == rows(want)


WORKLOADS = {
    "rib": rib,
    "curation": curation,
}
