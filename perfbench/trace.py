"""The traced run: spans around the program's public calls, Spark's own
counters attributed to them, and micro-batch phases.

Nothing here is active in an untraced run. ``Tracer.install`` wraps the
calls named in the layer table (README.md) for the life of the run and
``uninstall`` restores them. Each span:

- records name, layer, operation id, parent, thread, start and end
  (wall clock, so it lines up with Spark's millisecond job times and
  with commit-record times);
- tags the Spark jobs its thread submits with ``pb:<span id>``
  (``SparkContext.addJobTag``). Tags reach jobs submitted inside a
  ``foreachBatch`` handler, where job groups do not, and each thread
  carries only its own tags, so concurrent staging writes stay apart.

After the run, every job in the status store goes to the innermost span
whose tag it carries; a job with no tag goes to the innermost span open
at its submission. Stage metrics (``statusStore().lastStageAttempt``)
sum per span, then per layer. ``driver_only_s`` is span self time with
no Spark job running. Micro-batch phases come from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import weakref
from collections import Counter, defaultdict

from . import stats

LAYERS = ("streaming", "ingest", "state", "jobs", "views", "curation")
MEASURED = ("measure", "cron")  # workload phases whose spans count
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes",
                  "driver_only_s")


class _OsProxy:
    """``os`` for the state module, counting commit-link retries."""

    def __init__(self, tracer):
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(os, name)

    def link(self, src, dst, *a, **k):
        try:
            return os.link(src, dst, *a, **k)
        except FileExistsError:
            self._tracer.count("state.commit_retries")
            raise


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.counts: Counter = Counter()
        self.values: dict[str, list] = defaultdict(list)
        self.bookkeeping_s = 0.0
        self._open: dict[int, dict] = {}
        self._next = 0
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple] = []
        self._prepared: dict[int, weakref.ref] = {}
        self._listener = None
        self.phase = "setup"  # set by the workload (Ctx.phase)

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op=None, root: bool = False):
        b0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            # a thread with no open span of its own (a staging-pool
            # worker) hangs under the newest span open anywhere; a
            # root span (a stream thread's batch) hangs under nothing
            if stack:
                parent = stack[-1]
            elif root or not self._open:
                parent = None
            else:
                parent = max(self._open)
            rec = {"id": sid, "name": name, "layer": layer, "op": op,
                   "parent": parent, "phase": self.phase,
                   "thread": threading.get_ident(),
                   "start": 0.0, "end": 0.0}
            self.spans.append(rec)
            self._open[sid] = rec
        stack.append(sid)
        self.sc.addJobTag(f"pb:{sid}")
        self._charge(b0)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            b1 = time.perf_counter()
            self.sc.removeJobTag(f"pb:{sid}")
            stack.pop()
            with self._lock:
                self._open.pop(sid, None)
            self._charge(b1)

    def _charge(self, t0: float) -> None:
        """Count the time since ``t0`` (perf_counter) as the tracer's
        own: span bookkeeping and every hook that runs beside the
        program (footer reads, staged-file walks, listener events)."""
        dt = time.perf_counter() - t0
        with self._lock:
            self.bookkeeping_s += dt

    def count(self, key: str, n: int = 1) -> None:
        """A counter of the measured window (set-up and warm-up work
        is not counted)."""
        if self.phase in MEASURED:
            with self._lock:
                self.counts[key] += n

    def value(self, key: str, v: float) -> None:
        if self.phase in MEASURED:
            with self._lock:
                self.values[key].append(v)

    # -- wrappers -------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._patches.append((owner, attr, orig))

    def _wrap(self, owner, attr: str, name: str, layer: str,
              before=None, after=None) -> None:
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def w(*a, **k):
                if before:
                    b0 = time.perf_counter()
                    before(*a, **k)
                    tracer._charge(b0)
                with tracer.span(name, layer):
                    out = orig(*a, **k)
                if after:
                    b0 = time.perf_counter()
                    after(out, *a, **k)
                    tracer._charge(b0)
                return out
            return w
        self._patch(owner, attr, make)

    def install(self) -> None:
        from pyspark.sql import DataFrame

        from obmp_psql_spark import ingest, jobs, state
        from obmp_psql_spark.streaming import pipeline

        tr = self
        Ing = pipeline.BmpStreamingIngest
        handlers = {}
        for mt, fn in Ing.HANDLERS.items():
            handlers[mt] = self._wrapped_handler(mt, fn)
        self._patch(Ing, "HANDLERS", lambda orig: handlers)

        # ingest: prepare is lazy; its rows materialize when the sink
        # localCheckpoints the result, so that call joins the span name
        def remember(out, *a, **k):
            tr._prepared[id(out)] = weakref.ref(out)
        self._wrap(ingest, "prepare_unicast_prefix", "ingest.prepare",
                   "ingest", after=remember)
        for fn in ("apply_unicast_prefix", "apply_base_attribute"):
            self._wrap(ingest, fn, "ingest.merge", "ingest")

        def make_ckpt(orig):
            @functools.wraps(orig)
            def w(df, *a, **k):
                ref = tr._prepared.pop(id(df), None)
                if ref is not None and ref() is df:
                    with tr.span("ingest.prepare", "ingest"):
                        return orig(df, *a, **k)
                return orig(df, *a, **k)
            return w
        self._patch(DataFrame, "localCheckpoint", make_ckpt)

        # state
        Store, Txn, TxnCtx = state.TxnStateStore, state.Transaction, \
            state._TxnContext

        def bucket_rows(out, store, table, buckets, *a, **k):
            import pyarrow.parquet as pq
            tab = store.snapshot().tables.get(table) or {}
            rows = 0
            for b in buckets:
                d = tab.get("buckets", {}).get(b)
                if d is None:
                    continue
                root = os.path.join(store._abs(d), f"_bucket={b}")
                for f in os.listdir(root):
                    if f.endswith(".parquet"):
                        rows += pq.ParquetFile(
                            os.path.join(root, f)).metadata.num_rows
            tr.count("state.rows_read", rows)
        self._wrap(Store, "read", "state.read", "state")
        self._wrap(Store, "read_buckets", "state.read", "state",
                   after=bucket_rows)
        self._wrap(Txn, "append", "state.stage_log", "state")
        for fn in ("replace", "replace_bucketed"):
            self._wrap(Txn, fn, "state.stage_state", "state")

        def touched(txn, table, df, key_cols, n_buckets, touched, *a, **k):
            tr.value("state.bucket_touch_ratio", len(touched) / n_buckets)
        self._wrap(Txn, "merge_buckets", "state.stage_state", "state",
                   before=touched)

        def make_exit(orig):
            @functools.wraps(orig)
            def w(ctx, exc_type, exc, tb):
                if ctx.txn is None:  # a replayed batch: nothing to commit
                    return orig(ctx, exc_type, exc, tb)
                if exc_type is not None:
                    tr.count("state.aborts")
                    return orig(ctx, exc_type, exc, tb)
                b0 = time.perf_counter()
                nbytes = nfiles = 0
                for d in ctx.txn._staged_dirs:
                    for dp, _, fs in os.walk(d):
                        for f in fs:
                            if f.endswith(".parquet"):
                                nfiles += 1
                                nbytes += os.path.getsize(
                                    os.path.join(dp, f))
                tr.count("state.bytes_written", nbytes)
                tr.count("state.files_written", nfiles)
                tr.count("state.commits")
                tr._charge(b0)
                with tr.span("state.commit", "state"):
                    return orig(ctx, exc_type, exc, tb)
            return w
        self._patch(TxnCtx, "__exit__", make_exit)

        def make_commit(orig):
            @functools.wraps(orig)
            def w(store, txn):
                ok = orig(store, txn)
                if not ok:
                    tr.count("state.aborts")
                return ok
            return w
        self._patch(Store, "_commit", make_commit)
        self._patch(state, "os", lambda orig: _OsProxy(tr))

        # jobs
        for job in ("chg_stats", "global_rib", "peer_rib_counts",
                    "origin_stats"):
            self._wrap(jobs.JobRunner, f"run_{job}", f"jobs.{job}", "jobs")

        self._listen()

    def _wrapped_handler(self, msg_type: str, fn):
        tracer = self

        @functools.wraps(fn)
        def w(ing, batch, batch_id):
            with tracer.span("streaming.handler", "streaming",
                             f"{msg_type}:{batch_id}", root=True):
                return fn(ing, batch, batch_id)
        return w

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer, sink = self, self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                b0 = time.perf_counter()
                p = event.progress
                sink.append({"query": p.name or str(p.id),
                             "run": str(p.runId),
                             "batch": p.batchId,
                             "rows": p.numInputRows,
                             "timestamp": _iso_epoch(p.timestamp),
                             "duration_ms": dict(p.durationMs)})
                tracer._charge(b0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- Spark counters -------------------------------------------------
    def spark_counters(self) -> tuple[dict, list]:
        """span id -> counters of the jobs attributed to it, and the
        (start, end) windows of every job (for driver-only time)."""
        st = self.sc._jsc.sc().statusStore()
        jobs = st.jobsList(None)
        per_span: dict = defaultdict(Counter)
        windows = []
        seen_stages = set()
        by_start = sorted(self.spans, key=lambda s: s["start"])
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            t0 = sub.get().getTime() / 1000.0
            done = j.completionTime()
            t1 = done.get().getTime() / 1000.0 if not done.isEmpty() else t0
            windows.append((t0, t1))
            tags = [t for t in _seq(j.jobTags()) if t.startswith("pb:")]
            if tags:
                sid = max(int(t[3:]) for t in tags)
            else:
                sid = None
                for s in by_start:
                    if s["start"] > t0:
                        break
                    if s["end"] >= t0:
                        sid = s["id"]
            c = per_span[sid]
            c["jobs"] += 1
            for stage_id in _seq(j.stageIds()):
                if stage_id in seen_stages:
                    continue
                try:
                    sd = st.lastStageAttempt(stage_id)
                except Exception:  # skipped stage: never ran
                    continue
                seen_stages.add(stage_id)
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_write_records"] += sd.shuffleWriteRecords()
                c["spill_bytes"] += (sd.memoryBytesSpilled()
                                     + sd.diskBytesSpilled())
                c["input_bytes"] += sd.inputBytes()
                c["input_records"] += sd.inputRecords()
        return per_span, windows

    def report(self, wall_s: float) -> dict:
        """Everything the traced run writes: spans with self time and
        counters, per-layer totals, listener phases, overhead."""
        per_span, windows = self.spark_counters()
        selfs = stats.self_times(self.spans)
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        layer = {L: Counter() for L in LAYERS}
        spans_out = []
        for s in self.spans:
            c = per_span.get(s["id"], Counter())
            drv = driver_only(s, kids.get(s["id"], []), windows)
            c["driver_only_s"] = drv
            if s["layer"] in layer and s["phase"] in MEASURED:
                layer[s["layer"]].update(c)
            spans_out.append({**s, "self_s": selfs[s["id"]],
                              "spark": dict(c)})
        by_name = defaultdict(float)
        for s in self.spans:
            by_name[s["name"]] += s["end"] - s["start"]
        return {"spans": spans_out,
                "unattributed_spark": dict(per_span.get(None, {})),
                "layer_spark": {L: dict(c) for L, c in layer.items()},
                "span_seconds": dict(by_name),
                "span_counts": dict(Counter(s["name"] for s in self.spans)),
                "progress": self.progress,
                "counts": dict(self.counts),
                "values": {k: list(v) for k, v in self.values.items()},
                "overhead": {"bookkeeping_s": self.bookkeeping_s,
                             "wall_s": wall_s,
                             "ratio": self.bookkeeping_s / max(wall_s, 1e-9),
                             "spans": len(self.spans)}}


def driver_only(span: dict, children: list, job_windows: list) -> float:
    """Self time of ``span`` (outside its children) with no job running."""
    a, b = span["start"], span["end"]
    clip = lambda iv: [(max(x, a), min(y, b)) for x, y in iv
                       if min(y, b) > max(x, a)]
    kids, jobs = clip(children), clip(job_windows)
    busy = stats.union_length(kids + jobs)
    return max(0.0, (b - a) - busy)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _iso_epoch(ts: str) -> float:
    import datetime as dt
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def write(path: str, doc: dict) -> None:
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
