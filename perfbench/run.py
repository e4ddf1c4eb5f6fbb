"""Benchmark entry point.

    python3 perfbench/run.py --workload rib --seed 7 --seconds 8 --trace 0

Run from the repository root. Prints one detail line (every
workload-specific figure by name, with its unit, and the correctness
checks), then, as the last line, the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` installs the tracer and reports the per-layer metrics,
and writes the full trace (spans, self times, Spark counters per span,
micro-batch phases, tracing overhead) to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "obmp_psql_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root; the "
              "obmp_psql_spark package is not here", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {names}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import proc, workloads
    from perfbench.report import end_to_end, per_layer

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    mem = proc.PeakMemory()
    mem.start()

    from obmp_psql_spark.session import get_spark
    session_s = []

    def start_spark():
        t0 = time.time()
        spark = get_spark("perfbench", {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
        session_s.append(time.time() - t0)
        return spark

    ctx = workloads.Ctx(start_spark, work, args.seed, args.seconds,
                        bool(args.trace), proc.tree_cpu_s)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        wall = res.window[1] - res.window[0]
        rep = None
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
            t_rep = time.time()
            rep = ctx.tracer.report(wall)
            ctx.timeline.append(("trace_report", t_rep))
    except Exception:
        traceback.print_exc()
        if ctx.spark is not None:
            proc.stop_spark(ctx.spark)
        mem.stop()
        return 1
    proc.stop_spark(ctx.spark)
    peak = mem.stop()

    # setup_s: process start -> first measured operation
    setup_s = res.window[0] - T_START
    correct = res.failed == 0 and not any(res.checks.values())
    detail = {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()}
    detail["session_s"] = {"value": session_s[0], "unit": "s"}
    detail["peak_mem_mb"] = {"value": peak, "unit": "MB"}
    detail["timeline_s"] = {"value": {n: round(t - T_START, 2) for n, t in
                                      ctx.timeline + [("end", time.time())]},
                            "unit": "s"}
    for why in res.invalid:
        print(f"perfbench: invalid: {why}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": detail, "checks": res.checks,
                      "invalid": res.invalid}))

    if args.trace:
        metrics = per_layer(spec, res, rep)
        path = os.path.join(WORK_ROOT,
                            f"trace-{args.workload}-{args.seed}.json")
        from perfbench.trace import write
        untraced = _untraced_headline(args.workload, args.seed)
        rep["overhead"]["vs_untraced_same_seed"] = None if untraced is None \
            else {"untraced_headline_s": untraced,
                  "traced_headline_s": res.headline_s,
                  "ratio": res.headline_s / untraced - 1}
        write(path, {"workload": args.workload, "seed": args.seed,
                     "per_layer": metrics, **rep})
        print(f"perfbench: trace written to {path}", file=sys.stderr)
    else:
        metrics = end_to_end(spec, res, setup_s)
        with open(_untraced_path(args.workload, args.seed), "w") as f:
            json.dump({"headline_s": res.headline_s}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


def _untraced_path(workload: str, seed: int) -> str:
    return os.path.join(WORK_ROOT, f"untraced-{workload}-{seed}.json")


def _untraced_headline(workload: str, seed: int):
    """The headline of an untraced run of the same inputs in this
    checkout, if one ran: the traced run's cost shows against it."""
    try:
        with open(_untraced_path(workload, seed)) as f:
            return json.load(f)["headline_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
