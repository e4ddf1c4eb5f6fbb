"""Turns a workload ``Result`` (and, traced, the tracer report) into the
metric sets BENCHMARK.json names. Every named metric is always
present; a layer a workload does not exercise reports 0."""

from __future__ import annotations

from . import stats
from .trace import LAYERS, MEASURED, SPARK_COUNTERS

def end_to_end(spec: dict, res, setup_s: float) -> dict:
    values = {"setup_s": setup_s, "headline_s": res.headline_s,
              "second_s": res.second_s,
              "cpu_s_per_op": res.cpu_s / res.cpu_unit}
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def _med(xs) -> float:
    return stats.median(xs) if xs else 0.0


def per_layer(spec: dict, res, rep: dict) -> dict:
    spans = [s for s in rep["spans"] if s["phase"] in MEASURED]
    dur = {}
    for s in spans:
        dur.setdefault(s["name"], []).append(s["end"] - s["start"])
    counts, values = rep["counts"], rep["values"]
    w0 = res.window[0]
    progress = [p for p in rep["progress"] if p["timestamp"] >= w0 - 0.5]
    data = [p for p in progress if p["rows"] > 0]
    batches = len(dur.get("streaming.handler", []))
    # each layer's operation: a micro-batch for the stream layers, a
    # cron cycle, a report read, a curation pass
    units = max(batches or res.ops, 1)
    per = {"streaming": units, "ingest": units, "state": units,
           "jobs": max(len(dur.get("jobs.chg_stats", [])), 1),
           "views": max(sum(len(v) for k, v in dur.items()
                            if k.startswith("views.")), 1),
           "curation": units}
    per_unit = lambda name: sum(dur.get(name, [])) / per[name.split(".")[0]]
    rows_in = sum(p["rows"] for p in data)
    out = {
        "streaming.batches": len(data),
        "streaming.empty_batch_ratio":
            (len(progress) - len(data)) / len(progress) if progress else 0,
        "streaming.rows_per_batch": _med([p["rows"] for p in data]),
        "streaming.planning_s": _med([p["duration_ms"].get(
            "queryPlanning", 0) / 1e3 for p in data]),
        "streaming.add_batch_s": _med([p["duration_ms"].get(
            "addBatch", 0) / 1e3 for p in data]),
        "streaming.offset_log_s": _med([sum(p["duration_ms"].get(k, 0) for k in
                                            ("latestOffset", "getBatch",
                                             "walCommit", "commitOffsets"))
                                        / 1e3 for p in data]),
        "streaming.queue_wait_s": _queue_wait(res, data),
        "streaming.handler_s": _med(dur.get("streaming.handler", [])),
        "sources.rows_in": rows_in,
        "ingest.prepare_s": per_unit("ingest.prepare"),
        "ingest.merge_s": per_unit("ingest.merge"),
        "ingest.state_rows_read_per_msg":
            counts.get("state.rows_read", 0) / max(rows_in, 1),
        "state.read_s": per_unit("state.read"),
        "state.stage_log_s": per_unit("state.stage_log"),
        "state.stage_state_s": per_unit("state.stage_state"),
        "state.commit_s": per_unit("state.commit"),
        "state.bytes_written_per_msg":
            counts.get("state.bytes_written", 0) / max(rows_in, 1),
        "state.files_written_per_batch": counts.get("state.files_written", 0)
            / max(counts.get("state.commits", 0), 1),
        "state.bucket_touch_ratio": sum(values.get(
            "state.bucket_touch_ratio", [])) / max(len(values.get(
                "state.bucket_touch_ratio", [])), 1),
        "state.commit_retries": counts.get("state.commit_retries", 0),
        "state.aborts": counts.get("state.aborts", 0),
        "run.failed_ops_ratio": res.failed / max(res.attempted, 1),
        "run.tracing_overhead_ratio": rep["overhead"]["ratio"],
    }
    for job in ("chg_stats", "global_rib", "peer_rib_counts", "origin_stats"):
        out[f"jobs.{job}_s"] = per_unit(f"jobs.{job}")
    for r in ("route_lookup", "peers", "origin_rpki"):
        out[f"views.{r}_s"] = _med(dur.get(f"views.{r}", []))
    for q in ("q_minhash_est_gate", "q_dedup_apply", "q_knn_classify",
              "q_ann_topk"):
        out[f"curation.{q}_s"] = _med(dur.get(f"curation.{q}", []))
    scanned = sum(s["spark"].get("input_records", 0) for s in spans
                  if s["layer"] == "views")
    out["views.rows_scanned_per_row_returned"] = scanned / max(
        res.layer.get("_rows_returned", 0), 1)
    out["curation.knn_shuffle_records"] = sum(
        s["spark"].get("shuffle_write_records", 0) for s in spans
        if s["name"] in ("curation.q_knn_classify", "curation.q_ann_topk")
    ) / max(res.ops, 1)
    for L in LAYERS:
        tot = rep["layer_spark"].get(L, {})
        for c in SPARK_COUNTERS:
            out[f"spark.{L}.{c}"] = tot.get(c, 0) / per[L]
    for k, v in res.layer.items():
        if not k.startswith("_"):
            out.setdefault(k, v)
    return {m["name"]: {"value": out.get(m["name"], 0), "unit": m["unit"]}
            for m in spec["per_layer"]}


def _queue_wait(res, data: list) -> float:
    """rib_steady: a file's due time -> start of the batch that took it."""
    due, batches = res.layer.get("_due"), res.layer.get("_batches")
    if not due or not batches:
        return 0.0
    start = {p["batch"]: p["timestamp"] for p in data}
    waits = [start[b] - due[f] for b, fs in batches.items() if b in start
             for f in fs if f in due]
    return _med(waits)
