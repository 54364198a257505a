"""Per-layer metrics of a traced run, computed from the JVM client's spans.

They come from the traced run's timed passes, which time the same ops
as an untraced run; `trace.overhead_ratio` comes from the two extra
passes, and the stream layer from table_rw's drain pass (see
`workloads.pass_flags`).  Every metric is printed for
every workload; a layer the workload does not exercise reads 0.
"""
import os

import stats
import workloads as wl

# name -> unit.  Latencies are medians per op; exec/stream counts and
# volumes are per pass (mean over the traced passes).
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.load_s": "s",
    **{f"mr.{e}.{g}_s": "s" for e in ("run", "run_combined", "run_sorted", "start_job")
       for g in wl.REGIMES},
    "mr.get_job_state_s": "s",
    **{f"mr.shuffle_bytes_per_input_byte.{g}": "ratio" for g in wl.REGIMES},
    **{f"mr.shuffle_records_per_input_record.{g}": "ratio" for g in wl.REGIMES},
    "mr.spill_bytes": "bytes",
    "queries.build_s": "s", "queries.exec_s": "s", "queries.driver_gap_s": "s",
    "queries.dedup_clusters.build_s": "s", "queries.dedup_clusters.job_s": "s",
    "queries.dedup_clusters.driver_gap_s": "s",
    "plans.analysis_s": "s", "plans.optimizer_s": "s", "plans.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.scheduler_delay_s": "s",
    "exec.scan_bytes": "bytes", "exec.scan_rows": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_s": "s", "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes", "exec.output_rows": "count",
    "exec.core_busy_ratio": "ratio",
    **{f"table.{k}_s": "s" for k in ("insert", "delete", "update", "merge",
                                     "point_select", "range_select", "agg_select",
                                     "compact", "expire")},
    "table.files_scanned_per_select": "count",
    "table.rows_scanned_per_row_returned": "ratio",
    "table.write_amp": "ratio", "table.bytes_per_live_row": "bytes",
    "table.live_files": "count", "table.versions": "count",
    "stream.batches": "count", "stream.batch_s": "s", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
    "stream.state_commit_s": "s", "stream.state_rows": "count",
    "stream.state_bytes": "bytes", "stream.rows_per_s": "1/s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "jvm.code_cache_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def _lat(o):
    return (o["end_ms"] - o["start_ms"]) / 1e3


def _tsum(ops, key):
    return sum((o["trace"] or {}).get(key, 0) for o in ops)


def per_op(done):
    """Build / job / driver-gap split of every traced op."""
    out = []
    for o in done:
        t = o.get("trace")
        if not t:
            continue
        job_s = stats.union_length(t["jobs"], o["start_ms"], o["end_ms"]) / 1e3
        out.append({"id": o["id"], "label": o["label"], "latency_s": _lat(o),
                    "build_s": o["build_s"], "exec_s": o["exec_s"], "job_s": job_s,
                    "driver_gap_s": stats.driver_gap_s(o), "jobs": len(t["jobs"]),
                    "tasks": t["tasks"]})
    return out


def per_layer(workload, done, drains, res, replay, traced_walls, overhead_ratio):
    """`done`: the ops of the timed passes; `drains`: the stream drains
    of table_rw's drain pass."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    setup = res["setup"]
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["session.load_s"] = setup["load_s"]
    ops = [o for o in done if o.get("trace") and o["ok"]]
    drains = [o for o in drains if o.get("trace") and o["ok"]]
    n_passes = max(1, len({o["pass"] for o in ops}))

    if workload == "mr_kernel":
        for entry in ("run", "run_combined", "run_sorted", "start_job"):
            for g in wl.REGIMES:
                m[f"mr.{entry}.{g}_s"] = stats.median(
                    _lat(o) for o in ops
                    if wl.MR_ENTRY[o["label"]] == entry and o["regime"] == g)
        m["mr.get_job_state_s"] = stats.mean(p for o in ops for p in o["polls"])
        for g in wl.REGIMES:
            reg = [o for o in ops if o["regime"] == g]
            # Input bytes: the parquet each op reads, as stored (the scan's
            # bytesRead metric undercounts local parquet reads).
            stored = sum(os.path.getsize(os.path.join(
                o["arg"], "events.parquet" if o["label"] in wl.MR_EVENT_OPS
                else "documents.parquet")) for o in reg)
            m[f"mr.shuffle_bytes_per_input_byte.{g}"] = (
                _tsum(reg, "shuffle_write_bytes") / max(1, stored))
            m[f"mr.shuffle_records_per_input_record.{g}"] = (
                _tsum(reg, "shuffle_write_rows") / max(1, _tsum(reg, "scan_rows")))
        m["mr.spill_bytes"] = _tsum(ops, "spill_bytes") / n_passes

    queries = [o for o in ops + drains if o["kind"] in ("query", "startjob")]
    if queries:
        m["queries.build_s"] = stats.median(o["build_s"] for o in queries)
        m["queries.exec_s"] = stats.median(o["exec_s"] for o in queries)
        m["queries.driver_gap_s"] = stats.median(stats.driver_gap_s(o) for o in queries)
    dc = [o for o in ops if o["label"] == "dedup_clusters"]
    if dc:
        m["queries.dedup_clusters.build_s"] = stats.median(o["build_s"] for o in dc)
        m["queries.dedup_clusters.job_s"] = stats.median(
            stats.union_length(o["trace"]["jobs"], o["start_ms"], o["end_ms"]) / 1e3
            for o in dc)
        m["queries.dedup_clusters.driver_gap_s"] = stats.median(
            stats.driver_gap_s(o) for o in dc)

    if ops:
        m["plans.analysis_s"] = stats.mean(o["trace"]["analysis_ms"] / 1e3 for o in ops)
        m["plans.optimizer_s"] = stats.mean(o["trace"]["optimizer_ms"] / 1e3 for o in ops)
        m["plans.planning_s"] = stats.mean(o["trace"]["planning_ms"] / 1e3 for o in ops)

    per_pass = {"exec.jobs": sum(len(o["trace"]["jobs"]) for o in ops),
                "exec.stages": _tsum(ops, "stages"), "exec.tasks": _tsum(ops, "tasks"),
                "exec.job_s": sum(stats.union_length(o["trace"]["jobs"], o["start_ms"],
                                                     o["end_ms"]) for o in ops) / 1e3,
                "exec.task_run_s": _tsum(ops, "task_run_ms") / 1e3,
                "exec.task_cpu_s": _tsum(ops, "task_cpu_ns") / 1e9,
                "exec.gc_s": _tsum(ops, "gc_ms") / 1e3,
                "exec.scheduler_delay_s": _tsum(ops, "sched_delay_ms") / 1e3,
                "exec.scan_bytes": _tsum(ops, "scan_bytes"),
                "exec.scan_rows": _tsum(ops, "scan_rows"),
                "exec.shuffle_write_bytes": _tsum(ops, "shuffle_write_bytes"),
                "exec.shuffle_read_bytes": _tsum(ops, "shuffle_read_bytes"),
                "exec.shuffle_fetch_wait_s": _tsum(ops, "fetch_wait_ms") / 1e3,
                "exec.spill_bytes": _tsum(ops, "spill_bytes"),
                "exec.output_bytes": _tsum(ops, "output_bytes"),
                "exec.output_rows": _tsum(ops, "output_rows")}
    for k, v in per_pass.items():
        m[k] = v / n_passes
    if traced_walls:
        m["exec.core_busy_ratio"] = (per_pass["exec.task_run_s"] /
                                     (sum(traced_walls) * res["cores"]))

    if workload == "table_rw":
        for kind in ("insert", "delete", "update", "merge", "point_select",
                     "range_select", "agg_select", "compact", "expire"):
            m[f"table.{kind}_s"] = stats.median(_lat(o) for o in ops if o["label"] == kind)
        sel = [o for o in ops if o["label"].endswith("_select")]
        m["table.files_scanned_per_select"] = stats.mean(
            o["trace"]["plan_scan_files"] for o in sel)
        m["table.rows_scanned_per_row_returned"] = (
            _tsum(sel, "plan_scan_rows") / max(1, sum(max(0, o["rows"]) for o in sel)))
        t = res.get("table") or {}
        live_rows = replay.get("live_rows", 0)
        bpr = t.get("live_bytes", 0) / max(1, live_rows)
        m["table.bytes_per_live_row"] = bpr
        writes = [o for o in done if o["ok"] and o["label"] in
                  ("insert", "delete", "update", "merge")]
        # Bytes written by every write statement of the run per user
        # byte changed (rows the DuckDB replay reports changed, at the
        # table's bytes per live row).
        m["table.write_amp"] = (
            sum((o["trace"] or {}).get("output_bytes", 0) for o in writes) /
            max(1.0, replay.get("changed_rows", 0) * bpr)) if any(
                o.get("trace") for o in writes) else 0.0
        m["table.live_files"] = t.get("live_files", 0)
        m["table.versions"] = t.get("versions", 0)

    batches = _tsum(drains, "batches")
    if batches:
        m["stream.batches"] = batches
        m["stream.batch_s"] = _tsum(drains, "batch_ms") / batches / 1e3
        m["stream.add_batch_s"] = _tsum(drains, "add_batch_ms") / batches / 1e3
        m["stream.query_planning_s"] = _tsum(drains, "query_planning_ms") / batches / 1e3
        m["stream.wal_commit_s"] = _tsum(drains, "wal_ms") / batches / 1e3
        m["stream.state_commit_s"] = _tsum(drains, "state_commit_ms") / batches / 1e3
        m["stream.state_rows"] = max(o["trace"]["state_rows"] for o in drains)
        m["stream.state_bytes"] = max(o["trace"]["state_bytes"] for o in drains)
        m["stream.rows_per_s"] = _tsum(drains, "input_rows") / max(
            1e-9, _tsum(drains, "batch_ms") / 1e3)

    jvm = res["jvm"]
    m["jvm.gc_s"] = jvm["gc_s"]
    m["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]
    m["jvm.code_cache_mb"] = jvm["code_cache_mb"]
    m["trace.overhead_ratio"] = overhead_ratio
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}
