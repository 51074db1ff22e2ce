"""Per-layer metrics of one traced run, named by engine module.

Each value is taken over the measured window's ops (warm-up excluded).
A layer a workload never calls reports 0 (for example ``streaming.*`` on
the query workloads).
"""

from __future__ import annotations

import os
import statistics

import tracing

MB = 2**20


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _attribute_jobs(log: dict, window) -> None:
    """Give jobs launched outside the op's job group (streaming micro-batch
    threads) to the op whose wall-clock window holds their submission."""
    ops = {op.op_id for op in window}
    for job in log["jobs"].values():
        if job["group"] in ops:
            continue
        t = job["submitted_ms"] / 1000.0
        for op in window:
            if op.t0 <= t <= op.t1:
                job["group"] = op.op_id
                break


def _jobs_repeat(log: dict, window) -> float:
    """1.0 when every op name launched the same number of jobs in every
    measured pass, else 0.0."""
    counts: dict[str, set[int]] = {}
    per_group: dict[str, int] = {}
    for job in log["jobs"].values():
        per_group[job["group"]] = per_group.get(job["group"], 0) + 1
    for op in window:
        counts.setdefault(op.name, set()).add(per_group.get(op.op_id, 0))
    return float(all(len(v) == 1 for v in counts.values()))


def _streaming(listener, window) -> dict[str, float]:
    drains = [op for op in window if op.name.endswith("_drain")]
    batches = []
    for op in drains:
        mine = [d for t, d in listener.batches if op.t0 <= t <= op.t1]
        batches.append(mine)
    flat = [d for b in batches for d in b]

    def dur(key):
        return _mean(d.get(key, 0) for d in flat)

    return {
        "n_batches": float(len(flat)),
        "batches_per_drain": _mean(len(b) for b in batches),
        "add_batch_ms": dur("addBatch"),
        "trigger_ms": dur("triggerExecution"),
        "wal_commit_ms": dur("walCommit"),
        "commit_offsets_ms": dur("commitOffsets"),
        "query_planning_ms": dur("queryPlanning"),
    }


def _files_and_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def per_layer(wl, tracer, listener, window, run_dir, ctx) -> dict[str, tuple]:
    n = len(window)
    ids = [op.op_id for op in window]
    wall = sum(op.wall for op in window)
    log = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
    _attribute_jobs(log, window)
    ex = tracing.op_exec_stats(log, ids)
    jobs = ex.get("jobs", 0.0)

    build = tracer.span_seconds("plans.build", ids)
    built = [op.op_id for op in window if op.op_id in tracer.build_jobs]
    cat = [tracer.catalyst_ms[i] for i in ids if i in tracer.catalyst_ms]
    action = tracer.span_seconds("exec.action", ids)
    cpu, hwm = ctx["cpu"], ctx["hwm"]
    j0, j1 = ctx["jvm0"], ctx["jvm1"]

    drain_jobs = 0.0
    stream = {"n_batches": 0.0}
    if any(op.name.endswith("_drain") for op in window):
        stream = _streaming(listener, window)
        drain_jobs = tracing.op_exec_stats(
            log, [op.op_id for op in window if op.name.endswith("_drain")]
        ).get("jobs", 0.0)
    wh_dir = wl.last_dirs.get("write_warehouse") if hasattr(wl, "last_dirs") else None
    wh_files, wh_bytes = _files_and_bytes(wh_dir) if wh_dir else (0, 0)

    def span_mean(name):
        return _mean(tracer.span_seconds(name, ids))

    traced_walls = [op.wall for op in window]
    m = {
        "session.get_spark_s": (ctx["get_spark_s"], "s"),
        "sources.load_tables_s": (ctx["load_tables_s"], "s"),
        "plans.build_s_per_op": (_mean(build), "s"),
        "plans.build_share": (
            sum(build) / sum(op.wall for op in window if op.op_id in tracer.build_jobs)
            if build else 0.0,
            "share",
        ),
        "plans.build_jobs_per_op": (_mean(tracer.build_jobs[i] for i in built), "count"),
        "catalyst.analysis_ms_per_op": (_mean(c["analysis"] for c in cat), "ms"),
        "catalyst.optimization_ms_per_op": (_mean(c["optimization"] for c in cat), "ms"),
        "catalyst.planning_ms_per_op": (_mean(c["planning"] for c in cat), "ms"),
        "exec.action_s_per_op": (_mean(action), "s"),
        "exec.jobs_per_op": (jobs / n, "count"),
        "exec.jobs_repeat": (_jobs_repeat(log, window), "bool"),
        "exec.stages_per_op": (ex.get("stages", 0.0) / n, "count"),
        "exec.tasks_per_op": (ex.get("tasks", 0.0) / n, "count"),
        "exec.ms_per_job": (1000.0 * wall / jobs if jobs else 0.0, "ms"),
        "exec.task_run_s_per_op": (ex.get("run_ms", 0.0) / 1000.0 / n, "s"),
        "exec.task_cpu_s_per_op": (ex.get("cpu_ns", 0.0) / 1e9 / n, "s"),
        "exec.task_gc_s_per_op": (ex.get("gc_ms", 0.0) / 1000.0 / n, "s"),
        "exec.core_busy_share": (ex.get("run_ms", 0.0) / 1000.0 / (wall * ctx["cores"]), "share"),
        "exec.shuffle_write_mb_per_op": (ex.get("shuffle_write", 0.0) / MB / n, "MB"),
        "exec.shuffle_read_mb_per_op": (ex.get("shuffle_read", 0.0) / MB / n, "MB"),
        "exec.spill_mb_per_op": (ex.get("spill", 0.0) / MB / n, "MB"),
        "exec.output_mb_per_op": (ex.get("output", 0.0) / MB / n, "MB"),
        "driver.python_cpu_ms_per_op": (cpu["python"] / n, "ms"),
        "driver.jvm_cpu_ms_per_op": (cpu["jvm"] / n, "ms"),
        "driver.worker_cpu_ms_per_op": (cpu["worker"] / n, "ms"),
        "jvm.gc_ms_per_op": ((j1["gc_ms"] - j0["gc_ms"]) / n, "ms"),
        "jvm.jit_ms_in_window": (j1["jit_ms"] - j0["jit_ms"], "ms"),
        "jvm.heap_committed_mb": (j1["heap_committed_mb"], "MB"),
        "rss.jvm_peak_mb": (hwm["jvm"], "MB"),
        "rss.python_peak_mb": (hwm["python"], "MB"),
        "rss.workers_peak_mb": (hwm["worker"], "MB"),
        "streaming.batches_per_drain": (stream.get("batches_per_drain", 0.0), "count"),
        "streaming.add_batch_ms": (stream.get("add_batch_ms", 0.0), "ms"),
        "streaming.trigger_ms": (stream.get("trigger_ms", 0.0), "ms"),
        "streaming.wal_commit_ms": (stream.get("wal_commit_ms", 0.0), "ms"),
        "streaming.commit_offsets_ms": (stream.get("commit_offsets_ms", 0.0), "ms"),
        "streaming.query_planning_ms": (stream.get("query_planning_ms", 0.0), "ms"),
        "streaming.jobs_per_batch": (
            drain_jobs / stream["n_batches"] if stream["n_batches"] else 0.0, "count"
        ),
        "streaming.upsert_drain_s": (span_mean("streaming.upsert_drain"), "s"),
        "streaming.dedup_drain_s": (span_mean("streaming.dedup_drain"), "s"),
        "warehouse.write_s": (span_mean("warehouse.write"), "s"),
        "warehouse.files_written": (float(wh_files), "count"),
        "warehouse.bytes_written_mb": (wh_bytes / MB, "MB"),
        "pipeline.mv_refresh_s": (span_mean("pipeline.mv_refresh"), "s"),
        "pipeline.flush_audit_s": (span_mean("pipeline.flush_audit"), "s"),
        "bytes_written_per_input_byte": (
            (ex.get("output", 0.0) + ex.get("shuffle_write", 0.0) + ex.get("spill", 0.0))
            / ctx["input_bytes"],
            "ratio",
        ),
        "stored_bytes_per_input_byte": (ctx["stored"] / ctx["input_bytes_per_pass"], "ratio"),
        "trace.latency_p50_s": (statistics.median(traced_walls), "s"),
        "latency_tail_s": (ctx["tail_s"], "s"),
        "trace.overhead_ms_per_op": (1000.0 * tracer.overhead_s / tracer.ops, "ms"),
    }
    return m
