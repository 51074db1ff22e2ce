"""Layer tracing for the ``--trace 1`` run.

Spans are recorded from the benchmark's own files around each call into
an engine layer, with the op id as parent; nothing inside the engine is
touched. Job, stage and task facts come from Spark itself: jobs through
the job group put on each op, stages, tasks and bytes from the
uncompressed event log, Catalyst phase times from the op's
``QueryExecution``, and GC / JIT / heap from the JVM's MXBeans.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class NullTracer:
    """Tracing off: every hook is a no-op."""

    def span(self, name, op_id):
        return nullcontext()

    def catalyst(self, df, op_id):
        pass

    def op_begin(self, op_id, name):
        pass

    def op_end(self, op_id):
        pass


class Tracer:
    """Spans, Catalyst phase times and job-group job counts per op."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, str, float, float]] = []  # name, op, t0, t1
        self.catalyst_ms: dict[str, dict[str, float]] = {}
        self.build_jobs: dict[str, int] = {}
        self.ops = 0
        self.overhead_s = 0.0  # time spent inside the tracer's own calls

    @contextmanager
    def span(self, name, op_id):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append((name, op_id, t0, t1))
            if name == "plans.build":
                h0 = time.perf_counter()
                self.build_jobs[op_id] = len(self._group_jobs(op_id))
                self.overhead_s += time.perf_counter() - h0

    def _group_jobs(self, op_id):
        return list(self.sc.statusTracker().getJobIdsForGroup(op_id))

    def catalyst(self, df, op_id):
        """Force analysis, optimization and planning before the fetch, so
        the action span holds execution only; read the phase times."""
        with self.span("catalyst", op_id):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        h0 = time.perf_counter()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.catalyst_ms[op_id] = out
        self.overhead_s += time.perf_counter() - h0

    def op_begin(self, op_id, name):
        h0 = time.perf_counter()
        self.sc.setJobGroup(op_id, name)
        self.overhead_s += time.perf_counter() - h0

    def op_end(self, op_id):
        # jobs launched between ops (block drops, checks) join no op
        h0 = time.perf_counter()
        self.ops += 1
        self.sc.setJobGroup("perfbench-idle", "between ops")
        self.overhead_s += time.perf_counter() - h0

    def span_seconds(self, name, op_ids) -> list[float]:
        ops = set(op_ids)
        return [t1 - t0 for n, op, t0, t1 in self.spans if n == name and op in ops]


def jvm_counters(spark) -> dict[str, float]:
    """GC time, JIT compile time and committed heap from the MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "gc_ms": float(gc_ms),
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "heap_committed_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        / 2**20,
    }


def streaming_listener(spark):
    """Register a listener that keeps every micro-batch progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            # the trigger's own start time, so late delivery cannot move
            # a batch into the next op
            started = dt.datetime.fromisoformat(
                event.progress.timestamp.replace("Z", "+00:00")
            ).timestamp()
            self.batches.append((started, dict(event.progress.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from the uncompressed JSON event log.

    Returns ``{"jobs": {id: {"group", "submitted_ms", "stages"}},
    "stages_done": {stage_id: n_tasks}, "tasks": {stage_id: [metrics]}}``.
    """
    jobs: dict[int, dict] = {}
    stages_done: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    # Spark 4 rolls the log: one eventlog_v2_<app> dir of events_<n>_* files
    paths = sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submitted_ms": ev.get("Submission Time", 0),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages_done[info["Stage ID"]] = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    tasks[ev["Stage ID"]].append(
                        {
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "output": out.get("Bytes Written", 0),
                        }
                    )
    return {"jobs": jobs, "stages_done": stages_done, "tasks": tasks}


def op_exec_stats(log: dict, op_ids: list[str]) -> dict[str, float]:
    """Sum stages, tasks and task metrics over the jobs of ``op_ids``.

    A stage id shared by several jobs (a reused shuffle) counts once; a
    skipped stage never completes and does not count."""
    ops = set(op_ids)
    seen: set[int] = set()
    acc = defaultdict(float)
    for job in log["jobs"].values():
        if job["group"] not in ops:
            continue
        acc["jobs"] += 1
        for sid in job["stages"]:
            if sid in seen or sid not in log["stages_done"]:
                continue
            seen.add(sid)
            acc["stages"] += 1
            for t in log["tasks"].get(sid, ()):
                acc["tasks"] += 1
                for k, v in t.items():
                    acc[k] += v
    return dict(acc)
