"""Per-job/per-stage profile of one registry query (guide §1: measure
first). Runs the query at $SPARK_GRAFT_SF_DIR with the event log on,
then parses the log to attribute wall-clock to jobs and stages —
the local[N] stand-in for the Spark UI's stage page.

Each timed run also reports its Janino compiles (count and compile
time), read from the JVM's codegen counters around the run: after the
warm-up every generated class should be a cache hit, so a timed run that
still compiles names a plan whose generated source changes between runs.

Both the sf0.001 warm-up pass and the timed run fetch the full result
(`toArrow()`, as perfbench does): `count()` lets the optimizer prune
work that feeds only projected columns, scalar subqueries included, so
it times a different plan than a consumer runs.

Usage: python tools/profile_query.py <query> [more queries...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default all cores)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

EVDIR = "/tmp/spark-events-profile"


def get_profiling_spark():
    """The bench's own session (`session.get_spark`, so every planner conf
    matches, e.g. `spark.sql.join.preferSortMergeJoin=false`) plus only
    the event-log confs. Those go in through PYSPARK_SUBMIT_ARGS, which
    the JVM reads at launch, the same way perfbench/run.py traces; hence
    this must run before anything in the process starts Spark."""
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DEDUP_HASH", "xxhash64")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{EVDIR}",
            # plain text, so report() needs no zstd decoder to read it back
            "--conf spark.eventLog.compress=false",
            "pyspark-shell",
        ]
    )
    from automated_agro_climatic_data_warehouse_spark.session import get_spark

    spark = get_spark("profile")
    if spark.sparkContext.getConf().get("spark.eventLog.enabled", "false") != "true":
        raise RuntimeError(
            "a Spark JVM was already running; the event-log confs did not apply"
        )
    return spark


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n.getCount(), ns / 1e6


def profile(names: list[str]) -> None:
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.session import (
        drop_checkpoint_blocks,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_profiling_spark()
    warm_dir = "/root/testdata/sf0.001"
    compiles: dict[str, tuple[int, float]] = {}
    for name in names:
        QUERIES[name].spark_fn(spark, warm_dir).toArrow()
        drop_checkpoint_blocks(spark)
        # a job group, not a description: materialize() appends its own
        # name to the description of every checkpoint job it runs
        spark.sparkContext.setJobGroup(f"TIMED::{name}", f"TIMED::{name}")
        c0, ms0 = codegen_counters(spark)
        t0 = time.time()
        n = QUERIES[name].spark_fn(spark, sf_dir).toArrow().num_rows
        wall = time.time() - t0
        c1, ms1 = codegen_counters(spark)
        compiles[name] = (c1 - c0, ms1 - ms0)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setJobDescription(None)
        drop_checkpoint_blocks(spark)
        print(f"\n=== {name}: {n} rows, wall {wall:.2f}s ===")
    spark.stop()
    time.sleep(1.0)
    report(names, compiles)


def report(names: list[str], compiles: dict[str, tuple[int, float]]) -> None:
    logs = glob.glob(EVDIR + "/*")
    assert logs, "no event log written"
    path = max(logs, key=os.path.getmtime)
    if os.path.isdir(path):
        inner = [p for p in glob.glob(path + "/*") if "events" in os.path.basename(p)]
        assert inner, f"no events file under {path}"
        path = max(inner, key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    if path.endswith(".zstd"):
        import io
        import subprocess

        raw_bytes = subprocess.run(
            ["zstd", "-dc", path], capture_output=True, check=True
        ).stdout
        fh_ctx = io.StringIO(raw_bytes.decode("utf-8", "replace"))
    else:
        fh_ctx = open(path)
    with fh_ctx as fh:
        for raw in fh:
            try:
                ev = json.loads(raw)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties", {})
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "desc": props.get("spark.job.description", ""),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                t0 = si.get("Submission Time")
                t1 = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "ms": (t1 - t0) if (t0 and t1) else 0,
                    "tasks": si.get("Number of Tasks", 0),
                }
    for name in names:
        tagged = [j for j in jobs.values() if j["group"] == f"TIMED::{name}"]
        total_ms = sum(j.get("t1", j["t0"]) - j["t0"] for j in tagged)
        n_cls, cms = compiles[name]
        print(
            f"\n##### {name}: {len(tagged)} jobs, {total_ms/1000:.2f}s in jobs, "
            f"{n_cls} classes compiled in {cms:.0f} ms"
        )
        for j in sorted(tagged, key=lambda j: j["t0"]):
            dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            sts = [
                (stages[s]["ms"], stages[s]["tasks"], stages[s]["name"])
                for s in j["stages"]
                if s in stages
            ]
            sts.sort(reverse=True)
            head = "; ".join(
                f"{ms}ms/{tk}t {nm.split(' at ')[0][:60]}" for ms, tk, nm in sts[:4]
            )
            print(f"  job {dur:6.2f}s  {j['desc']}  [{head}]")


if __name__ == "__main__":
    qnames = [a for a in sys.argv[1:] if not a.startswith("-")]
    profile(qnames)
