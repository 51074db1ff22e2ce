"""SparkSession factory.

One place to pin every config that matters for correctness parity with the
DuckDB oracle (UTC session timezone, Arrow) and for local[N] throughput
(AQE, shuffle partitions sized to cores, not the 200 default).

At cluster scale the same builder works — only master/memory change; the
partitioning knobs (`spark.sql.shuffle.partitions`) should then be set to
~2-3x total cores or left to AQE coalescing.

Rule: the codegen cache holds the engine's working set. Spark compiles
each whole-stage-codegen pipeline and generated projection with Janino
and caches the class by its source, in `spark.sql.codegen.cache.maxEntries`
entries (default 100). The engine compiles far more distinct classes
than that, so at the default every warm query recompiled what it had
compiled one pass earlier and the JVM JIT-compiled the fresh classes
again. Measured on 4 cores (compiles = CodegenMetrics'
compilation-time count), default → 4096 entries with stage-free class
names:
  - the 203 bench.py headline queries at sf0.001, full fetch: 5,503 →
    2,888 classes compiled in the first pass, 5,500 → 56 in the second;
    driver Metaspace after the two passes 185 → 208 MB, +23 MB to hold
    the ~2,900 classes;
  - perfbench olap_sf0.1: 6-28 classes per warm pass → 0 from the
    first warm pass on (90 classes in all);
  - perfbench ingest_sf0.01: 127-140 per warm pass → 3 in the first
    warm pass, then 0 (129 classes).
4096 is the smallest power of two above the headline set with stage ids
in class names (3,502 classes, 179 recompiled in the second pass).
`spark.sql.codegen.useIdInClassName=false` drops the codegen stage id
from generated class names, so one pipeline planned at another stage
position (after an adaptive re-plan, or in another query) is the same
source and the same cached class; the cost is that a class name in a
JVM profile no longer names its stage. What still compiles in a warm
pass is a plan that run-time choices changed: adaptive execution picks
a broadcast join's build side (and with it a unique-key or a multi-row
hash lookup) or a sort-merge join from measured shuffle sizes, which
vary slightly between runs, e.g. the connected-components join of
adjacency and labels, whose sides are of similar size (graph_*, the
dedup gate); and Spark's split aggregate methods list their parameters
in an order that varies between runs (ts_winnowing_fingerprint). Each
such variant compiles once and then stays cached.

Rule: writing a local file starts no child process. Without the native
Hadoop library (pyspark ships none, so `NativeIO.isAvailable()` is
false), Hadoop's local file system runs `chmod` for every file and directory it
creates with a permission and `readlink` for every link-status lookup,
which FileContext does on each rename of a streaming checkpoint file.
Two warm perfbench ingest_sf0.01 passes (8 ops, 4 cores) started 938
children, 762 `chmod` and 176 `readlink`: 598 from the two star-schema
writes (299 per `write_warehouse`, most of them for `fact_weather`'s ~80
part files, their `.crc` files and the `_temporary` directories), 306
from the upsert and dedup drains' checkpoints (`offsets`, `commits`,
`sources`, `metadata`) and commit subdirs, and 34 from the MV refresh
and its audit flush. One `chmod` through Hadoop's `Shell` costs ~2-2.5
ms of wall time, and reaping the children cost the JVM 213-347 ms of
CPU per ingest op. `jvm/NioLocalFileSystem.java` (built into
`jvm/nio-local-fs.jar` by tools/build_jvm.py) is Hadoop's
`LocalFileSystem` over a raw layer that sets the same mode bits with
`java.nio` and calls `readlink` only for a path that is a symlink; its
`Fs` is Hadoop's `LocalFs` over the same layer. Both keep the `.crc`
checksums, and `Fs` keeps Spark's FileContext checkpoint manager with
its create-if-absent rename. `get_spark` binds `fs.file.impl` and
`fs.AbstractFileSystem.file.impl` to them and puts the jar on the
driver classpath; when the JVM is up before `get_spark` (a session built
without it and stopped, or spark-submit), the JVM was launched without
the jar, so `get_spark` adds it to the JVM's context class loader,
through which the new context's Hadoop conf loads the binding. Rejected:
  - Spark's FileSystem-based checkpoint manager
    (`spark.sql.streaming.checkpointFileManagerClass`): it checks the
    destination first and renames second, which is weaker than
    FileContext's atomic create-if-absent rename.
  - plain `RawLocalFileSystem` for `file:`: it drops the checksums and
    still forks `chmod`; it showed no gain in 3 pairs.
The binding covers only `file:` (HDFS, S3 and every other scheme keep
their own implementations). Files and directories keep their modes
(0644 and 0755 under umask 022) and no plan or output byte changes.
"""

from __future__ import annotations

import logging
import os
import time
import warnings
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

# file: binding that creates local files with no child process (module
# docstring); built by tools/build_jvm.py from jvm/NioLocalFileSystem.java
_LOCAL_FS_JAR = Path(__file__).parent / "jvm" / "nio-local-fs.jar"
_LOCAL_FS = "agrospark.NioLocalFileSystem"


def get_spark(app_name: str = "agro_dwh_spark") -> SparkSession:
    """Build (or reuse) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores)
    and ``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default: half of
    physical memory).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    half_mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores for local mode; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{half_mem_mb}m"),
        )
        # UTC so timestamp values hash identically to DuckDB's naive-UTC
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its size conditions
        # fit (guide-standard batch-ETL baseline): SHJ skips the sort on
        # both sides, and the planner still falls back to sort-merge when
        # no side can build a local hash map, so the setting is
        # scale-safe. Interleaved best-of-3 A/B at sf0.1 on the 10
        # heaviest join-shaped queries: -14% total (pagerank -32%,
        # modularity -33%, ivfpq -25%), no confirmed regression.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Static conf: hold the engine's whole generated-class working
        # set, and name classes without their stage id so one pipeline
        # is one class wherever it is planned (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Static confs: file: through the FileSystem and the FileContext
        # API sets permissions in process (module docstring).
        .config("spark.driver.extraClassPath", str(_LOCAL_FS_JAR))
        .config("spark.hadoop.fs.file.impl", _LOCAL_FS)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", f"{_LOCAL_FS}$Fs")
        # bucketed managed tables (warehouse.write_bucketed) land here;
        # session-scoped in-memory catalog, parquet files on disk
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    if SparkContext._jvm is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        # The JVM is up already (a session built without get_spark and
        # stopped, or spark-submit) and was launched without the jar: put
        # it on the loader the new context's Hadoop conf resolves classes by.
        SparkContext._ensure_initialized()
        jvm = SparkContext._jvm
        loader = jvm.Thread.currentThread().getContextClassLoader()
        loader.addURL(jvm.java.io.File(str(_LOCAL_FS_JAR)).toURI().toURL())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: str | StructType
) -> DataFrame:
    """DataFrame over driver-local `rows` (tuples in `schema` field order;
    `schema` is a DDL string or a StructType).

    Rule: driver-local rows are built with Arrow, never as pickled RDDs.
    `createDataFrame(<python list>)` goes through `sc.parallelize` and a
    pickled PythonRDD, so every job over the frame pays a Python-worker
    round trip; an Arrow table lands in the JVM as a local relation
    (LocalTableScan) that executes without one. Measured on the one-row
    audit flush (4 cores): 0.87-1.25 s through the list path, 0.18-0.28 s
    through Arrow, same schema and rows read back. Naive datetimes are
    read as UTC, the session timezone `get_spark` pins."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def drop_checkpoint_blocks(spark: SparkSession) -> None:
    """Free all persisted RDD blocks. Loops free the checkpoints they
    replace (`iterate`) and their own loop-invariant checkpoints, but the
    checkpoints a query's returned frame reads stay until driver GC lets
    Spark's ContextCleaner drop them. Timing harnesses (bench.py,
    tools/scale_probe.py) call this between queries: left in place,
    accumulated blocks add GC/eviction pressure measured to inflate later
    timings 2-5x."""
    jsc = spark.sparkContext._jsc
    for rdd_id in list(jsc.getPersistentRDDs().keySet()):
        jsc.sc().unpersistRDD(rdd_id, True)


def materialize(df: DataFrame, name: str, *probes: Column):
    """Eager local checkpoint of `df`; its jobs are described `name`,
    after the caller's description (restored afterwards).

    Rule: every eager checkpoint goes through here, and a scalar read
    right after a checkpoint is a probe, not a collect. `probes` (named
    aggregate columns) ride the checkpoint job as one `Observation`, so
    they cost no job of their own (statistics as a by-product of a
    materialization already paid for, Shark SIGMOD 2013); over an empty
    frame they read NULL for sum/max/min and 0 for count. Returns the
    frame, or `(frame, {probe name: value})` when probes are given."""
    sc = df.sparkSession.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{outer} > {name}" if outer else name)
    try:
        if not probes:
            return df.localCheckpoint(eager=True)
        obs = Observation()
        return df.observe(obs, *probes).localCheckpoint(eager=True), obs.get
    finally:
        sc.setLocalProperty("spark.job.description", outer)


def checkpoint_id(df: DataFrame) -> int | None:
    """The id of the persisted RDD that `df` is a checkpoint of (its
    analyzed plan is a `LogicalRDD` over a persisted RDD), else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        return None
    rdd_id = plan.rdd().id()
    persisted = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    return rdd_id if persisted.containsKey(rdd_id) else None


def release(*frames: DataFrame) -> None:
    """Unpersist each checkpoint frame's RDD without blocking; a frame
    that is not a checkpoint is left alone. Release only what no frame
    still in use reads: reading a released checkpoint fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (it never returns wrong rows)."""
    for df in frames:
        rdd_id = checkpoint_id(df)
        if rdd_id is not None:
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    name: str,
    rounds: int,
    *,
    until: Column | None = None,
    final_only: bool = False,
) -> DataFrame:
    """Run `state = step(state)` for up to `rounds` rounds, checkpointing
    through `materialize(.., name)`; returns the last state.

    Rule: every engine loop that checkpoints runs here, so its cadence,
    stop, record and release are decided once (iteration as one operator
    the analytics build on, "Building Advanced SQL Analytics From
    Low-Level Plan Operators", SIGMOD 2021).
      - Cadence: every round by default, which truncates the lineage a
        step joins against its own earlier output. `final_only=True`
        checkpoints only the last round: when each round has a single
        consumer, the deeper lineage re-executes nothing and each
        checkpoint is one more job barrier. Measured at sf0.1, every
        round → final only: pagerank_loop k=10 7.6 → 4.1 s (every 5th
        round 4.9 s), katz_loop k=4 3.2 → 2.6 s, the power-iteration
        eigensolve 2.25 → 1.58 s.
      - Fixpoint: `until` is an aggregate probe. When given, the initial
        state is checkpointed with it too, and the loop stops once a
        round's value equals the previous one; running out of rounds
        first warns "unconverged".
      - Record: one INFO log record whose `iterate` attribute holds the
        name, the rounds run, whether `until` was met (None without it)
        and per checkpoint its wall seconds since the previous one, its
        row count and `until` value: probes of the checkpoint job.
      - Release: each checkpoint made here is released once the next
        exists. The `state` passed in may be the caller's and is never
        released, nor are the loop invariants the step reads."""
    record = {"name": name, "rounds": 0, "converged": None, "checkpoints": []}
    probes = [F.count(F.lit(1)).alias("rows")]
    if until is not None:
        probes.append(until.alias("until"))
    owned, start = None, time.perf_counter()

    def checkpoint(df: DataFrame):
        nonlocal owned, start
        out, got = materialize(df, name, *probes)
        now = time.perf_counter()
        record["checkpoints"].append({"seconds": round(now - start, 3), **got})
        if owned is not None:
            release(owned)
        owned, start = out, now
        return out, got.get("until")

    if until is not None:
        state, prev = checkpoint(state)
    for r in range(1, rounds + 1):
        state = step(state)
        record["rounds"] = r
        if final_only and r < rounds:
            continue
        state, value = checkpoint(state)
        if until is not None and value == prev:
            record["converged"] = True
            break
        prev = value
    else:
        if until is not None:
            record["converged"] = False
            warnings.warn(
                f"{name} used all {rounds} rounds before the fixpoint; "
                "the returned state is unconverged",
                stacklevel=3,
            )
    log.info(
        "%s: %d rounds, converged %s", name, record["rounds"],
        record["converged"], extra={"iterate": record},
    )
    return state
