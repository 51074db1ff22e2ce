"""The benchmark's workloads: what one op is, and how its result is checked.

A workload stages its inputs from the seed (benchmark-side, before the
engine starts), then runs passes of ops in a seed-shuffled order. Each op
calls one public engine entry point and fetches its full result. Every op
is checked on its row count; once per run, outside the timed window, the
kept results are compared value by value with an independent reference.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

# Reads dominated by in-job data work at sf0.1: scans, joins, aggregates,
# a window, the fan_out GEMM and the 1-row scalar readout. Each takes about
# 1 s warm on 4 cores: with ops of one size, the median and the low tail
# percentile a 15-sample window supports fall inside one cluster of
# latencies instead of on the edge between a fast and a slow group.
OLAP_QUERIES = (
    "q3_shipping_priority",
    "q5_nation_revenue",
    "w11_ewma",
    "ann_brute_topk",
    "dq_zscore_outliers",
)
# Checkpointed iterative chains at sf0.001, where plan build (with its
# eager localCheckpoints) and the per-job floor dominate.
LOOP_QUERIES = (
    "dedup_cc_purge",
    "graph_katz_k4",
    "ev_markov_stationary",
)
INGEST_PHASES = ("upsert_drain", "dedup_drain", "write_warehouse", "mv_refresh")

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string, seq long"
)
DOCS_SCHEMA = "doc_id long, text string"
UPSERT_FILES = 2
# date_dimension(start="1995-01-01", end="2030-12-31") in write_warehouse
DIM_DATE_ROWS = int(
    (np.datetime64("2030-12-31") - np.datetime64("1995-01-01")).astype(int) + 1
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _rows(table: pa.Table) -> list[tuple]:
    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))  # UTC wall time, naive
        cols.append(col.to_pylist())
    return list(zip(*cols))


def _reference(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _same_values(table: pa.Table, ref: tuple[list[str], list[tuple]]) -> str | None:
    """None when ``table`` equals the reference result as a value multiset."""
    from automated_agro_climatic_data_warehouse_spark.oracle import multiset

    ocols, orows = ref
    if sorted(table.column_names) != sorted(ocols):
        return f"columns {sorted(table.column_names)} != {sorted(ocols)}"
    if len(orows) != table.num_rows:
        return f"rows {table.num_rows} != reference {len(orows)}"
    if multiset(_rows(table), table.column_names) != multiset(orows, ocols):
        return "values differ from the reference"
    return None


class Workload:
    """Base: ``stage`` inputs, ``start`` with a session, run ``ops``."""

    name = ""
    sf = 0.0
    # A slow run can stretch one pass past --seconds; a floor on whole
    # passes keeps every run's window the same shape.
    min_window_passes = 2

    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed
        self.data_dir = os.path.join(run_dir, f"sf{self.sf}")
        self.input_bytes = 0
        self.expected: dict[str, int] = {}
        self.spark = None

    def stage(self) -> None:
        self.input_bytes = datagen.write_tables(self.data_dir, self.sf, self.seed)

    def ops(self) -> tuple[str, ...]:
        raise NotImplementedError

    def pass_order(self, rng: random.Random) -> list[str]:
        order = list(self.ops())
        rng.shuffle(order)
        return order

    def start(self, spark) -> None:
        self.spark = spark

    def run_op(self, name: str, op_id: str, tracer) -> int:
        raise NotImplementedError

    def check_rows(self, name: str, rows: int) -> bool:
        """Row count against the reference; ops without one up front are
        pinned to the run's first result and value-checked in verify()."""
        return rows == self.expected.setdefault(name, rows)

    def after_op(self, name: str, op_id: str) -> None:
        """Untimed clean-up between ops."""

    def verify(self) -> list[str]:
        """Value checks against the reference, once per run, untimed."""
        return []

    def stored_bytes(self) -> int:
        return 0


class QueryWorkload(Workload):
    """Each op builds one registered query and fetches it with toArrow()."""

    queries: tuple[str, ...] = ()

    def __init__(self, run_dir: str, seed: int):
        super().__init__(run_dir, seed)
        self.kept: dict[str, pa.Table] = {}
        self._reference: dict[str, tuple[list[str], list[tuple]]] = {}

    def ops(self):
        return self.queries

    def stage(self) -> None:
        from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

        super().stage()
        with duckdb.connect() as con:
            _views(con, self.data_dir)
            for q in self.queries:
                ref = _reference(con, QUERIES[q].oracle.replace("{sf}", self.data_dir))
                self._reference[q] = ref
                self.expected[q] = len(ref[1])

    def run_op(self, name, op_id, tracer):
        from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

        with tracer.span("plans.build", op_id):
            df = QUERIES[name].spark_fn(self.spark, self.data_dir)
        tracer.catalyst(df, op_id)
        with tracer.span("exec.action", op_id):
            table = df.toArrow()
        self.kept[name] = table
        return table.num_rows

    def after_op(self, name, op_id):
        from automated_agro_climatic_data_warehouse_spark.session import (
            drop_checkpoint_blocks,
        )

        drop_checkpoint_blocks(self.spark)

    def verify(self):
        problems = []
        for q in self.queries:
            if q not in self.kept:
                problems.append(f"{q}: no successful op to check")
                continue
            err = _same_values(self.kept[q], self._reference[q])
            if err:
                problems.append(f"{q}: {err}")
        return problems


def _views(con, data_dir: str) -> None:
    from automated_agro_climatic_data_warehouse_spark.sources import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )


class Olap(QueryWorkload):
    name, sf, queries = "olap_sf0.1", 0.1, OLAP_QUERIES
    min_window_passes = 3  # 15 samples: the tail percentile needs 11


class Loops(QueryWorkload):
    name, sf, queries = "loops_sf0.001", 0.001, LOOP_QUERIES


class Ingest(Workload):
    """Writes beside reads: two streaming drains, the warehouse write and
    the pipeline's MV refresh, each a whole phase call per op."""

    name, sf = "ingest_sf0.01", 0.01
    min_window_passes = 1  # a pass takes 13-17 s; two do not fit the run budget

    def __init__(self, run_dir: str, seed: int):
        super().__init__(run_dir, seed)
        self.events_dir = os.path.join(run_dir, "stage", "events")
        self.docs_dir = os.path.join(run_dir, "stage", "docs")
        self.out_dir = os.path.join(run_dir, "out")
        self.warehouse_counts: dict[str, int] | None = None
        self.last_dirs: dict[str, str] = {}
        self.runner = None

    def ops(self):
        return INGEST_PHASES

    def stage(self) -> None:
        super().stage()
        rng = np.random.default_rng([self.seed, 7])
        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        n = events.num_rows
        files = [events]
        # change files after the base snapshot: a seed-chosen fifth of the
        # keys gets new values and a few new keys arrive
        for i in range(1, UPSERT_FILES):
            ids = np.sort(rng.choice(n, n // 5, replace=False))
            ch = events.take(pa.array(ids))
            ch = ch.set_column(
                ch.schema.get_field_index("value"),
                "value",
                pa.array(np.round(rng.exponential(50.0, len(ids)), 2)),
            )
            new = events.slice(0, n // 50)
            new = new.set_column(0, "event_id", pa.array(np.arange(n // 50) + n * i))
            files.append(pa.concat_tables([ch, new]))
        os.makedirs(self.events_dir)
        seq0 = 0
        for i, t in enumerate(files):
            t = t.append_column("seq", pa.array(np.arange(t.num_rows) + seq0))
            seq0 += t.num_rows
            self._write_stage(self.events_dir, i, t)
        # documents: one file in seed-shuffled order, plus lightly edited
        # copies (new ids) of a seed-chosen 5% that the gate must reject
        docs = pq.read_table(
            os.path.join(self.data_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        src = docs.take(pa.array(rng.choice(docs.num_rows, docs.num_rows // 20, replace=False)))
        copies = pa.table(
            {
                "doc_id": pa.array(src["doc_id"].to_numpy() + 1_000_000),
                "text": pa.array([t + " again" for t in src["text"].to_pylist()]),
            }
        )
        corpus = pa.concat_tables([docs, copies])
        os.makedirs(self.docs_dir)
        self._write_stage(
            self.docs_dir, 0, corpus.take(pa.array(rng.permutation(corpus.num_rows)))
        )
        with duckdb.connect() as con:
            keys = con.execute(
                f"SELECT count(DISTINCT event_id) FROM read_parquet('{self.events_dir}/*.parquet')"
            ).fetchone()[0]
            _views(con, self.data_dir)
            self.expected["mv_refresh"] = len(
                con.execute(self._mv_sql()).fetchall()
            )
        self.expected["upsert_drain"] = keys
        self.input_bytes += _dir_bytes(self.events_dir) + _dir_bytes(self.docs_dir)

    @staticmethod
    def _write_stage(dir_: str, i: int, table: pa.Table) -> None:
        path = os.path.join(dir_, f"part-{i:03d}.parquet")
        pq.write_table(table, path)
        # file sources order micro-batches by modification time
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    def start(self, spark):
        from automated_agro_climatic_data_warehouse_spark.pipeline import PipelineRunner

        super().start(spark)
        self.runner = PipelineRunner(spark, os.path.join(self.out_dir, "audit"))

    def _op_dir(self, op_id: str) -> str:
        return os.path.join(self.run_dir, "ops", op_id)

    def run_op(self, name, op_id, tracer):
        return getattr(self, "_" + name)(op_id, tracer)

    def _upsert_drain(self, op_id, tracer):
        from automated_agro_climatic_data_warehouse_spark.streaming.sinks import (
            upsert_sink_drain,
        )

        d = self._op_dir(op_id)
        stream = (
            self.spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.events_dir)
        )
        with tracer.span("streaming.upsert_drain", op_id):
            out = upsert_sink_drain(
                self.spark, stream, f"{d}/target", f"{d}/ckpt",
                keys=["event_id"], order_by=["seq"],
            )
            rows = out.count()
        self.last_dirs["upsert_drain"] = f"{d}/target"
        return rows

    def _dedup_drain(self, op_id, tracer):
        from automated_agro_climatic_data_warehouse_spark.streaming.ingest_dedup import (
            dedup_ingest_drain,
        )

        d = self._op_dir(op_id)
        with tracer.span("streaming.dedup_drain", op_id):
            out = dedup_ingest_drain(
                self.spark, self.docs_dir, DOCS_SCHEMA, f"{d}/accepted", f"{d}/ckpt"
            )
            rows = out.count()
        self.last_dirs["dedup_drain"] = f"{d}/accepted"
        return rows

    def _write_warehouse(self, op_id, tracer):
        from automated_agro_climatic_data_warehouse_spark.warehouse import write_warehouse

        out = os.path.join(self.out_dir, "warehouse")
        with tracer.span("warehouse.write", op_id):
            counts = write_warehouse(self.spark, self.data_dir, out)
        self.last_dirs["write_warehouse"] = out
        if self.warehouse_counts is None:
            self.warehouse_counts = counts
        elif counts != self.warehouse_counts:
            raise RuntimeError(f"warehouse counts moved: {counts}")
        return sum(counts.values())

    def _mv_refresh(self, op_id, tracer):
        from automated_agro_climatic_data_warehouse_spark.pipeline import (
            refresh_materialized_view,
        )
        from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

        path = os.path.join(self.out_dir, "mv_compatibility")

        def sink(df):
            refresh_materialized_view(df, path)
            return self.spark.read.parquet(path).count()

        with tracer.span("pipeline.mv_refresh", op_id):
            rows = self.runner.run_phase(
                "mv_compatibility",
                lambda: QUERIES["mv_compatibility"].spark_fn(self.spark, self.data_dir),
                sink,
            )
        with tracer.span("pipeline.flush_audit", op_id):
            self.runner.flush_audit()
        self.last_dirs["mv_refresh"] = path
        return rows

    def after_op(self, name, op_id):
        from automated_agro_climatic_data_warehouse_spark.session import (
            drop_checkpoint_blocks,
        )

        drop_checkpoint_blocks(self.spark)
        # keep only the newest drain outputs: older op dirs are garbage
        keep = {os.path.dirname(p) for p in self.last_dirs.values()}
        ops_root = os.path.join(self.run_dir, "ops")
        if os.path.isdir(ops_root):
            for entry in os.listdir(ops_root):
                p = os.path.join(ops_root, entry)
                if p not in keep:
                    shutil.rmtree(p, ignore_errors=True)

    def verify(self):
        from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
            minhash_lsh_dedup,
        )
        problems = []
        missing = [p for p in INGEST_PHASES if p not in self.last_dirs]
        if missing:
            return [f"no successful op for {missing}"]
        with duckdb.connect() as con:
            _views(con, self.data_dir)
            # upsert target == last-writer-wins over the staged files
            lww = (
                "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
                "(PARTITION BY event_id ORDER BY seq DESC) rn FROM "
                f"read_parquet('{self.events_dir}/*.parquet')) WHERE rn = 1"
            )
            target = pq.read_table(self.last_dirs["upsert_drain"])
            err = _same_values(target, _reference(con, lww))
            if err:
                problems.append(f"upsert_drain: {err}")
            mv = pq.read_table(self.last_dirs["mv_refresh"])
            err = _same_values(mv, _reference(con, self._mv_sql()))
            if err:
                problems.append(f"mv_refresh: {err}")
            wh = self.warehouse_counts or {}
            if wh.get("dim_date") != DIM_DATE_ROWS:
                problems.append(f"write_warehouse: dim_date {wh.get('dim_date')}")
            for table, n in wh.items():
                on_disk = con.execute(
                    f"SELECT count(*) FROM read_parquet('{self.last_dirs['write_warehouse']}"
                    f"/{table}/**/*.parquet')"
                ).fetchone()[0]
                if on_disk != n:
                    problems.append(f"write_warehouse: {table} {on_disk} != {n}")
        # stream == batch: the accepted corpus is near-dup free, and every
        # rejected document near-duplicates an accepted one
        docs = self.spark.read.schema(DOCS_SCHEMA).parquet(self.docs_dir)
        accepted = set(
            pq.read_table(
                self.last_dirs["dedup_drain"], columns=["doc_id"]
            )["doc_id"].to_pylist()
        )
        everyone = {r.doc_id for r in docs.select("doc_id").collect()}
        dup_of: dict[int, set[int]] = {}
        for p in minhash_lsh_dedup(docs).collect():
            dup_of.setdefault(p.doc_a, set()).add(p.doc_b)
            dup_of.setdefault(p.doc_b, set()).add(p.doc_a)
        if any(dup_of.get(a, set()) & accepted for a in accepted):
            problems.append("dedup_drain: accepted set holds a near-dup pair")
        if any(not (dup_of.get(r, set()) & accepted) for r in everyone - accepted):
            problems.append("dedup_drain: a rejection has no accepted near-dup")
        if len(accepted) == len(everyone):
            problems.append("dedup_drain: the staged near-dups were all accepted")
        return problems

    def _mv_sql(self) -> str:
        from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

        return QUERIES["mv_compatibility"].oracle.replace("{sf}", self.data_dir)

    def stored_bytes(self) -> int:
        return sum(_dir_bytes(p) for p in self.last_dirs.values())



WORKLOADS = {w.name: w for w in (Olap, Loops, Ingest)}
