"""Pipeline orchestration: batch ids, audit log, MV refresh
(SURVEY §3.1 / §7.2 step 8; reference etl/orchestrator.py + S14/S15).

The reference sequences soil → weather → crop phases single-threaded with
an audit row per phase (orchestrator.py:178-212, audit at :168-176 and
postgres_loader.py:178-190). Spark-native: each phase is a lazy DataFrame
DAG materialized by its sink write; phases with no data dependency can run
concurrently (independent jobs in one session). The audit table is a
small append-only parquet; the MV refresh is an overwrite write.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame


def mint_batch_id(pipeline: str) -> str:
    """`{pipeline}_{YYYYmmdd_HHMMSS}_{8-hex}` at the current UTC time
    (reference etl/utils/logger.py:12-15)."""
    stamp = time.strftime("%Y%m%d_%H%M%S", time.gmtime())
    return f"{pipeline}_{stamp}_{uuid.uuid4().hex[:8]}"


AUDIT_SCHEMA = (
    "batch_id string, pipeline_name string, status string, "
    "records_processed long, error_message string, started_at timestamp, "
    "ended_at timestamp"
)


@dataclass
class PipelineRunner:
    """Phase sequencer with audit rows (reference etl_audit_log,
    db/init/01-schema.sql:227-243).

    Each phase is `(spark, sf_dir) -> DataFrame`; the runner materializes
    it through `sink`, records RUNNING→SUCCESS/FAILED with counts, and
    keeps going or re-raises per `fail_fast` — the reference's
    catch-audit-reraise shape (orchestrator.py:75-79)."""

    spark: SparkSession
    audit_path: str
    fail_fast: bool = True
    _audit_rows: list = field(default_factory=list)

    def _audit(self, batch_id: str, phase: str, status: str, n: int,
               err: str | None, t0: float) -> None:
        import datetime as dt

        self._audit_rows.append(
            (
                batch_id,
                phase,
                status,
                n,
                err,
                dt.datetime.utcfromtimestamp(t0),
                dt.datetime.utcnow(),
            )
        )

    def run_phase(
        self,
        phase_name: str,
        build: Callable[[], DataFrame],
        sink: Callable[[DataFrame], int] | None = None,
    ) -> int:
        """Run one phase: build plan → sink (default: count-materialize).
        Returns rows processed."""
        batch_id = mint_batch_id(phase_name)
        t0 = time.time()
        try:
            df = build()
            n = sink(df) if sink else df.count()
            self._audit(batch_id, phase_name, "SUCCESS", n, None, t0)
            return n
        except Exception as exc:  # noqa: BLE001
            self._audit(batch_id, phase_name, "FAILED", 0, str(exc)[:500], t0)
            if self.fail_fast:
                self.flush_audit()
                raise
            return 0

    def flush_audit(self) -> None:
        """Append the buffered audit rows (one tiny file per run — the
        audit table is negligible next to fact data).

        `records_processed` is whatever each phase's sink returned (by
        default the phase frame's count), so the flush itself counts
        nothing. The rows are driver-local, so they become a DataFrame
        through `local_frame` (Arrow): the flush is one JVM-only write
        job with no pickled-RDD Python-worker round trip."""
        if not self._audit_rows:
            return
        df = local_frame(self.spark, self._audit_rows, AUDIT_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.audit_path)
        self._audit_rows = []

    def read_audit(self) -> DataFrame:
        return self.spark.read.parquet(self.audit_path)


def refresh_materialized_view(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """S15: persist an MV as an overwrite-refreshed parquet table
    (reference mv_location_crop_compatibility, db/init/01-schema.sql:
    254-272 — PG refreshes on demand; here every pipeline run overwrites).
    Partition columns enable pruning for downstream readers."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
