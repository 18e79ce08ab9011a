"""BatchStatus / BatchRun ledger tables (reference O11/O12).

Reference schemas (common/models/batch-status.json:7-15,
common/models/batch-run.json:7-19) reproduced as parquet append tables:

  BatchStatus — one row per non-ignored record: fileRecordData struct
  (fileName, rec, recId), payload (JSON text), statusText (SUCCESS|FAILED|
  FATAL), statusCode, error, batchRunId.

  BatchRun — one row per run: batchRunId (uuid4, reference
  lib/batchProcessing.js:251), filePath, startTime/endTime/durationMillis,
  totalRecordCount/successCount/failureCount, options (JSON), error.

Field-pruning parity: the reference drops noisy error/response fields before
logging unless allow-listed via ``batchResultLogItems``
(lib/batchProcessing.js:366-371,681-686) — here that's a column selection on
the status frame (``batch_result_log_items`` keeps extra columns).

At scale both ledgers are plain append-only parquet writes — no shuffle. The
BatchRun counts (the only aggregation in the reference, SURVEY.md O12) are
observed while the status channel is written (``outcome.RoutedRecords``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.sources.outcome import SUCCESS


@dataclass
class BatchRun:
    batch_run_id: str = field(default_factory=lambda: str(uuid.uuid4()))
    file_path: str = ""
    options_json: str = "{}"
    start_time_millis: int = field(default_factory=lambda: int(time.time() * 1000))
    end_time_millis: int | None = None
    total_record_count: int = 0
    success_count: int = 0
    failure_count: int = 0
    error: str | None = None

    @property
    def duration_millis(self) -> int | None:
        if self.end_time_millis is None:
            return None
        return self.end_time_millis - self.start_time_millis


def status_frame(
    routed_non_ignored: DataFrame,
    batch_run_id: str,
    batch_result_log_items: list[str] | None = None,
) -> DataFrame:
    """Shape the non-ignored channel into BatchStatus rows."""
    extra = [F.col(c) for c in (batch_result_log_items or []) if c in routed_non_ignored.columns]
    if "statusCode" in routed_non_ignored.columns:
        # REST path: real HTTP status codes already present
        status_code = F.col("statusCode").cast("int")
    else:
        status_code = F.when(F.col("statusText") == SUCCESS, F.lit(200)).otherwise(F.lit(422))
    return routed_non_ignored.select(
        F.struct(
            F.col("fileName").alias("fileName"),
            F.col("rec").alias("rec"),
            F.col("recId").alias("recId"),
        ).alias("fileRecordData"),
        F.col("parsed_json").alias("payload"),
        F.col("statusText"),
        status_code.alias("statusCode"),
        F.col("error"),
        F.lit(batch_run_id).alias("batchRunId"),
        *extra,
    )


def write_status(status_df: DataFrame, ledger_dir: str) -> None:
    status_df.write.mode("append").parquet(os.path.join(ledger_dir, "batch_status"))


BATCH_RUN_DDL = (
    "batchRunId string, filePath string, options string, "
    "startTimeMillis long, endTimeMillis long, durationMillis long, "
    "totalRecordCount long, successCount long, failureCount long, "
    "error string"
)


def write_run(spark: SparkSession, run: BatchRun, ledger_dir: str) -> None:
    """Append the run's one BatchRun row. The row is a JVM-local relation —
    ``from_json`` of a literal over a one-row range, folded to literals by
    the optimizer — so no Python worker starts; ``from_json`` keeps every
    column of ``BATCH_RUN_DDL`` nullable."""
    row = {
        "batchRunId": run.batch_run_id,
        "filePath": run.file_path,
        "options": run.options_json,
        "startTimeMillis": run.start_time_millis,
        "endTimeMillis": run.end_time_millis,
        "durationMillis": run.duration_millis,
        "totalRecordCount": run.total_record_count,
        "successCount": run.success_count,
        "failureCount": run.failure_count,
        "error": run.error,
    }
    df = spark.range(1, numPartitions=1).select(
        F.from_json(F.lit(json.dumps(row)), BATCH_RUN_DDL).alias("run")
    )
    df.select("run.*").write.mode("append").parquet(os.path.join(ledger_dir, "batch_run"))


def read_status(spark: SparkSession, ledger_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(ledger_dir, "batch_status"))


def read_runs(spark: SparkSession, ledger_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(ledger_dir, "batch_run"))


def finalize_run(run: BatchRun, counts: dict[str, int], error: str | None = None) -> BatchRun:
    run.end_time_millis = int(time.time() * 1000)
    run.total_record_count = counts.get("totalRecordCount", 0)
    run.success_count = counts.get("successCount", 0)
    run.failure_count = counts.get("failureCount", 0)
    run.error = error
    return run


def options_to_json(options: dict) -> str:
    return json.dumps(options, default=str, sort_keys=True)
