"""Ingestion engine facade — the Spark-native ``processFile`` (reference
lib/batchProcessing.js:130-435, SURVEY.md §3).

Lifecycle (mirrors the reference's 15-stage spine, §3):
  validate inputs → default hooks → onStart → open BatchRun → scan (O1) →
  parse (O2/O4/O5) → route three-way (O7) → write success channel to sink →
  write BatchStatus ledger (O11), which also collects the run counts →
  close BatchRun (O12) → onEnd — all in one driver function with
  try/finally closing the run ledger even on failure (the reference's FATAL
  path updates BatchRun with the error, lib/batchProcessing.js:535-585).

What changed vs the reference, by design (SURVEY.md §7): records do not cross
HTTP twice per row; parsing/validation runs distributed on executors and the
success channel lands via a native writer (parquet here; the REST connector
in sinks/rest_sink.py exists for API-validation parity). Hooks are plain
Python callables on the driver; the per-record ``onEachResult`` hook is
supported but documented as a driver-side iteration (collect of the status
channel) — use it for small runs or sampling, never in the 100 TB path.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.config import EngineConfig
from oe_batch_processing_spark.sinks import ledger
from oe_batch_processing_spark.sinks.rest_sink import RestSinkOptions, rest_write
from oe_batch_processing_spark.sources import outcome
from oe_batch_processing_spark.sources.csv_source import CsvOptions, csv_parse
from oe_batch_processing_spark.sources.custom_hook import ParserHook, custom_parse
from oe_batch_processing_spark.sources.fixed_width import fw_parse
from oe_batch_processing_spark.sources.line_scan import line_scan


@dataclass
class IngestJob:
    """Declarative job spec — replaces the reference's options+jobService pair."""

    file_path: str
    parser: str | ParserHook = "csv"  # "csv" | "fw" | callable hook (O5)
    csv_options: CsvOptions | None = None
    fw_layout: list[dict] | None = None
    sink_path: str | None = None  # success-channel parquet dir
    rest_options: RestSinkOptions | None = None  # REST sink (reference O10)
    ledger_dir: str | None = None  # BatchStatus/BatchRun parquet dirs
    config: EngineConfig = field(default_factory=EngineConfig)
    on_start: Callable[["IngestJob"], None] | None = None
    on_end: Callable[[ledger.BatchRun], None] | None = None
    on_each_result: Callable[[dict], None] | None = None  # driver-side, small runs
    exact_line_numbers: bool = True


@dataclass
class IngestResult:
    """Run outcome. ``success``/``failed`` are the final outcome channels:
    on the native path they carry the parse columns; on the REST path they
    carry the post-HTTP status columns (statusCode from the app), matching
    the reference where SUCCESS means "the app accepted the record".

    The frames are lazy plans whose run-scoped cache is released when
    ``run_ingest`` returns: re-evaluating them afterwards re-runs the plan,
    which on the REST path re-sends the HTTP requests. Consume them inside
    the run (sink_path / ledger / hooks) or write them out immediately."""

    run: ledger.BatchRun
    counts: dict[str, int]
    success: DataFrame
    failed: DataFrame


def run_ingest(spark: SparkSession, job: IngestJob) -> IngestResult:
    """Execute one ingestion run end-to-end. Raises on FATAL (config) errors
    after recording them in the BatchRun ledger, mirroring the reference's
    kill switch (lib/batchProcessing.js:633-643,710-716)."""
    if not job.file_path:
        raise ValueError("file_path is mandatory")
    if not os.path.exists(job.file_path):
        raise FileNotFoundError(job.file_path)

    if job.on_start:
        job.on_start(job)

    run = ledger.BatchRun(
        file_path=job.file_path,
        options_json=ledger.options_to_json(
            {"parser": str(job.parser), "sink": job.sink_path}
        ),
    )
    counts: dict[str, int] = {}
    cached: list[DataFrame] = []  # every persist() lands here; finally unpersists
    try:
        recdata = line_scan(spark, job.file_path, job.exact_line_numbers)

        if callable(job.parser):
            parsed = custom_parse(recdata, job.parser)
        elif job.parser == "csv":
            if job.csv_options is None:
                raise ValueError("csv parser requires csv_options")
            parsed = csv_parse(recdata, job.csv_options)
        elif job.parser == "fw":
            if not job.fw_layout:
                raise ValueError("fw parser requires fw_layout")
            parsed = fw_parse(recdata, job.fw_layout)
        else:
            raise ValueError(f"Unknown parser '{job.parser}'")

        # One pass over the parse output feeds both channels.
        parsed = parsed.persist()
        cached.append(parsed)
        routed = outcome.route(parsed)

        if job.sink_path:
            routed.success.write.mode("append").parquet(job.sink_path)

        if job.rest_options is not None:
            # the reference's actual data plane: every successfully-parsed
            # record POSTs to the app; SUCCESS/FAILED derives from HTTP
            # status; parse failures join the status ledger unchanged
            rest_status = rest_write(routed.success, job.rest_options).persist()
            cached.append(rest_status)
            status_source = rest_status.unionByName(
                routed.failed.select(
                    "fileName", "rec", "recId", "parsed_json", "statusText",
                    F.lit(422).alias("statusCode"), "error",
                )
            )
            routed = outcome.route(status_source)

        status_df = ledger.status_frame(
            routed.non_ignored, run.batch_run_id, job.config.batch_result_log_items
        )
        # Every run reads the whole status channel exactly once, ledger or
        # not: that action collects the counters' observation and, on the
        # REST path, sends the requests.
        if job.ledger_dir:
            ledger.write_status(status_df, job.ledger_dir)
        else:
            status_df.write.format("noop").mode("overwrite").save()

        counts = routed.counts()
        ledger.finalize_run(run, counts)

        if job.on_each_result:  # driver-side per-record hook — small runs only
            for row in status_df.toLocalIterator():
                job.on_each_result(row.asDict(recursive=True))

        return IngestResult(
            run=run, counts=counts, success=routed.success, failed=routed.failed
        )
    except Exception as e:
        ledger.finalize_run(run, counts, error=str(e))
        raise
    finally:
        # Cached blocks are released on EVERY exit path (a raise between
        # persist and a success-path unpersist would otherwise leak
        # executor storage memory run after run). Counts/ledger/hooks have
        # materialized by now, so nothing re-reads the cache afterwards;
        # the returned success/failed frames recompute lazily if reused.
        for df in cached:
            df.unpersist()
        if job.ledger_dir:
            ledger.write_run(spark, run, job.ledger_dir)
        if job.on_end:
            job.on_end(run)


def ingest_summary(result: IngestResult) -> dict[str, Any]:
    """The reference's final console report shape (counts + duration)."""
    return {
        "batchRunId": result.run.batch_run_id,
        "durationMillis": result.run.duration_millis,
        **result.counts,
    }
