"""The record-outcome contract of ingest (reference O7/O12, SURVEY.md §2.3.1).

Every parser maps one record to ``(payload, error)``; :func:`parse_records`
turns that into ``parsed_json`` / ``error`` / ``statusText`` following the
custom-hook contract (README.md:63-84, lib/batchProcessing.js:601-629):

  - ``(payload, None)``  => SUCCESS, the payload as JSON
  - ``(partial, error)`` => FAILED, the partial payload as JSON (``{}`` if none)
  - ``(None, None)``     => IGNORED, ``{}``

:func:`route` splits a frame with ``statusText`` into the success channel
(flows to the sink) and the failed channel (flows to the BatchStatus ledger);
IGNORED records are filtered out — never logged, never counted
(lib/batchProcessing.js:626-629). ``totalRecordCount`` counts only
non-ignored records (lib/batchProcessing.js:623,696).

The run counters ride the first action over the channels — the sink or
status write — as an ``Observation`` (accumulator-backed query metrics), so
counting adds no Spark job. The channels are DataFrame filters sharing the
one upstream scan+parse.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

SUCCESS = "SUCCESS"
FAILED = "FAILED"
IGNORED = "IGNORED"
FATAL = "FATAL"

PARSE_RESULT_EXTRA = [
    StructField("parsed_json", StringType(), True),
    StructField("error", StringType(), True),
    StructField("statusText", StringType(), False),
]

ParseResult = tuple[dict | None, str | None]
# A parser's vectorized half: the ``rec`` column of one Arrow batch =>
# (handled mask, parsed_json, error); values outside the mask are ignored.
BatchKernel = Callable[[Any], tuple[Any, Any, Any]]


def result_schema(base: StructType) -> StructType:
    return StructType(list(base.fields) + list(PARSE_RESULT_EXTRA))


def _outcomes(parse_one: Callable[..., ParseResult], rows) -> tuple[list, list, list]:
    parsed, errors, status = [], [], []
    for values in rows:
        payload, err = parse_one(*values)
        if err is not None:
            parsed.append(json.dumps(payload) if payload else "{}")
            errors.append(str(err))
            status.append(FAILED)
        elif payload is None:
            parsed.append("{}")
            errors.append(None)
            status.append(IGNORED)
        else:
            parsed.append(json.dumps(payload))
            errors.append(None)
            status.append(SUCCESS)
    return parsed, errors, status


def parse_batch(
    batch,
    parse_one: Callable[..., ParseResult],
    fields: tuple[str, ...] = ("rec",),
    kernel: BatchKernel | None = None,
):
    """One Arrow record batch of :func:`parse_records`: the batch with
    ``parsed_json`` / ``error`` / ``statusText`` appended."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if kernel is None:
        rest = batch
    else:
        handled, parsed, error = kernel(batch.column("rec"))
        todo = pc.invert(handled)
        rest = batch.filter(todo)
    cols = _outcomes(parse_one, zip(*(rest.column(f).to_pylist() for f in fields)))
    slow = [pa.array(c, pa.string()) for c in cols]
    if kernel is None:
        parsed, error, status = slow
    else:
        status = pc.if_else(pc.is_null(error), SUCCESS, FAILED)
        if rest.num_rows:
            parsed, error, status = (
                pc.replace_with_mask(fast, todo, c)
                for fast, c in zip((parsed, error, status), slow)
            )
    names = batch.schema.names + [f.name for f in PARSE_RESULT_EXTRA]
    return pa.RecordBatch.from_arrays([*batch.columns, parsed, error, status], names=names)


def parse_records(
    recdata: DataFrame,
    parse_one: Callable[..., ParseResult],
    fields: tuple[str, ...] = ("rec",),
    kernel: BatchKernel | None = None,
) -> DataFrame:
    """Apply ``parse_one`` to every record of a recData frame (fileName, rec,
    recId) and add ``parsed_json`` / ``error`` / ``statusText``.

    ``parse_one`` receives the values of ``fields`` for one record, as plain
    Python values, and returns ``(payload, error)``, mapped per the contract
    above. Runs as a ``mapInArrow`` of :func:`parse_batch`: no shuffle,
    linear in input partitions. With a ``kernel``, each batch goes through
    it first and ``parse_one`` runs only on the records outside its mask;
    the kernel must agree with ``parse_one`` on every record it handles
    (its records are SUCCESS, or FAILED where it sets ``error``).
    """

    def run(batches: Iterator) -> Iterator:
        for batch in batches:
            yield parse_batch(batch, parse_one, fields, kernel)

    return recdata.mapInArrow(run, schema=result_schema(recdata.schema))


@dataclass
class RoutedRecords:
    success: DataFrame
    failed: DataFrame
    non_ignored: DataFrame  # every record the ledgers log and count
    observation: Observation  # the run counters, attached to non_ignored

    def counts(self) -> dict[str, int]:
        """The BatchRun counters (reference O12), read from the observation
        on ``non_ignored`` — no Spark job of its own.

        Precondition: an action over ``non_ignored`` or one of the channels
        has run, and that first action read all of it. The observation keeps
        only the first action's metrics, so a ``limit`` or ``take`` first
        would record partial counts; with no action yet this call blocks."""
        got = self.observation.get
        return {
            "totalRecordCount": got["total"],
            "successCount": got["success"],
            "failureCount": got["failure"],
        }


def route(parsed: DataFrame) -> RoutedRecords:
    """Split a frame with ``statusText`` into its outcome channels, with the
    run counters observed on the non-ignored channel. The observation is
    unnamed (a fresh metric name per call), so a plan that routes a union
    of an earlier route's channels again stays valid."""
    status = F.col("statusText")
    obs = Observation()
    non_ignored = parsed.filter(status != IGNORED).observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.count_if(status == SUCCESS).alias("success"),
        F.count_if(status == FAILED).alias("failure"),
    )
    return RoutedRecords(
        success=non_ignored.filter(status == SUCCESS),
        failed=non_ignored.filter(status == FAILED),
        non_ignored=non_ignored,
        observation=obs,
    )


def route_native(scanned: DataFrame, corrupt_col: str = "_corrupt_record") -> RoutedRecords:
    """Router for the native CSV scan path: corrupt-record column NULL =>
    SUCCESS, non-NULL => FAILED (with the raw line as the error payload)."""
    corrupt = F.col(corrupt_col)
    parsed = scanned.withColumn(
        "statusText", F.when(corrupt.isNull(), F.lit(SUCCESS)).otherwise(F.lit(FAILED))
    ).withColumn("error", F.when(corrupt.isNotNull(), F.lit("Malformed CSV record")))
    return route(parsed)
