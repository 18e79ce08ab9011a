"""Custom per-record parser hook (reference O5).

The reference requires a client-supplied ``onEachRecord(recData, cb)``
(README.md:63-84). Here it is a plain Python callable: it receives a dict
``{fileName, rec, recId}`` of plain Python values (``recId`` an ``int``) and
returns ``(payload_dict | None, error_str |
None)``, which :func:`outcome.parse_records` maps to SUCCESS / FAILED /
IGNORED. Exceptions raised by the hook mark the record FAILED with the
exception text — the reference's throw-inside-onEachRecord path is FATAL
(lib/batchProcessing.js:710-716); callers wanting that behavior pass
``fatal_on_exception=True`` which re-raises and aborts the Spark job (task
failure => job abort, the kill-switch analog).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from oe_batch_processing_spark.sources.outcome import ParseResult, parse_records

ParserHook = Callable[[dict], ParseResult]


def custom_parse(
    recdata: DataFrame,
    on_each_record: ParserHook,
    fatal_on_exception: bool = False,
) -> DataFrame:
    """Apply a user parser hook to a recData frame (fileName, rec, recId).

    Output adds ``parsed_json`` / ``error`` / ``statusText`` where statusText
    is SUCCESS, FAILED, or IGNORED (the contract in :mod:`outcome`).
    """

    def parse_one(file_name, rec, rec_id) -> ParseResult:
        try:
            return on_each_record({"fileName": file_name, "rec": rec, "recId": rec_id})
        except Exception as e:  # noqa: BLE001
            if fatal_on_exception:
                raise
            return None, f"onEachRecord raised: {e}"

    return parse_records(recdata, parse_one, ("fileName", "rec", "recId"))
