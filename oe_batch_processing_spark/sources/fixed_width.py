"""Fixed-width parser (reference O4).

Reference semantics (lib/parsers.js:176-266), reproduced exactly:
  - layout spec: non-empty list of ``{fieldName, type, startPosition,
    endPosition}``; every key validated at config time (=> FwConfigError,
    the FATAL analog).
  - **strict length**: record length must equal the last field's
    ``endPosition`` *exactly* — both longer and shorter records are FAILED
    records, not truncated/padded (lib/parsers.js:224-227).
  - per-field ``substring(startPosition-1, endPosition)``, whitespace trim,
    JS-fidelity type coercion with stop-on-first-error partial rows.

``fw_parse`` is the fidelity per-record parse of a recData frame
(``outcome.parse_records``, a ``mapInArrow``); ``fw_columns`` is the
JVM-side ``substring``+``trim``+``cast`` projection of a layout, which the
``fw_parse_roundtrip`` query applies to well-formed rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oe_batch_processing_spark.functions.coercion import coerce_field
from oe_batch_processing_spark.sources.outcome import parse_records


class FwConfigError(ValueError):
    """Layout-spec error — maps to the reference's FATAL outcome."""


@dataclass(frozen=True)
class FwField:
    field_name: str
    type: str
    start_position: int  # 1-based, inclusive
    end_position: int  # 1-based, inclusive


def validate_layout(layout: list[dict] | list[FwField]) -> list[FwField]:
    """Validate the layout spec (reference lib/parsers.js:182-216)."""
    if not isinstance(layout, list) or not layout:
        raise FwConfigError("Fixed-width layout must be a non-empty list")
    out: list[FwField] = []
    for i, entry in enumerate(layout):
        if isinstance(entry, FwField):
            f = entry
        else:
            if not isinstance(entry, dict):
                raise FwConfigError(f"Layout entry {i} is not an object")
            missing = {"fieldName", "type", "startPosition", "endPosition"} - set(entry)
            if missing:
                raise FwConfigError(f"Layout entry {i} missing keys: {sorted(missing)}")
            f = FwField(
                field_name=str(entry["fieldName"]).strip(),
                type=str(entry["type"]).strip(),
                start_position=entry["startPosition"],
                end_position=entry["endPosition"],
            )
        if not f.field_name:
            raise FwConfigError(f"Layout entry {i} has an empty fieldName")
        if f.type.lower() not in ("string", "number", "boolean"):
            raise FwConfigError(f"Layout entry {i}: unsupported type '{f.type}'")
        if not isinstance(f.start_position, int) or not isinstance(f.end_position, int):
            raise FwConfigError(f"Layout entry {i}: positions must be integers")
        if f.start_position < 1 or f.end_position < f.start_position:
            raise FwConfigError(
                f"Layout entry {i}: invalid positions "
                f"[{f.start_position}, {f.end_position}]"
            )
        out.append(f)
    return out


def parse_record(rec: str, layout: list[FwField]) -> tuple[dict, str | None]:
    """Parse one fixed-width line per reference semantics."""
    expected_len = layout[-1].end_position
    if len(rec) != expected_len:
        return {}, (
            f"Record length {len(rec)} does not match layout length {expected_len}"
        )
    out: dict = {}
    for f in layout:
        raw = rec[f.start_position - 1 : f.end_position]
        coerced, err = coerce_field(raw, f.type)
        if err is not None:
            return out, f"Field '{f.field_name}': {err}"
        out[f.field_name] = coerced
    return out, None


def fw_parse(recdata: DataFrame, layout: list[dict] | list[FwField]) -> DataFrame:
    """Fidelity fixed-width parse of a recData frame (fileName, rec, recId).

    Adds ``parsed_json`` / ``error`` / ``statusText`` like csv_parse.
    """
    spec = validate_layout(layout)
    return parse_records(recdata, lambda rec: parse_record(rec, spec))


_NATIVE_CAST = {"string": "string", "number": "double", "boolean": "boolean"}


def fw_columns(layout: list[dict] | list[FwField], src: str = "rec") -> list[Column]:
    """JVM-side substring+trim+cast projection for a validated layout."""
    spec = validate_layout(layout)
    cols = []
    for f in spec:
        width = f.end_position - f.start_position + 1
        c = F.trim(F.substring(F.col(src), f.start_position, width))
        cols.append(c.cast(_NATIVE_CAST[f.type.lower()]).alias(f.field_name))
    return cols

