"""CSV / delimited parser with reference fidelity (reference O2/O3/O6).

Two paths:

1. ``csv_parse`` — **fidelity path**: reproduces the reference's built-in CSV
   parser semantics exactly (lib/parsers.js:27-149): declared headers (string
   / list / dict forms), quote-aware tokenization only when the delimiter is
   ``,`` (naive split otherwise), JS ``Number()`` / strict-boolean coercion,
   per-record count validation with ``ignore_extra_*`` opt-outs, three-way
   outcome (SUCCESS / FAILED+partial-json / config error raised). Runs as an
   Arrow-batched ``mapInArrow`` (:func:`outcome.parse_records`):
   :func:`batch_kernel` parses the plain lines of each batch with
   ``pyarrow.compute`` (one RE2 ``extract_regex`` per line, string kernels
   per field), and :func:`parse_record` — the spec — runs only on the lines
   the kernel does not handle (quote escapes, non-ASCII, radix/exponent
   numbers, field-count errors, ...). The semantics (stop-on-first-error
   partial rows, JS numerics) are not expressible with JVM expressions.

2. ``csv_scan_native`` — **scale path**: ``spark.read.csv`` with an explicit
   schema, PERMISSIVE mode and a corrupt-record column. Fully JVM-side
   (vectorized reader, pushdown-friendly); the right choice at 100 TB when
   reference-exact error strings are not required.

Config-time errors (bad headers spec, bad types) raise ``CsvConfigError`` —
the analog of the reference's FATAL kill switch for configuration problems
(lib/batchProcessing.js:633-643): they abort the run rather than mark records.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from json.encoder import encode_basestring_ascii

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from oe_batch_processing_spark.functions.coercion import coerce_field, js_number
from oe_batch_processing_spark.sources.outcome import BatchKernel, parse_records


class CsvConfigError(ValueError):
    """Configuration error — maps to the reference's FATAL outcome."""


@dataclass
class CsvOptions:
    """Mirror of the reference's csvParser options (lib/parsers.js:32-86)."""

    csv_headers: str | list[str] | dict[str, str] | None = None
    csv_header_data_types: str | list[str] | None = None
    delimiter: str = ","
    header_separator: str = ","
    ignore_extra_headers: bool = False
    ignore_extra_header_data_types: bool = False
    resolved_headers: list[str] = field(default_factory=list, repr=False)
    resolved_types: list[str] = field(default_factory=list, repr=False)

    def resolve(self) -> None:
        """Validate and normalize headers/types; raises CsvConfigError."""
        h = self.csv_headers
        if h is None:
            raise CsvConfigError("csv_headers is mandatory for the CSV parser")
        types: list[str] | None = None
        if isinstance(h, dict):
            headers = [k.strip() for k in h.keys()]
            types = [str(v).strip() for v in h.values()]
        elif isinstance(h, str):
            if h.strip() == "":
                raise CsvConfigError("csv_headers string is empty")
            headers = [p.strip() for p in h.split(self.header_separator)]
        elif isinstance(h, list):
            headers = [str(p).strip() for p in h]
        else:
            raise CsvConfigError(f"Unsupported csv_headers form: {type(h).__name__}")
        if not headers or any(x == "" for x in headers):
            raise CsvConfigError("csv_headers contains empty header names")
        for name in headers:
            # The reference rejects purely numeric header names
            # (test/test.js:699-730).
            if not math.isnan(js_number(name)):
                raise CsvConfigError(f"Invalid (numeric) header name '{name}'")

        if types is None:
            t = self.csv_header_data_types
            if t is None:
                types = ["string"] * len(headers)  # default: all string
            elif isinstance(t, str):
                types = [p.strip() for p in t.split(self.header_separator)]
            elif isinstance(t, list):
                types = [str(p).strip() for p in t]
            else:
                raise CsvConfigError(
                    f"Unsupported csv_header_data_types form: {type(t).__name__}"
                )
        for ty in types:
            if ty.lower() not in ("string", "number", "boolean"):
                raise CsvConfigError(f"Unsupported data type '{ty}'")
        if len(types) > len(headers) and not self.ignore_extra_header_data_types:
            raise CsvConfigError(
                f"More data types ({len(types)}) than headers ({len(headers)})"
            )
        if len(types) < len(headers):
            if not self.ignore_extra_header_data_types:
                raise CsvConfigError(
                    f"Fewer data types ({len(types)}) than headers ({len(headers)})"
                )
            types = types + ["string"] * (len(headers) - len(types))
        self.resolved_headers = headers
        self.resolved_types = types[: len(headers)]


def csv_to_array(text: str, delimiter: str = ",") -> list[str] | None:
    """Quote-aware CSV tokenizer (reference cSVtoArray, lib/parsers.js:152-173).

    Single- or double-quoted fields, backslash escapes inside quotes, embedded
    delimiters inside quotes, empty last field. Returns None for malformed
    input (unterminated quote / garbage after a closing quote).
    """
    fields: list[str] = []
    i, n = 0, len(text)
    while True:
        # one field
        if i < n and text[i] in "'\"":
            q = text[i]
            i += 1
            buf = []
            while i < n:
                c = text[i]
                if c == "\\" and i + 1 < n:
                    buf.append(text[i + 1])
                    i += 2
                    continue
                if c == q:
                    break
                buf.append(c)
                i += 1
            else:
                return None  # unterminated quote
            i += 1  # past closing quote
            if i < n and text[i] != delimiter:
                return None  # garbage after closing quote
            fields.append("".join(buf))
        else:
            j = text.find(delimiter, i)
            end = n if j < 0 else j
            fields.append(text[i:end])
            i = end
        if i >= n:
            return fields
        i += 1  # past delimiter
        if i == n:  # trailing delimiter => empty last field
            fields.append("")
            return fields


def parse_record(rec: str, opts: CsvOptions) -> tuple[dict, str | None]:
    """Parse one line per reference semantics.

    Returns (partial-or-full json dict, error message or None). The first
    failing field stops projection of the remaining fields but keeps the
    partial json (lib/parsers.js:132-133) — reproduced here.
    """
    headers, types = opts.resolved_headers, opts.resolved_types
    if opts.delimiter == ",":
        values = csv_to_array(rec, ",")
        if values is None:
            return {}, "Malformed CSV record"
    else:
        values = rec.split(opts.delimiter)
    if len(values) > len(headers):
        if not opts.ignore_extra_headers:
            return {}, (
                f"Record has more data fields ({len(values)}) than headers "
                f"({len(headers)})"
            )
        values = values[: len(headers)]
    if len(values) < len(headers):
        return {}, (
            f"Record has fewer data fields ({len(values)}) than headers "
            f"({len(headers)})"
        )
    out: dict = {}
    for name, ty, raw in zip(headers, types, values):
        coerced, err = coerce_field(raw, ty)
        if err is not None:
            return out, f"Field '{name}': {err}"
        out[name] = coerced
    return out, None


# The line subset batch_kernel parses: printable ASCII without ``"`` or
# ``\``, so ``str.strip()`` trims only spaces and ``json.dumps`` escapes
# nothing.
_PLAIN_CHARS = [chr(c) for c in range(0x20, 0x7F) if chr(c) not in '"\\']


def _re_chars(chars) -> str:
    return "".join(f"\\x{{{ord(c):x}}}" for c in chars)


def _field_re(delimiter: str) -> str:
    """One field of a plain line: ``"..."`` or unquoted without ``,``/``'``
    for the quote-aware ``,`` tokenizer; no delimiter character otherwise."""
    if delimiter == ",":
        unquoted = _re_chars(c for c in _PLAIN_CHARS if c not in ",'")
        return f'"[{_re_chars(_PLAIN_CHARS)}]*"|[{unquoted}]*'
    return f"[{_re_chars(c for c in _PLAIN_CHARS if c not in delimiter)}]*"


# Every form js_number accepts ("" included), and its plain-decimal subset.
_JS_NUMBER_FORM = (
    r"^(?:[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|[+-]?0[xX][0-9a-fA-F]+|[+-]?0[oO][0-7]+|[+-]?0[bB][01]+|[+-]?Infinity)?$"
)
_PLAIN_DECIMAL = r"^(?:[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+))?$"
# sign, integer digits without leading zeros, fraction without trailing zeros
_DECIMAL_PARTS = r"^(?P<sign>[+-]?)0*(?P<int>[0-9]*)(?:\.(?P<frac>[0-9]*?)0*)?$"
_EXACT_DIGITS = 15  # a decimal this short round-trips through a double


def _coerce_batch(v, ty: str):
    """``coerce_field`` over a column of trimmed plain values: ``(ok, bad,
    json_text)`` where ``ok`` marks values coerced here, ``bad`` values that
    fail with the spec's error, and neither the values left to the spec
    (``None`` stands for an all-false mask)."""
    import pyarrow.compute as pc

    if ty == "string":
        return pc.is_valid(v), None, pc.binary_join_element_wise('"', v, '"', "")
    if ty == "boolean":
        lower = pc.ascii_lower(v)
        is_true = pc.equal(lower, "true")
        ok = pc.or_(is_true, pc.equal(lower, "false"))
        return ok, pc.invert(ok), pc.if_else(is_true, "true", "false")
    parts = pc.extract_regex(v, _DECIMAL_PARTS)
    sign, whole, frac = (parts.field(j) for j in range(3))
    n_int, n_frac = pc.utf8_length(whole), pc.utf8_length(frac)
    n_lead = pc.subtract(n_frac, pc.utf8_length(pc.ascii_ltrim(frac, characters="0")))
    has_int = pc.greater(n_int, 0)
    digits = pc.if_else(has_int, pc.add(n_int, n_frac), pc.subtract(n_frac, n_lead))
    ok = pc.and_(
        pc.and_(pc.match_substring_regex(v, _PLAIN_DECIMAL), pc.less_equal(digits, _EXACT_DIGITS)),
        pc.or_(has_int, pc.less_equal(n_lead, 3)),  # >= 1e-4: repr stays positional
    )
    digits_text = pc.binary_join_element_wise(
        pc.if_else(has_int, whole, "0"), pc.if_else(pc.greater(n_frac, 0), frac, "0"), "."
    )
    text = pc.binary_join_element_wise(pc.if_else(pc.equal(sign, "-"), "-", ""), digits_text, "")
    return ok, pc.invert(pc.match_substring_regex(v, _JS_NUMBER_FORM)), text


_ERRORS = {  # coerce_field's messages around the value
    "number": ("Invalid number value '", "'"),
    "boolean": ("Invalid boolean value '", "' (only true/false accepted)"),
}


def batch_kernel(opts: CsvOptions) -> BatchKernel | None:
    """The vectorized half of :func:`parse_record`, for
    :func:`outcome.parse_records`: maps a batch's ``rec`` column to
    ``(handled, parsed_json, error)`` with ``pyarrow.compute``.

    A line is handled when one RE2 match splits it into exactly as many
    plain fields as there are headers (see ``_field_re``) and the first
    field that is not plain (``_coerce_batch``) fails with the spec's exact
    error. Plain values: any string; ``true``/``false`` in any case; ``""``
    or a decimal without exponent of at most 15 significant digits that is
    0 or at least 1e-4 (printed the way ``repr(float(v))`` prints it). Every
    other line — radix, exponent or ``Infinity`` numbers, longer digit
    strings, quote escapes, non-ASCII, field-count errors — is left to
    :func:`parse_record`. ``None`` when no line can be handled (duplicate
    header names, an empty delimiter).
    """
    headers, types = opts.resolved_headers, [t.lower() for t in opts.resolved_types]
    if not opts.delimiter or len(set(headers)) != len(headers):
        return None
    field_re = _field_re(opts.delimiter)
    line_re = (
        "^"
        + _re_chars(opts.delimiter).join(f"(?P<f{i}>{field_re})" for i in range(len(headers)))
        + "$"
    )
    quoted = opts.delimiter == ","
    keys = [(", " if i else "") + encode_basestring_ascii(h) + ": " for i, h in enumerate(headers)]

    def kernel(rec):
        import pyarrow as pa
        import pyarrow.compute as pc

        fields = pc.extract_regex(rec, line_re)
        prefix = fields.is_valid()  # the line matched and every field so far coerced
        body = pa.array([""] * len(rec), pa.string())
        errors = []  # per field: its message where it is the first to fail
        for i, (name, ty, key) in enumerate(zip(headers, types, keys)):
            raw = fields.field(i)
            if quoted:
                raw = pc.if_else(pc.starts_with(raw, '"'), pc.utf8_slice_codeunits(raw, 1, -1), raw)
            v = pc.ascii_trim(raw, characters=" ")
            ok, bad, text = _coerce_batch(v, ty)
            if bad is not None:
                head, tail = _ERRORS[ty]
                message = pc.binary_join_element_wise(f"Field '{name}': {head}", v, tail, "")
                errors.append(pc.if_else(pc.and_kleene(prefix, bad), message, None))
            prefix = pc.and_kleene(prefix, ok)
            # grown field by field: pyarrow 16's null_handling="skip" join
            # drops the rows whose pieces are all null
            body = pc.if_else(prefix, pc.binary_join_element_wise(body, key, text, ""), body)
        error = pc.coalesce(*errors) if errors else pa.nulls(len(rec), pa.string())
        handled = pc.fill_null(pc.or_kleene(prefix, pc.is_valid(error)), False)
        parsed = pc.binary_join_element_wise("{", body, "}", "")
        return handled, parsed, error

    return kernel


def csv_parse(recdata: DataFrame, opts: CsvOptions) -> DataFrame:
    """Fidelity CSV parse of a recData frame (fileName, rec, recId).

    Output adds ``parsed_json`` (JSON text of the typed record — partial on
    failure), ``error``, ``statusText`` (SUCCESS | FAILED); see
    :func:`outcome.parse_records`. :func:`batch_kernel` parses the plain
    lines, :func:`parse_record` the rest.
    """
    opts.resolve()
    return parse_records(recdata, lambda rec: parse_record(rec, opts), kernel=batch_kernel(opts))


_SPARK_TYPES = {"string": StringType(), "number": DoubleType(), "boolean": BooleanType()}


def typed_schema(opts: CsvOptions) -> StructType:
    """Spark schema for the declared header/type lists (string/number/boolean
    -> StringType/DoubleType/BooleanType, SURVEY.md §1.2)."""
    opts.resolve()
    return StructType(
        [
            StructField(h, _SPARK_TYPES[t.lower()], True)
            for h, t in zip(opts.resolved_headers, opts.resolved_types)
        ]
    )


def csv_scan_native(
    spark: SparkSession,
    path: str | list[str],
    opts: CsvOptions,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Scale-path CSV scan: JVM vectorized reader, explicit schema, PERMISSIVE
    mode with corrupt-record capture. Malformed rows land with all data
    columns NULL and the raw line in ``corrupt_col`` — route them with
    ``outcome.route_native``."""
    schema = typed_schema(opts)
    full = StructType(list(schema.fields) + [StructField(corrupt_col, StringType(), True)])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("sep", opts.delimiter)
        .option("quote", '"')
        .option("escape", "\\")
        .option("header", "false")
        .csv(path)
    )
