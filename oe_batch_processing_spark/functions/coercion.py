"""JS-fidelity scalar coercion (reference O6).

The reference coerces CSV/fixed-width field values with JavaScript semantics:
``number`` via ``Number(value)`` + ``isNaN`` rejection
(reference lib/parsers.js:111-117), ``boolean`` accepting only
``true/false`` in any case (lib/parsers.js:118-127), everything else a
declared-type error (lib/parsers.js:128-130). Values are whitespace-trimmed
before coercion (lib/parsers.js:97).

``js_number`` reproduces JS ``Number()`` — which is *not* Python ``float``:
  - '' and whitespace-only => 0
  - '0x10'/'0o17'/'0b101' => integer radix parse (Infinity past the
    largest double)
  - 'Infinity'/'-Infinity' => inf
  - leading '+' allowed, thousands separators not
  - anything else non-numeric => NaN (=> coercion error)
"""

from __future__ import annotations

import math
import re

_HEX = re.compile(r"^[+-]?0[xX][0-9a-fA-F]+$")
_OCT = re.compile(r"^[+-]?0[oO][0-7]+$")
_BIN = re.compile(r"^[+-]?0[bB][01]+$")
_DEC = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _radix(s: str, base: int) -> float:
    sign = -1.0 if s[0] == "-" else 1.0
    try:
        return sign * float(int(s.lstrip("+-"), base))
    except OverflowError:  # beyond the largest double: JS gives Infinity
        return sign * math.inf


def js_number(value: str) -> float:
    """JavaScript ``Number(value)`` for string inputs; NaN on failure."""
    s = value.strip()
    if s == "":
        return 0.0
    if _HEX.match(s):
        return _radix(s, 16)
    if _OCT.match(s):
        return _radix(s, 8)
    if _BIN.match(s):
        return _radix(s, 2)
    if s in ("Infinity", "+Infinity"):
        return math.inf
    if s == "-Infinity":
        return -math.inf
    if _DEC.match(s):
        return float(s)
    return math.nan


def js_boolean(value: str) -> bool | None:
    """Strict boolean per the reference: only true/false, any case
    (lib/parsers.js:121-127). Returns None for anything else (=> error)."""
    s = value.strip().lower()
    if s == "true":
        return True
    if s == "false":
        return False
    return None


def coerce_field(value: str, declared_type: str):
    """Coerce one trimmed field to its declared type.

    Returns (coerced_value, error_message_or_None). Mirrors the reference's
    per-field contract: first failing field stops projection of the rest
    (enforced by the callers in sources/csv_source.py, fixed_width.py).
    """
    v = value.strip()
    t = (declared_type or "string").strip().lower()
    if t == "string":
        return v, None
    if t == "number":
        n = js_number(v)
        if math.isnan(n):
            return None, f"Invalid number value '{v}'"
        return n, None
    if t == "boolean":
        b = js_boolean(v)
        if b is None:
            return None, f"Invalid boolean value '{v}' (only true/false accepted)"
        return b, None
    return None, f"Unsupported data type '{declared_type}'"
