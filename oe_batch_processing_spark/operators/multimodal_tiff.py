"""TIFF 6.0 grayscale decode, hand-written from the public spec — retiring
the TIFF half of the WebP/TIFF capability stub.

Both halves are real: a writer emitting little-endian baseline TIFF (the
``II*\\0`` header, one IFD of the nine baseline tags required for bilevel/
grayscale images, multi-strip layout via RowsPerStrip, and PackBits
compression on alternating images — the spec's Section 9 RLE, encoded row
by row as required), and a reader that validates the byte-order mark and
magic, walks the IFD (tag/type/count/value cells, inline values when they
fit in 4 bytes), enforces the baseline-grayscale contract (8-bit, one
sample, BlackIsZero, no unexpected tags it can't honor), fetches every
strip through StripOffsets/StripByteCounts, PackBits-decodes with exact
output-length validation, and reassembles the raster.

Hash-oracle strategy: pixels are md5-keyed pseudo-bytes in runs of four
(``pix(j) = md5("{doc_id}:t:{r//16}")[r%16]`` with ``r = j//4`` — runs make
PackBits genuinely compress, which the operator asserts), so the DuckDB
oracle recomputes every emitted statistic from the generation rule while
Spark derives it from the DECODED file. ``strip_checksum`` weights each
strip's pixel sum by its 1-based index, so strip reordering or misassembly
breaks the hash even when totals survive; w/h/strip-count come from parsed
tags. An in-operator roundtrip assertion additionally re-encodes each
decoded raster and demands the exact original file bytes back.

Reference scope: the reference engine (SURVEY.md §2.1) has no media path;
this joins the §2.2 multimodal family (PNG, BMP, JPEG, GIF, netpbm, WAV,
AIFF, FLAC-lite, μ-law, ADPCM, MJPEG/AVI, H.264 I-PCM — and WebP landed
later the same round, multimodal_webp.py: no capability stubs remain).

Scale: per-document codec work in one ``map_rows`` after the same bounded
round-robin fan-out the other codec pipelines use (the tiny test parquet
is one scan split); on a real corpus the writer half is replaced by a
binaryFile scan of .tif blobs.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

ROWS_PER_STRIP = 4
COMP_NONE, COMP_PACKBITS = 1, 32773

# IFD tag ids (TIFF 6.0 baseline)
T_WIDTH, T_LENGTH, T_BITS, T_COMP, T_PHOTO = 256, 257, 258, 259, 262
T_STRIP_OFF, T_SPP, T_RPS, T_STRIP_CNT = 273, 277, 278, 279
# field types
TY_SHORT, TY_LONG = 3, 4


# --- PackBits (TIFF 6.0 section 9) -------------------------------------------


def packbits_encode_row(row: bytes) -> bytes:
    """Canonical PackBits: maximal runs >= 2 become (257-n, byte); literals
    accumulate up to 128. Rows are encoded independently (spec rule)."""
    out = bytearray()
    i, n = 0, len(row)
    lit_start = 0

    def flush_literals(end: int) -> None:
        j = lit_start
        while j < end:
            chunk = row[j:min(j + 128, end)]
            out.append(len(chunk) - 1)
            out.extend(chunk)
            j += len(chunk)

    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            flush_literals(i)
            out.append(257 - run)
            out.append(row[i])
            i += run
            lit_start = i
        else:
            i += 1
    flush_literals(n)
    return bytes(out)


def packbits_decode(data: bytes, expected_len: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c == 128:  # noop, legal but our encoder never emits it
            continue
        if c < 128:
            if i + c + 1 > n:
                raise ValueError("PackBits literal overruns strip")
            out.extend(data[i:i + c + 1])
            i += c + 1
        else:
            if i >= n:
                raise ValueError("PackBits run missing byte")
            out.extend(bytes([data[i]]) * (257 - c))
            i += 1
    if len(out) != expected_len:
        raise ValueError(
            f"PackBits decoded {len(out)} bytes, expected {expected_len}"
        )
    return bytes(out)


# --- writer -------------------------------------------------------------------


def encode_tiff(raster: bytes, w: int, h: int, compression: int) -> bytes:
    """Minimal-but-real little-endian grayscale TIFF: header, strips (first,
    so offsets are known before the IFD), one IFD with the nine baseline
    tags in ascending tag order (spec requirement), next-IFD pointer 0."""
    if len(raster) != w * h:
        raise ValueError("raster size mismatch")
    strips = []
    for s0 in range(0, h, ROWS_PER_STRIP):
        rows = raster[s0 * w:min(s0 + ROWS_PER_STRIP, h) * w]
        if compression == COMP_PACKBITS:
            enc = b"".join(
                packbits_encode_row(rows[r * w:(r + 1) * w])
                for r in range(len(rows) // w)
            )
        else:
            enc = rows
        strips.append(enc)

    out = bytearray(b"II*\x00")
    out += struct.pack("<I", 0)  # IFD offset, patched below
    strip_offsets = []
    for s in strips:
        strip_offsets.append(len(out))
        out += s
    n_strips = len(strips)

    # out-of-line arrays for StripOffsets/StripByteCounts when n_strips > 1
    def arr_offset(values: list[int]) -> int:
        off = len(out)
        for v in values:
            out.extend(struct.pack("<I", v))
        return off

    off_arr = arr_offset(strip_offsets) if n_strips > 1 else strip_offsets[0]
    cnt_arr = (
        arr_offset([len(s) for s in strips]) if n_strips > 1 else len(strips[0])
    )

    ifd_offset = len(out)
    struct.pack_into("<I", out, 4, ifd_offset)
    entries = [
        (T_WIDTH, TY_LONG, 1, w),
        (T_LENGTH, TY_LONG, 1, h),
        (T_BITS, TY_SHORT, 1, 8),
        (T_COMP, TY_SHORT, 1, compression),
        (T_PHOTO, TY_SHORT, 1, 1),  # BlackIsZero
        (T_STRIP_OFF, TY_LONG, n_strips, off_arr),
        (T_SPP, TY_SHORT, 1, 1),
        (T_RPS, TY_LONG, 1, ROWS_PER_STRIP),
        (T_STRIP_CNT, TY_LONG, n_strips, cnt_arr),
    ]
    out += struct.pack("<H", len(entries))
    for tag, ty, cnt, val in entries:
        out += struct.pack("<HHI", tag, ty, cnt)
        out += struct.pack("<I", val if ty == TY_LONG else val & 0xFFFF)
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


# --- reader -------------------------------------------------------------------


def parse_tiff(b: bytes) -> tuple[int, int, int, list[bytes]]:
    """Full decode: (w, h, compression, strips-of-raster-bytes), validating
    the header, IFD grammar, tag contract, and every strip length.
    Truncation anywhere surfaces as ValueError, never a struct.error."""
    try:
        return _parse_tiff(b)
    except struct.error as exc:
        raise ValueError(f"truncated TIFF: {exc}") from exc


def _parse_tiff(b: bytes) -> tuple[int, int, int, list[bytes]]:
    if b[:2] != b"II":
        raise ValueError("only little-endian (II) TIFF supported")
    if struct.unpack_from("<H", b, 2)[0] != 42:
        raise ValueError("bad TIFF magic")
    ifd_off = struct.unpack_from("<I", b, 4)[0]
    n_entries = struct.unpack_from("<H", b, ifd_off)[0]
    tags: dict[int, tuple[int, int, int]] = {}
    for e in range(n_entries):
        base = ifd_off + 2 + 12 * e
        tag, ty, cnt = struct.unpack_from("<HHI", b, base)
        raw = struct.unpack_from("<I", b, base + 8)[0]
        tags[tag] = (ty, cnt, raw)
    if struct.unpack_from("<I", b, ifd_off + 2 + 12 * n_entries)[0] != 0:
        raise ValueError("chained IFDs not supported")

    def scalar(tag: int) -> int:
        if tag not in tags:
            raise ValueError(f"missing required tag {tag}")
        ty, cnt, raw = tags[tag]
        if cnt != 1:
            raise ValueError(f"tag {tag}: expected scalar, count {cnt}")
        return raw if ty == TY_LONG else raw & 0xFFFF

    def array(tag: int) -> list[int]:
        if tag not in tags:
            raise ValueError(f"missing required tag {tag}")
        ty, cnt, raw = tags[tag]
        if cnt == 1:
            return [raw if ty == TY_LONG else raw & 0xFFFF]
        if ty != TY_LONG:
            raise ValueError(f"tag {tag}: expected LONG array")
        return list(struct.unpack_from(f"<{cnt}I", b, raw))

    w, h = scalar(T_WIDTH), scalar(T_LENGTH)
    if scalar(T_BITS) != 8 or scalar(T_SPP) != 1:
        raise ValueError("only 8-bit single-sample grayscale supported")
    if scalar(T_PHOTO) != 1:
        raise ValueError("only BlackIsZero supported")
    comp = scalar(T_COMP)
    if comp not in (COMP_NONE, COMP_PACKBITS):
        raise ValueError(f"unsupported compression {comp}")
    rps = scalar(T_RPS)
    offs, cnts = array(T_STRIP_OFF), array(T_STRIP_CNT)
    if len(offs) != len(cnts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    expected_strips = (h + rps - 1) // rps
    if len(offs) != expected_strips:
        raise ValueError(
            f"expected {expected_strips} strips for h={h}, rps={rps}; "
            f"IFD declares {len(offs)}"
        )
    strips = []
    for s, (off, cnt) in enumerate(zip(offs, cnts)):
        rows = min(rps, h - s * rps)
        raw = b[off:off + cnt]
        if len(raw) != cnt:
            raise ValueError("strip overruns file")
        if comp == COMP_PACKBITS:
            raw = packbits_decode(raw, rows * w)
        elif len(raw) != rows * w:
            raise ValueError("uncompressed strip length mismatch")
        strips.append(raw)
    return w, h, comp, strips


# --- the oracled corpus query --------------------------------------------------

# pixel rule: runs of four (PackBits-compressible), md5-keyed per doc
_PIX = """[
      (instr('0123456789abcdef',
             md5(CAST(doc_id AS VARCHAR) || ':t:' || ((j // 4) // 16))
             [2 * ((j // 4) % 16) + 1]) - 1) * 16
    + (instr('0123456789abcdef',
             md5(CAST(doc_id AS VARCHAR) || ':t:' || ((j // 4) // 16))
             [2 * ((j // 4) % 16) + 2]) - 1)
    FOR j IN range(w * h)]"""

_TIFF_ORACLE = f"""
    WITH g AS (
      SELECT doc_id,
             8 + 4 * (doc_id % 3) AS w,
             6 + 3 * (doc_id % 2) AS h,
             CASE WHEN doc_id % 2 = 0 THEN {COMP_NONE}
                  ELSE {COMP_PACKBITS} END AS compression
      FROM documents
    ),
    px AS (SELECT *, {_PIX} AS pv FROM g)
    SELECT doc_id,
           CAST(w AS INTEGER) AS w,
           CAST(h AS INTEGER) AS h,
           CAST(compression AS INTEGER) AS compression,
           CAST((h + {ROWS_PER_STRIP} - 1) // {ROWS_PER_STRIP} AS INTEGER)
             AS n_strips,
           CAST(LIST_SUM(pv) AS BIGINT) AS sum_pix,
           CAST(LIST_SUM([
             (j // ({ROWS_PER_STRIP} * w) + 1) * pv[j + 1]
             FOR j IN range(w * h)]) AS BIGINT) AS strip_checksum
    FROM px
"""


def _tiff_pixels(doc_id: int, w: int, h: int) -> bytes:
    import hashlib

    n_runs = (w * h + 3) // 4
    n_blocks = (n_runs + 15) // 16
    stream = b"".join(
        hashlib.md5(f"{doc_id}:t:{k}".encode()).digest()
        for k in range(n_blocks)
    )
    return bytes(stream[j // 4] for j in range(w * h))


@query("multimodal_tiff_decode", oracle=_TIFF_ORACLE)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF pipeline with a full hash oracle: each document becomes a
    grayscale image of md5-keyed run-of-four pixels, written as a genuine
    baseline TIFF (:func:`encode_tiff` — header, multi-strip layout,
    PackBits on odd docs), then the decode side re-walks the IFD
    (:func:`parse_tiff`) and emits per-image integer statistics over the
    DECODED strips. ``strip_checksum`` weights each strip by position, so
    strip misassembly breaks the hash; PackBits images additionally assert
    genuine compression and an exact re-encode roundtrip to the original
    file bytes.
    """
    docs = load_table(spark, sf_dir, "documents")
    frames = docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def row(doc_id):
        w = 8 + 4 * (doc_id % 3)
        h = 6 + 3 * (doc_id % 2)
        comp = COMP_NONE if doc_id % 2 == 0 else COMP_PACKBITS
        raster = _tiff_pixels(doc_id, w, h)
        tif = encode_tiff(raster, w, h, comp)

        dw, dh, dcomp, strips = parse_tiff(tif)
        if (dw, dh, dcomp) != (w, h, comp):
            raise ValueError("decoded header mismatch")
        if b"".join(strips) != raster:
            raise ValueError("decoded raster mismatch")
        if comp == COMP_PACKBITS:
            if encode_tiff(b"".join(strips), dw, dh, dcomp) != tif:
                raise ValueError("re-encode roundtrip mismatch")
            if len(tif) >= len(encode_tiff(raster, w, h, COMP_NONE)):
                raise ValueError("PackBits did not compress")
        yield {
            "doc_id": doc_id,
            "w": dw,
            "h": dh,
            "compression": dcomp,
            "n_strips": len(strips),
            "sum_pix": sum(b"".join(strips)),
            "strip_checksum": sum((s + 1) * sum(strip) for s, strip in enumerate(strips)),
        }

    return map_rows(
        frames,
        row,
        "doc_id long, w int, h int, compression int, n_strips int, "
        "sum_pix long, strip_checksum long",
    )
