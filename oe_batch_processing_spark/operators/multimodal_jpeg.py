"""Baseline JPEG (ITU-T T.81) codec — retiring the image-codec stub for real.

The container has no imaging library, so both sides of the pipeline are
hand-written from the public spec: a baseline sequential DCT encoder
(level shift, 8x8 float DCT, quantization, zigzag, differential-DC +
run-length-AC Huffman entropy coding with byte stuffing and restart
markers, full JFIF marker grammar) and a decoder that re-parses the
marker stream (DQT/DHT/SOF0/DRI/SOS), rebuilds canonical Huffman tables
FROM THE FILE, entropy-decodes with RSTn predictor resets, dequantizes,
inverse-DCTs, and reconstructs pixels. Byte stuffing and restart markers
are a byte pass over the entropy-coded segment (:func:`stuff_scan` /
:func:`unstuff_scan`); the bits inside each restart interval go through
the shared MSB-first reader/writer and canonical code of ``bitio``.

Hash-oracle strategy (same discipline as multimodal_png_decode): the
oracled corpus is built from 8x8-FLAT blocks, where baseline JPEG is
provably bit-exact end to end —

* a flat block of value v level-shifts to v-128 everywhere; the
  orthonormal DCT leaves DC = 8*(v-128) and every AC within ~1e-13 of 0,
  so with q_dc = 8 the quantized DC is the exact integer v-128 and every
  AC rounds to 0 (any AC quantizer works; a real non-uniform table is
  used so dequantization is exercised with varied multipliers);
* the decoder's IDCT of a DC-only block is a product of three doubles
  within 1e-12 of v, so round-to-nearest recovers v exactly.

Every stage still runs for real on that corpus: JFIF markers, two
Huffman tables in one DHT segment, per-block differential DC (categories
vary with the data), EOB coding, byte stuffing wherever the bitstream
emits 0xFF, and restart markers every 3 MCUs (the decoder verifies the
RSTn index sequence and returns the count, which the oracle recomputes
as (mcus-1)//3). The lossy general path (arbitrary rasters, 3-component
YCbCr color in both 4:4:4 and 4:2:0) is covered by pytest
roundtrip-error-bound and corruption tests
(tests/test_multimodal_jpeg.py) — it cannot be hash-oracled because
quantization loss is not SQL-expressible. The 4:2:0 production mode
additionally gets its own FULL hash oracle via an R=G=B corpus whose
chroma planes are constant (multimodal_jpeg420_decode).

Huffman tables are the public Annex K defaults. Cross-codec interop
cannot be exercised in-container (no reference codec exists here); the
decoder builds its tables from the DHT segments in the file, so the
encoder/decoder pair proves the grammar, and the spec tables are carried
for fidelity.

Reference scope note: the reference engine (SURVEY.md §2.1) has no media
path; this extends the §2.2 multimodal family.

Scale: two chained ``map_rows`` stages, embarrassingly parallel across
files; per-file work is O(pixels) + O(blocks) Huffman bits. The only
Exchange in either query is a bounded round-robin fan-out of the raw
block rows, needed because the tiny test parquet yields one scan split —
on a real corpus the first stage is replaced by a binaryFile scan of
.jpg blobs (whose file splits already parallelize) and the decode stage
is unchanged.
"""

from __future__ import annotations

from itertools import chain, repeat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.bitio import (
    MsbReader,
    MsbWriter,
    PrefixCode,
)
from oe_batch_processing_spark.operators.multimodal import flat_blocks, gray, raster_stats
from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

# --- tables -----------------------------------------------------------------

# Zigzag scan order generated from the spec's diagonal rule (not
# transcribed): even diagonals walk up-right, odd walk down-left.
ZIGZAG: list[tuple[int, int]] = []
for _d in range(15):
    _rs = (
        range(min(_d, 7), max(0, _d - 7) - 1, -1)
        if _d % 2 == 0
        else range(max(0, _d - 7), min(_d, 7) + 1)
    )
    for _r in _rs:
        ZIGZAG.append((_r, _d - _r))

# Annex K default Huffman table specs (bits-per-length, then symbols).
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Quantization table used by the oracled corpus and the default encoder:
# DC quantizer 8 (divides 8*(v-128) exactly on flat blocks), AC values a
# real non-uniform ramp so dequantization multiplies by varied constants.
DEFAULT_QTABLE = [8] + [2 + ((k * 7) % 17) for k in range(1, 64)]

_DRI_INTERVAL = 3  # restart interval (MCUs) for the oracled corpus


def _dct_matrix():
    import numpy as np

    x = np.arange(8)
    u = np.arange(8).reshape(-1, 1)
    c = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    c[0, :] = np.sqrt(0.125)  # cos(0) row exactly, no cos() rounding noise
    return c


def _huffman_code(bits: list[int], vals: list[int]) -> PrefixCode:
    """The canonical code of a DHT table: BITS counts the codes of each
    length 1..16, HUFFVAL lists the symbols in code order."""
    lengths = list(chain.from_iterable(map(repeat, range(1, 17), bits)))
    return PrefixCode(vals, lengths)


# the encoder's symbol -> (code, length) maps for the Annex K tables
_DC_LUM_CODES = _huffman_code(DC_LUM_BITS, DC_LUM_VALS).codes()
_AC_LUM_CODES = _huffman_code(AC_LUM_BITS, AC_LUM_VALS).codes()
_DC_CHR_CODES = _huffman_code(DC_CHR_BITS, DC_CHR_VALS).codes()


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(zz: list[int], pred: int, dc_tab: dict, ac_tab: dict,
                  w: MsbWriter) -> int:
    diff = zz[0] - pred
    s = _category(diff)
    code, length = dc_tab[s]
    w.write(code, length)
    if s:
        w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        s = _category(zz[k])
        code, length = ac_tab[(run << 4) | s]
        w.write(code, length)
        w.write(zz[k] if zz[k] > 0 else zz[k] + (1 << s) - 1, s)
        run = 0
    if last_nz != 63:
        code, length = ac_tab[0x00]  # EOB
        w.write(code, length)
    return zz[0]


def stuff_scan(intervals: list[bytes]) -> bytes:
    """The entropy-coded segment from each restart interval's bytes: every
    0xFF gets a stuffed 0x00, and RST0..RST7 in turn go between the
    intervals."""
    out = bytearray()
    for k, data in enumerate(intervals):
        if k:
            out += bytes([0xFF, 0xD0 + (k - 1) % 8])
        out += data.replace(b"\xff", b"\xff\x00")
    return bytes(out)


def unstuff_scan(b: bytes, i: int, n_intervals: int) -> list[bytes]:
    """Inverse of :func:`stuff_scan` for the segment starting at ``b[i]``:
    the unstuffed bytes of each of the ``n_intervals`` restart intervals.
    Checks the RSTn index sequence and that the scan ends at EOI (fill
    0xFF bytes before a marker are allowed); any other marker raises."""
    out = []
    for k in range(n_intervals):
        want = 0xD9 if k == n_intervals - 1 else 0xD0 + k % 8
        j = i
        while True:  # the next 0xFF that is not a stuffed 0xFF00
            j = b.find(b"\xff", j)
            if j < 0 or j + 1 >= len(b):
                raise ValueError(
                    "truncated entropy stream: no EOI after scan"
                    if want == 0xD9 else "truncated at restart boundary"
                )
            if b[j + 1]:
                break
            j += 2
        out.append(b[i:j].replace(b"\xff\x00", b"\xff"))
        while j + 2 < len(b) and b[j + 1] == 0xFF:
            j += 1
        m = b[j + 1]
        if m != want:
            if want != 0xD9 and 0xD0 <= m <= 0xD7:
                raise ValueError(
                    f"expected RST{k % 8} at offset {j}, found FF{m:02X}"
                )
            raise ValueError(
                f"unexpected marker 0xFF{m:02X} inside entropy data"
            )
        i = j + 2
    return out


def _seg(marker: int, payload: bytes) -> bytes:
    import struct

    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def _dht_payload(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)


def _rgb_to_ycbcr(rgb):
    """ITU-R BT.601 full-range forward conversion, rounded to ints."""
    import numpy as np

    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return [np.clip(np.rint(p), 0, 255).astype(np.int64) for p in (y, cb, cr)]


def _ycbcr_to_rgb(y, cb, cr):
    import numpy as np

    cb = cb.astype(np.float64) - 128.0
    cr = cr.astype(np.float64) - 128.0
    y = y.astype(np.float64)
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def encode_jpeg(raster: bytes, w: int, h: int, ch: int,
                qtable: list[int] | None = None,
                restart_interval: int = _DRI_INTERVAL,
                subsample: bool = False) -> bytes:
    """Encode an 8-bit raster (ch=1 grayscale / ch=3 RGB, which is first
    converted to YCbCr) as a REAL baseline JFIF JPEG: SOI, APP0, one DQT,
    SOF0, a single DHT segment carrying multiple tables (grammar hazard:
    DC-lum + AC-lum, plus DC-chroma for color), DRI, SOS, the
    entropy-coded scan with byte stuffing and RSTn markers, EOI.

    ``subsample=True`` (ch=3 only) produces 4:2:0 — luma sampling 2x2,
    chroma planes reduced by 2x2 floor-average, interleaved MCUs of
    four Y blocks + Cb + Cr over 16x16 pixels; otherwise 4:4:4 (or
    single-component grayscale).
    """
    import struct

    import numpy as np

    q = list(qtable) if qtable is not None else list(DEFAULT_QTABLE)
    if len(q) != 64:
        raise ValueError("qtable must have 64 entries")
    pix = np.frombuffer(raster, dtype=np.uint8)
    if len(pix) != w * h * ch:
        raise ValueError("raster length mismatch")
    if subsample and ch != 3:
        raise ValueError("subsample requires ch=3")
    if ch == 3:
        planes = _rgb_to_ycbcr(pix.reshape(h, w, 3))
        sampling = [(2, 2), (1, 1), (1, 1)] if subsample else \
            [(1, 1), (1, 1), (1, 1)]
    elif ch == 1:
        planes = [pix.reshape(h, w).astype(np.int64)]
        sampling = [(1, 1)]
    else:
        raise ValueError("ch must be 1 or 3")
    ncomp = len(planes)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)

    # pad to MCU multiples by edge replication, then reduce chroma
    ph = (h + 8 * vmax - 1) // (8 * vmax) * (8 * vmax)
    pw = (w + 8 * hmax - 1) // (8 * hmax) * (8 * hmax)
    planes = [
        np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes
    ]
    comp_planes = []
    for ci, p in enumerate(planes):
        fy, fx = vmax // sampling[ci][1], hmax // sampling[ci][0]
        if fy > 1 or fx > 1:
            # floor-average pooling (any consistent filter is spec-legal)
            p = (p[0::fy, 0::fx] + p[1::fy, 0::fx]
                 + p[0::fy, 1::fx] + p[1::fy, 1::fx]) // (fy * fx)
        comp_planes.append(p)
    mby, mbx = ph // (8 * vmax), pw // (8 * hmax)

    cmat = _dct_matrix()
    qzz = np.array(q, dtype=np.float64)
    zz_idx = np.array([r * 8 + c for (r, c) in ZIGZAG])

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00" + bytes([1, 1, 0]) +
                struct.pack(">HH", 1, 1) + b"\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(int(qzz[k]) for k in range(64)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        hv = (sampling[ci][0] << 4) | sampling[ci][1]
        sof += bytes([ci + 1, hv, 0])  # shared qtable 0
    out += _seg(0xC0, sof)
    dht = _dht_payload(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    dht += _dht_payload(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    if ncomp == 3:
        dht += _dht_payload(0, 1, DC_CHR_BITS, DC_CHR_VALS)
    out += _seg(0xC4, dht)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        td_ta = 0x00 if ci == 0 else 0x10  # chroma: DC table 1, AC table 0
        sos += bytes([ci + 1, td_ta])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    # Gather every 8x8 block in MCU-interleaved scan order, DCT+quantize
    # them in ONE batched matmul (the per-block Python loop was the hot
    # spot), then entropy-code serially.
    block_comp: list[int] = []
    block_views = []
    for by in range(mby):
        for bx in range(mbx):
            for ci, plane in enumerate(comp_planes):
                hi, vi = sampling[ci]
                for v in range(vi):
                    for h_ in range(hi):
                        r0 = (by * vi + v) * 8
                        c0 = (bx * hi + h_) * 8
                        block_comp.append(ci)
                        block_views.append(plane[r0:r0 + 8, c0:c0 + 8])
    arr = np.stack(block_views).astype(np.float64) - 128.0
    f = cmat @ arr @ cmat.T  # broadcast over the block axis
    zzs = np.rint(f.reshape(len(block_views), 64)[:, zz_idx] / qzz)
    zzs = zzs.astype(np.int64)

    intervals = []
    writer = MsbWriter()
    preds = [0] * ncomp
    total_mcus = mby * mbx
    per_mcu = sum(hi * vi for hi, vi in sampling)
    bi = 0
    for mcu in range(total_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.align(1)  # pad with 1-bits before a marker
            intervals.append(writer.out)
            writer = MsbWriter()
            preds = [0] * ncomp
        for _ in range(per_mcu):
            ci = block_comp[bi]
            preds[ci] = _encode_block(
                [int(x) for x in zzs[bi]], preds[ci],
                _DC_LUM_CODES if ci == 0 else _DC_CHR_CODES,
                _AC_LUM_CODES, writer)
            bi += 1
    assert bi == len(block_views)
    writer.align(1)
    intervals.append(writer.out)
    out += stuff_scan(intervals)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(r: MsbReader, dc: PrefixCode, ac: PrefixCode,
                  q: list[int], zz_idx: list[int], pred: int, blk) -> int:
    """Entropy-decode and dequantize one block into ``blk`` (natural
    order); returns the component's new DC predictor."""
    s = dc.read(r)
    if s:
        pred += _extend(r.read(s), s)
    blk[zz_idx[0]] = pred * q[0]
    k = 1
    while k < 64:
        rs = ac.read(r)
        if rs == 0x00:  # EOB
            break
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("bad AC run/size")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC index overflow")
        blk[zz_idx[k]] = _extend(r.read(size), size) * q[k]
        k += 1
    return pred


def parse_jpeg(b: bytes) -> tuple:
    """Decode a baseline JPEG -> (w, h, ncomp, planes, restart_count).

    Implements the real grammar: SOI, marker walk (APPn/COM skipped by
    length), DQT (8-bit precision, multiple tables per segment), DHT
    (canonical code reconstruction from bits+values, multiple tables per
    segment), SOF0 (baseline only — SOF1/SOF2/... rejected), DRI, SOS,
    then the byte pass (:func:`unstuff_scan`: unstuffing, RSTn index
    sequence, EOI), Huffman entropy decode per restart interval (DC
    predictors reset), dezigzag, dequantize,
    float IDCT, level shift + clamp. ``planes`` is a list of ``ncomp``
    numpy uint8 arrays of shape (h, w) (YCbCr for color files — callers
    convert); ``restart_count`` counts RSTn markers consumed. Raises
    ValueError on malformed structure."""
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("bad SOI")
    i = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], PrefixCode] = {}
    sof = None
    dri = 0
    while True:
        if i + 4 > len(b):
            raise ValueError("truncated marker stream")
        if b[i] != 0xFF:
            raise ValueError(f"expected marker at {i}, got {b[i]:02X}")
        marker = b[i + 1]
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        (seglen,) = struct.unpack(">H", b[i + 2:i + 4])
        if seglen < 2 or i + 2 + seglen > len(b):
            raise ValueError("bad segment length")
        payload = b[i + 4:i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(payload):
                pq, tq = payload[j] >> 4, payload[j] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quantization supported")
                if j + 65 > len(payload):
                    raise ValueError("truncated DQT")
                qtables[tq] = list(payload[j + 1:j + 65])
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(payload):
                tc, th = payload[j] >> 4, payload[j] & 0x0F
                bits = list(payload[j + 1:j + 17])
                n = sum(bits)
                vals = list(payload[j + 17:j + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("truncated DHT")
                huff[(tc, th)] = _huffman_code(bits, vals)
                j += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if sof is not None:
                raise ValueError("duplicate SOF")
            prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = payload[6 + 3 * ci:9 + 3 * ci]
                comps.append((cid, tq, hv >> 4, hv & 0x0F))
            samplings = [(c[2], c[3]) for c in comps]
            if not (
                all(s == (1, 1) for s in samplings)
                or (
                    len(samplings) == 3
                    and samplings[0] == (2, 2)
                    and samplings[1] == samplings[2] == (1, 1)
                )
            ):
                raise ValueError(
                    "only 4:4:4 (all 1x1) or 4:2:0 (luma 2x2) supported"
                )
            sof = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline SOF not supported")
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack(">H", payload)
        elif marker == 0xDA:  # SOS
            break
        # APPn / COM / anything else with a length: skipped
    if sof is None:
        raise ValueError("SOS before SOF")
    w, h, comps = sof
    ns = payload[0]
    if ns != len(comps):
        raise ValueError("SOS component count mismatch")
    scan_tabs = []
    for ci in range(ns):
        cid, td_ta = payload[1 + 2 * ci:3 + 2 * ci]
        if cid != comps[ci][0]:
            raise ValueError("SOS component order mismatch")
        scan_tabs.append((td_ta >> 4, td_ta & 0x0F))
    ss, se, ahal = payload[1 + 2 * ns:4 + 2 * ns]
    if ss != 0 or se != 63 or ahal != 0:
        raise ValueError("non-sequential scan parameters")
    tables = []
    for ci in range(ns):
        dc_t = huff.get((0, scan_tabs[ci][0]))
        ac_t = huff.get((1, scan_tabs[ci][1]))
        q = qtables.get(comps[ci][1])
        if dc_t is None or ac_t is None or q is None:
            raise ValueError("scan references undefined table")
        tables.append((dc_t, ac_t, q))

    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mbx = (w + 8 * hmax - 1) // (8 * hmax)
    mby = (h + 8 * vmax - 1) // (8 * vmax)
    total_mcus = mbx * mby
    per = dri or total_mcus  # MCUs per restart interval
    intervals = unstuff_scan(b, i, -(-total_mcus // per))
    zz_idx = [r * 8 + c for (r, c) in ZIGZAG]
    cmat = _dct_matrix()
    # per-component block grids: (mby*Vi) x (mbx*Hi) blocks of 64 coeffs
    coeffs = [
        np.zeros((mby * comps[ci][3] * mbx * comps[ci][2], 64),
                 dtype=np.float64)
        for ci in range(ns)
    ]
    for k, data in enumerate(intervals):
        reader = MsbReader(data)
        preds = [0] * ns
        for mcu in range(k * per, min(total_mcus, (k + 1) * per)):
            my, mx = divmod(mcu, mbx)
            for ci in range(ns):
                dc_t, ac_t, q = tables[ci]
                hi, vi = comps[ci][2], comps[ci][3]
                for v in range(vi):
                    for h_ in range(hi):
                        bi = (my * vi + v) * (mbx * hi) + (mx * hi + h_)
                        preds[ci] = _decode_block(
                            reader, dc_t, ac_t, q, zz_idx, preds[ci],
                            coeffs[ci][bi],
                        )
        if reader.remaining() >= 8:  # only padding may follow the last MCU
            raise ValueError(f"unused entropy bytes in restart interval {k}")

    planes = []
    for ci in range(ns):
        hi, vi = comps[ci][2], comps[ci][3]
        bw, bh = mbx * hi, mby * vi
        f = coeffs[ci].reshape(bh * bw, 8, 8)
        spatial = cmat.T @ f @ cmat  # broadcast batched IDCT
        px = np.clip(np.rint(spatial + 128.0), 0, 255).astype(np.uint8)
        full = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
        for bi in range(bh * bw):
            br, bc = divmod(bi, bw)
            full[br * 8:(br + 1) * 8, bc * 8:(bc + 1) * 8] = px[bi]
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:  # nearest-neighbor chroma upsample
            full = np.repeat(np.repeat(full, fy, axis=0), fx, axis=1)
        planes.append(full[:h, :w])
    return w, h, ns, planes, len(intervals) - 1


def decode_jpeg_rgb(b: bytes):
    """parse_jpeg + YCbCr->RGB for 3-component files; grayscale passthrough.
    Returns (w, h, ch, uint8 array of shape (h, w[, 3]), restart_count)."""
    w, h, ns, planes, rc = parse_jpeg(b)
    if ns == 1:
        return w, h, 1, planes[0], rc
    if ns != 3:
        raise ValueError(f"unsupported component count {ns}")
    return w, h, 3, _ycbcr_to_rgb(*planes), rc


# --- the oracled corpus query ------------------------------------------------


def jpeg_block_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, wb, hb, blocks) frame: per document a wb x hb grid of
    8x8-flat block values taken from the document's leading utf-8 bytes
    (wb = 2 + doc_id % 3, hb = 1 + doc_id % 4). Flat blocks are the
    subspace where baseline JPEG is provably bit-exact (module docstring),
    so the full encode->decode pipeline gets a complete hash oracle."""
    raw = F.encode(F.col("text"), "UTF-8")
    wb = (F.lit(2) + F.col("doc_id") % 3).cast("int")
    hb = (F.lit(1) + F.col("doc_id") % 4).cast("int")
    return (
        docs.select(
            F.col("doc_id").alias("media_id"),
            wb.alias("wb"),
            hb.alias("hb"),
            F.expr(
                "substring(encode(text, 'UTF-8'), 1, "
                "cast((2 + doc_id % 3) * (1 + doc_id % 4) as int))"
            ).alias("blocks"),
            F.octet_length(raw).alias("n_bytes"),
        )
        .filter(F.col("n_bytes") >= F.col("wb") * F.col("hb"))
        .drop("n_bytes")
    )


_JPEG_ORACLE = """
    WITH g AS (
      SELECT doc_id AS media_id,
             2 + doc_id % 3 AS wb,
             1 + doc_id % 4 AS hb,
             hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    d AS (SELECT * FROM g WHERE n_bytes >= wb * hb),
    v AS (
      SELECT media_id, wb, hb,
             [ (instr('0123456789ABCDEF', hx[2*i+1]) - 1) * 16
             + (instr('0123456789ABCDEF', hx[2*i+2]) - 1)
               FOR i IN range(wb * hb)] AS bv
      FROM d
    )
    SELECT media_id,
           CAST(8 * wb AS INTEGER) AS w,
           CAST(8 * hb AS INTEGER) AS h,
           CAST(LIST_SUM(bv) // (wb * hb) AS INTEGER) AS mean_lum,
           CAST(8 * COALESCE(LIST_SUM([
             CASE WHEN i % wb <> 0 THEN ABS(bv[i+1] - bv[i]) ELSE 0 END
             FOR i IN range(1, wb * hb)]), 0) AS BIGINT) AS hgrad,
           CAST(8 * COALESCE(LIST_SUM([
             ABS(bv[i + wb + 1] - bv[i + 1])
             FOR i IN range(wb * (hb - 1))]), 0) AS BIGINT) AS vgrad,
           CAST((wb * hb - 1) // 3 AS INTEGER) AS restart_count
    FROM v
"""


_JPEG_STATS_SCHEMA = (
    "media_id long, w int, h int, mean_lum int, hgrad long, vgrad long, restart_count int"
)


def _decoded_jpeg_row(media_id, payload):
    """Decode one JPEG and report its luminance statistics (the sum // 3
    gray of the decoded RGB for color files) and consumed restart count."""
    w, h, ch, a, rc = decode_jpeg_rgb(payload)
    mean_lum, hgrad, vgrad = raster_stats(gray(a, w, h, ch))
    yield {
        "media_id": media_id,
        "w": w,
        "h": h,
        "mean_lum": mean_lum,
        "hgrad": hgrad,
        "vgrad": vgrad,
        "restart_count": rc,
    }


@query("multimodal_jpeg_decode", oracle=_JPEG_ORACLE)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-format codec roundtrip with a full hash oracle: build
    flat-block grayscale rasters from the documents table, encode them as
    genuine baseline JFIF JPEGs (:func:`encode_jpeg` — markers, Annex K
    Huffman tables, differential DC, byte stuffing, RSTn every 3 MCUs),
    decode with the hand-written :func:`parse_jpeg` (marker walk, DHT
    canonical-code rebuild, entropy decode with unstuffing and restart
    verification, dequantize, IDCT), and emit the same luminance/gradient
    statistics as the PNG/netpbm decodes plus the consumed restart count.
    On the flat-block subspace the pipeline is bit-exact (module
    docstring), so the oracle recomputes every column from the generation
    rule; the lossy general path is bounded by pytest.

    Scale: two chained :func:`map_rows` stages, no shuffle; O(pixels) per file.
    """
    corpus = jpeg_block_corpus(load_table(spark, sf_dir, "documents"))
    # One bounded round-robin fan-out of the tiny (media_id, blocks) rows:
    # the test corpus is a single small parquet split, which would pin all
    # per-file codec work to one task; a real corpus enters via a
    # binaryFile scan whose file splits already provide this parallelism.
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism)

    def transcode(media_id, wb, hb, blocks):
        raster = flat_blocks(blocks, wb, hb)
        yield {"media_id": media_id, "jpg": encode_jpeg(raster.tobytes(), wb * 8, hb * 8, 1)}

    jpgs = map_rows(corpus, transcode, "media_id long, jpg binary")
    return map_rows(jpgs, _decoded_jpeg_row, _JPEG_STATS_SCHEMA)


_JPEG420_ORACLE = """
    WITH g AS (
      SELECT doc_id AS media_id,
             2 * (2 + doc_id % 3) AS wb,
             2 * (1 + doc_id % 3) AS hb,
             hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    d AS (SELECT * FROM g WHERE n_bytes >= wb * hb),
    v AS (
      SELECT media_id, wb, hb,
             [ (instr('0123456789ABCDEF', hx[2*i+1]) - 1) * 16
             + (instr('0123456789ABCDEF', hx[2*i+2]) - 1)
               FOR i IN range(wb * hb)] AS bv
      FROM d
    )
    SELECT media_id,
           CAST(8 * wb AS INTEGER) AS w,
           CAST(8 * hb AS INTEGER) AS h,
           CAST(LIST_SUM(bv) // (wb * hb) AS INTEGER) AS mean_lum,
           CAST(8 * COALESCE(LIST_SUM([
             CASE WHEN i % wb <> 0 THEN ABS(bv[i+1] - bv[i]) ELSE 0 END
             FOR i IN range(1, wb * hb)]), 0) AS BIGINT) AS hgrad,
           CAST(8 * COALESCE(LIST_SUM([
             ABS(bv[i + wb + 1] - bv[i + 1])
             FOR i IN range(wb * (hb - 1))]), 0) AS BIGINT) AS vgrad,
           CAST(((wb * hb) // 4 - 1) // 3 AS INTEGER) AS restart_count
    FROM v
"""


@query("multimodal_jpeg420_decode", oracle=_JPEG420_ORACLE)
def multimodal_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION JPEG mode — 4:2:0 chroma subsampling — through the
    full three-component color path, with a complete hash oracle.

    Exactness argument extending the flat-block one: the corpus rasters
    are R=G=B per pixel (flat 8x8 luma blocks), so the BT.601 forward
    transform lands within ~1e-13 of (Y=v, Cb=128, Cr=128) and rounds
    exactly; the chroma planes are then CONSTANT 128 — the 2x2
    floor-average pools them exactly, their DCT is DC=0 after level
    shift, and reconstruction + nearest-neighbor upsampling returns
    exactly 128; the inverse color transform adds exactly zero chroma
    terms, recovering R=G=B=v bit-for-bit. Every 4:2:0-specific
    mechanism still runs for real: 16x16 MCUs interleaving four Y blocks
    + Cb + Cr, three DC predictors, the chroma DC Huffman table, restart
    markers at MCU (not block) granularity — restart_count recomputed by
    the oracle from the MCU geometry (wb*hb/4 MCUs), which a decoder
    that miscounts blocks-per-MCU cannot reproduce. The luminance stats
    are computed from the decoded RGB as sum//3, so a channel-divergence
    bug anywhere in the chroma path shifts the stats and fails the hash.
    The lossy general path (noisy chroma destroyed by pooling) is
    pytest-bounded on smooth images (tests/test_multimodal_jpeg.py).

    Scale: identical to multimodal_jpeg_decode — two chained ``map_rows``
    stages plus the one bounded fan-out Exchange of raw block rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    wb = (F.lit(2) * (F.lit(2) + F.col("doc_id") % 3)).cast("int")
    hb = (F.lit(2) * (F.lit(1) + F.col("doc_id") % 3)).cast("int")
    corpus = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            wb.alias("wb"),
            hb.alias("hb"),
            F.expr(
                "substring(encode(text, 'UTF-8'), 1, "
                "cast(4 * (2 + doc_id % 3) * (1 + doc_id % 3) as int))"
            ).alias("blocks"),
            F.octet_length(raw).alias("n_bytes"),
        )
        .filter(F.col("n_bytes") >= F.col("wb") * F.col("hb"))
        .drop("n_bytes")
        # same bounded fan-out as multimodal_jpeg_decode: codec work per
        # file, scan gives one split on the test corpus
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def transcode(media_id, wb, hb, blocks):
        import numpy as np

        rgb = np.repeat(flat_blocks(blocks, wb, hb)[:, :, None], 3, axis=2)
        yield {
            "media_id": media_id,
            "jpg": encode_jpeg(rgb.tobytes(), wb * 8, hb * 8, 3, subsample=True),
        }

    jpgs = map_rows(corpus, transcode, "media_id long, jpg binary")
    return map_rows(jpgs, _decoded_jpeg_row, _JPEG_STATS_SCHEMA)
