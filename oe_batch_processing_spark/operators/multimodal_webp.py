"""WebP lossless (VP8L, RFC 9649) — the final capability stub retired, on
the H.264 I-PCM precedent: a spec-subset closed under our own encoder, with
the substantive machinery (the canonical double-Huffman entropy layer and
the RIFF/VP8L container grammar) fully real.

Subset contract — LZ77 + literals + subtract-green VP8L (no cache/meta):
* RIFF container: ``RIFF <size> WEBP VP8L <size> <payload>`` with exact
  size validation and odd-length padding.
* VP8L header: 0x2F signature, 14-bit width-1 / height-1, alpha hint,
  3-bit version (must be 0) — all in VP8L's LSB-first bit order.
* ALL FOUR RFC transforms are real on both sides, driven by our own
  encoder. SUBTRACT-GREEN (type 2): r' = (r-g) & 255 / b' = (b-g) & 255 —
  identically zero for grayscale, collapsing red/blue to zero-bit simple
  codes. PREDICTOR (type 0, round 10): all 14 modes, per-8x8-block
  deterministic selection, the mode image as a genuine entropy-coded
  subimage, sequential inverse with the exceptional rightmost-column TR
  addressing and C-truncation ClampAddSubtractHalf. COLOR-INDEXING
  (type 3, round 10): difference-coded palette subimage plus the spec's
  index BUNDLING (8/4/2 indices per coded pixel below 3/5/17 colors, the
  coded width shrinking to match). COLOR / cross-color (type 1, round
  11 — the last transform): per-8x8-block (g2r, g2b, r2b) deltas chosen
  against the actual channel values, stored as a genuine entropy-coded
  subimage, §4.3 ColorTransformDelta inverse in decode; the DEFAULT
  grayscale base transform (its data-driven choice lands on the (32, 32,
  0) subtract-green identity), and the full nonzero-residual path through
  encode_webp_vp8l_rgb / parse_webp_vp8l_rgb on cross-channel-correlated
  RGB corpora. The decoder walks the signaling loop and still rejects BY
  NAME: double-signaling, subimage color caches, the meta prefix image,
  subimage backreferences, predictor-without-a-base-transform, CC+SG
  double base, and palette combined with the other transforms (the
  pipelines are alternatives, as in libwebp; emitting untested decoder
  code would be worse than an honest subset).
* The five prefix codes (green+length, red, blue, alpha, distance) are
  REAL RFC 9649 prefix codes, both serializations: the simple two-symbol
  form (used for the constant alpha plane and the unused distance code —
  zero bits per pixel) and the full complex form — a code-length code
  over the 19-symbol kCodeLengthCodeOrder alphabet, 3-bit lengths,
  RLE symbols 16/17/18 with their extra bits, canonical code assignment
  (DEFLATE-style: codes packed MSB-first into the LSB-first stream), and
  flat-table decoding on the read side. The LSB-first bit reader/writer
  and the canonical code (with its per-length decode walk) are the shared
  ones in ``bitio``. Green/red/blue codes
  are built from the actual per-image histograms, so code lengths VARY
  with the data and the entropy layer genuinely compresses (asserted:
  the corpus is skew-distributed and its zero runs feed the LZ77 layer:
  ~3 coded bits/pixel vs 8 raw, asserted per image).
* Pixels decode in scan order with REAL LZ77 backreferences: literal
  green symbols < 256 carry red/blue/alpha through their own codes;
  green symbols 256..279 are length prefix codes (the RFC scheme — codes
  0..3 direct, then (2 + (code&1)) << extra_bits ranges with extra
  bits), followed by a distance prefix code under the same scheme.
  Backrefs copy whole pixels from the reconstructed output with
  overlap-correct semantics (dist 1 + long length = RLE). The encoder is
  a deterministic greedy last-occurrence parser (determinism feeds the
  re-encode-roundtrip assertion); plain distances are emitted as
  dist + 120, and the one remaining un-emitted corner — the RFC's <=120
  pixel-NEIGHBORHOOD distance-map codes — is rejected by name. (That map
  is a fixed NORMATIVE 120-entry (dx, dy) table in the RFC; this
  environment has no copy of the spec or libwebp to transcribe it from,
  and a from-memory reconstruction would decode our own streams while
  silently violating the spec — the by-name rejection is the honest
  boundary until the table can be transcribed verbatim.)

The subset is final: the <=120 distance map needs the RFC's normative
120-entry table transcribed verbatim, the meta prefix image only pays off
on multi-tile images (our corpora are single-tile, so no test could
exercise it), and lossy VP8 is a different codec.

Lossless means the WHOLE corpus hash-oracles (the GIF precedent): pixels
are md5-keyed skewed bytes both engines regenerate identically, DuckDB
recomputes every statistic from the generation rule, Spark recomputes
them from the DECODED image, and an in-operator roundtrip assertion
re-encodes the decoded raster and demands the exact original file bytes.

Scale: per-document codec work in one ``map_rows`` after the standard
bounded round-robin fan-out; a real corpus enters at the decode stage
from a binaryFile scan of .webp blobs.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    PrefixCode,
)
from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

# RFC 9649 constants
SIGNATURE = 0x2F
CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]
GREEN_ALPHABET = 256 + 24  # literals + length codes (cache symbols append)
MAX_CODE_LEN = 15


# --- canonical prefix codes ----------------------------------------------------


ENC_MAX_LEN = 9  # encoder-side cap: keeps decode tables at 512 entries (<=10
# stays on the flat-table decode path) while admitting a complete code over
# the full 280-symbol green alphabet (2^8 = 256 was one histogram away from
# "alphabet too large" on full-range grayscale input)
ENC_MAX_LEN_CACHE = 10  # green-code cap when the color cache is on: the
# alphabet gains up to 2^cache_bits cache-hit symbols, so full-range
# grayscale input can occur 256 literals + 24 length codes + up to 256
# distinct cache slots = 536 distinct symbols > 2^9 (the exact failure the
# 8->9 bump fixed for the cacheless path). 2^10 = 1024 admits the grayscale
# worst case and still decodes via the flat table (<= 10).


def huffman_lengths(freqs: dict[int, int], cap: int = ENC_MAX_LEN) -> dict[int, int]:
    """Code lengths from frequencies (heap Huffman), length-limited to
    ``cap`` by clamp + Kraft repair (deepen the deepest under-cap symbol
    until the inequality holds — validity over the last fraction of a
    percent of optimality). A lone symbol gets length 1: a 1-symbol code
    costs zero bits per use on both sides. The cap is an ENCODER choice:
    ~38-symbol histograms cost <1% vs unlimited depth, and it bounds the
    decoder's flat lookup table at 2^cap."""
    import heapq
    import itertools

    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    tie = itertools.count()
    heap = [(f, next(tie), {s: 0}) for s, f in sorted(freqs.items())]
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, _, d1 = heapq.heappop(heap)
        f2, _, d2 = heapq.heappop(heap)
        merged = {s: d + 1 for s, d in d1.items()}
        merged.update({s: d + 1 for s, d in d2.items()})
        heapq.heappush(heap, (f1 + f2, next(tie), merged))
    lengths = heap[0][2]
    if cap is not None:
        if len(lengths) > (1 << cap):
            raise ValueError("alphabet too large for the length cap")
        lengths = {s: min(ln, cap) for s, ln in lengths.items()}
        # integer Kraft in units of 2^-cap: sum(2^(cap-ln)) vs 2^cap — the
        # exact same inequality the Fraction form expressed, no rationals
        unit = 1 << cap
        kraft = sum(1 << (cap - ln) for ln in lengths.values())
        while kraft > unit:
            s = max(
                (s for s, ln in lengths.items() if ln < cap),
                key=lambda s: (lengths[s], s),
            )
            lengths[s] += 1
            kraft -= 1 << (cap - lengths[s])
    if max(lengths.values()) > MAX_CODE_LEN:
        raise ValueError("prefix code deeper than 15 bits")
    return lengths


def code_order(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """The symbols of nonzero length in DEFLATE code order — by length,
    then symbol — and their lengths, for :class:`bitio.PrefixCode`."""
    symbols = sorted(
        (s for s in lengths if lengths[s]), key=lambda s: (lengths[s], s)
    )
    return symbols, [lengths[s] for s in symbols]


def lsb_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (bit-reversed canonical code, length): one LSB-first
    field per symbol emits its code MSB first, the order the decoder
    reads. A 1-symbol code costs zero bits."""
    if len(lengths) < 2:
        return {next(iter(lengths)): (0, 0)}
    return {
        s: (int(f"{c:0{nb}b}"[::-1], 2), nb)
        for s, (c, nb) in PrefixCode(*code_order(lengths)).codes().items()
    }


class CanonicalDecoder:
    """VP8L symbol decoder: zero bits for a 1-symbol code, else a flat
    lookup table of the next ``maxlen`` stream bits when the code is at
    most 10 bits deep (always true for our capped encoder), else the
    shared canonical walk (:meth:`bitio.PrefixCode.read`)."""

    def __init__(self, lengths: dict[int, int]) -> None:
        symbols, lens = code_order(lengths)
        if not symbols:
            raise ValueError("prefix code with no symbols")
        if len(symbols) == 1:
            self.only = symbols[0]
            return
        self.only = None
        self.maxlen = lens[-1]
        if self.maxlen > 10:
            self.table = None
            self.code = PrefixCode(symbols, lens)
            return
        # the table is keyed by the next maxlen STREAM bits as an
        # LSB-first integer: a code emitted MSB-first occupies stream bits
        # 0..L-1 as its bit-reversal, upper index bits are don't-cares
        self.table = [None] * (1 << self.maxlen)
        for sym, (rev, ln) in lsb_codes(lengths).items():
            for k in range(1 << (self.maxlen - ln)):
                self.table[rev | (k << ln)] = (sym, ln)

    def read(self, r: LsbReader) -> int:
        if self.only is not None:
            return self.only
        if self.table is not None:
            # inlined peek + advance on the reader's fields: one attribute
            # round-trip per symbol instead of method calls (this is the
            # per-pixel hot path of every decode query)
            need = self.maxlen
            nbuf = r.nbuf
            if nbuf < need:
                data, byte_pos, buf = r.data, r.byte_pos, r.buf
                n_data = len(data)
                while nbuf < need and byte_pos < n_data:
                    buf |= data[byte_pos] << nbuf
                    byte_pos += 1
                    nbuf += 8
                r.byte_pos, r.buf, r.nbuf = byte_pos, buf, nbuf
            entry = self.table[r.buf & ((1 << need) - 1)]
            if entry is None:
                raise ValueError("invalid prefix code in stream")
            ln = entry[1]
            if r.consumed + ln > r.total_bits:
                raise ValueError("bitstream exhausted")
            r.buf >>= ln
            r.nbuf = nbuf - ln
            r.consumed += ln
            return entry[0]
        return self.code.read(r)


# --- prefix-code (de)serialization (RFC 9649 section 5.2.2) --------------------


def write_prefix_code(w: LsbWriter, lengths: dict[int, int], alphabet: int) -> None:
    nonzero = {s: ln for s, ln in lengths.items() if ln > 0}
    if len(nonzero) <= 2 and max(nonzero) <= 255:
        syms = sorted(nonzero)
        w.write(1, 1)                 # simple code
        w.write(len(syms) - 1, 1)     # num_symbols - 1
        if len(syms) == 1 and syms[0] <= 1:
            w.write(0, 1)             # first symbol fits in 1 bit
            w.write(syms[0], 1)
        else:
            w.write(1, 1)
            w.write(syms[0], 8)
        if len(syms) == 2:
            w.write(syms[1], 8)
        return

    w.write(0, 1)  # complex code
    # the decoder reads lengths until the FULL alphabet is covered (no
    # max_symbol shortcut), so the sequence must span it — trailing zeros
    # collapse into 17/18 repeat codes
    seq = [0] * alphabet  # sparse fill beats alphabet dict.get calls
    for _s, _ln in lengths.items():
        if _ln:
            # invariant: symbols fit the alphabet (the pre-r15 dict.get
            # loop silently ignored strays; fail loudly instead — a
            # negative index would silently WRAP and corrupt the code)
            assert 0 <= _s < alphabet, (_s, alphabet)
            seq[_s] = _ln
    # RLE the length sequence with symbols 16/17/18
    rle: list[tuple[int, int, int]] = []  # (symbol, extra, extra_bits)
    i = 0
    while i < len(seq):
        v = seq[i]
        run = 1
        while i + run < len(seq) and seq[i + run] == v:
            run += 1
        if v == 0:
            r = run
            while r >= 11:
                n = min(r, 138)
                rle.append((18, n - 11, 7))
                r -= n
            while r >= 3:
                n = min(r, 10)
                rle.append((17, n - 3, 3))
                r -= n
            rle.extend((0, 0, 0) for _ in range(r))
        else:
            rle.append((v, 0, 0))
            r = run - 1
            while r >= 3:
                n = min(r, 6)
                rle.append((16, n - 3, 2))
                r -= n
            rle.extend((v, 0, 0) for _ in range(r))
        i += run
    clc_freq: dict[int, int] = {}
    for sym, _, _ in rle:
        clc_freq[sym] = clc_freq.get(sym, 0) + 1
    # the serialized length field is 3 bits, so the code-length code must
    # be length-limited to 7 (a Fibonacci-skewed histogram takes plain
    # Huffman to depth 8) — the Kraft repair inside huffman_lengths
    # guarantees the cap
    clc_len = huffman_lengths(clc_freq, cap=7)
    # emit lengths of the code-length code in the fixed 19-symbol order
    last = max(i for i, s in enumerate(CODE_LENGTH_ORDER) if clc_len.get(s, 0))
    num = max(4, last + 1)
    w.write(num - 4, 4)
    for s in CODE_LENGTH_ORDER[:num]:
        w.write(clc_len.get(s, 0), 3)
    w.write(0, 1)  # no max_symbol shortcut
    codes = lsb_codes(clc_len)
    for sym, extra, ebits in rle:
        w.write(*codes[sym])
        if ebits:
            w.write(extra, ebits)


def read_prefix_code(r: LsbReader, alphabet: int) -> CanonicalDecoder:
    if r.read(1):  # simple
        n_sym = r.read(1) + 1
        if r.read(1):
            s0 = r.read(8)
        else:
            s0 = r.read(1)
        lengths = {s0: 1}
        if n_sym == 2:
            s1 = r.read(8)
            if s1 == s0:
                raise ValueError("simple prefix code repeats a symbol")
            lengths[s1] = 1
        if max(lengths) >= alphabet:
            raise ValueError("simple prefix symbol out of alphabet")
        return CanonicalDecoder(lengths)

    num = r.read(4) + 4
    if num > len(CODE_LENGTH_ORDER):
        raise ValueError("too many code-length-code lengths")
    clc_len = {}
    for s in CODE_LENGTH_ORDER[:num]:
        ln = r.read(3)
        if ln:
            clc_len[s] = ln
    if r.read(1):
        raise ValueError("max_symbol shortcut unsupported in this subset")
    clc = CanonicalDecoder(clc_len)
    lengths: dict[int, int] = {}
    i = 0
    prev = 8  # RFC default when 16 appears before any literal length
    while i < alphabet:
        sym = clc.read(r)
        if sym < 16:
            if sym:
                lengths[i] = sym
                prev = sym
            i += 1
        elif sym == 16:
            n = 3 + r.read(2)
            for _ in range(n):
                if i >= alphabet:
                    raise ValueError("code-length repeat overruns alphabet")
                lengths[i] = prev
                i += 1
        elif sym == 17:
            i += 3 + r.read(3)
        else:
            i += 11 + r.read(7)
    if i != alphabet and i > alphabet:
        raise ValueError("code-length stream overruns alphabet")
    return CanonicalDecoder(lengths)


# --- encoder --------------------------------------------------------------------


MIN_MATCH = 3  # minimum backreference length the encoder emits


def _prefix_encode_value_raw(v: int) -> tuple[int, int, int]:
    """RFC 9649 LZ77 prefix scheme, inverse of :func:`prefix_decode_value`:
    value -> (prefix_code, extra, extra_bits). Codes 0..3 carry 1..4
    directly; beyond that, code 2*hb+b for x = v-1 with high bit hb and
    second bit b, extra = the remaining low bits."""
    if v < 1:
        raise ValueError("LZ77 value must be >= 1")
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    hb = x.bit_length() - 1
    b = (x >> (hb - 1)) & 1
    return 2 * hb + b, x - ((2 + b) << (hb - 1)), hb - 1


# the encoder calls the prefix scheme twice per backref in two passes
# (histogram + emit); lengths and plain distances at our image sizes are
# small, so a one-time table turns those calls into a list index
_PREFIX_TABLE_MAX = 1 << 12  # covers every length/distance our image sizes emit;
# larger values fall through to the raw computation
_PREFIX_TABLE = [None] + [
    _prefix_encode_value_raw(v) for v in range(1, _PREFIX_TABLE_MAX)
]


def prefix_encode_value(v: int) -> tuple[int, int, int]:
    """Table-accelerated :func:`_prefix_encode_value_raw` (same mapping)."""
    if 0 < v < _PREFIX_TABLE_MAX:
        return _PREFIX_TABLE[v]
    return _prefix_encode_value_raw(v)


def prefix_decode_value(code: int, r: LsbReader) -> int:
    """RFC 9649: codes 0..3 -> 1..4; else extra_bits = (code-2)>>1,
    offset = (2 + (code&1)) << extra_bits, value = offset + extra + 1."""
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    return ((2 + (code & 1)) << extra_bits) + r.read(extra_bits) + 1


def lz77_parse(raster: bytes) -> list[tuple[int, int, int]]:
    """Deterministic greedy parse: (literal, value, 0) | (backref, length,
    distance) ops. Single last-occurrence hash on 3-grams, greedy extend —
    O(n), pure function of the raster (the re-encode roundtrip assertion
    depends on determinism)."""
    assert MIN_MATCH == 3  # the packed integer gram below encodes exactly 3 bytes
    n = len(raster)
    ops: list[tuple[int, int, int]] = []
    # integer 3-gram keys ((b0<<16)|(b1<<8)|b2) — same last-occurrence map
    # as bytes-slice keys (the gram IS the slice); the whole gram column is
    # vectorized once instead of three byte reads + shifts per position
    if n >= MIN_MATCH:
        import numpy as np

        a = np.frombuffer(raster, dtype=np.uint8).astype(np.uint32)
        grams = ((a[:-2] << 16) | (a[1:-1] << 8) | a[2:]).tolist()
    last: dict[int, int] = {}
    append = ops.append
    get = last.get
    i = 0
    limit = n - MIN_MATCH
    while i < n:
        match_len = 0
        match_dist = 0
        if i <= limit:
            key = grams[i]
            j = get(key, -1)
            if j >= 0:
                # overlap-safe: position j+length always precedes i+length,
                # so comparing against the original raster IS comparing
                # against the decoder's already-reconstructed prefix
                length = MIN_MATCH
                # chunked extension first: bytes slice equality is one C
                # memcmp per 16-byte stride (overlap-safe for the same
                # reason as the byte walk — both sides read the ORIGINAL
                # raster and j + length < i + length throughout); the
                # byte loop then finds the exact mismatch point, so the
                # greedy length is identical
                while (
                    i + length + 16 <= n
                    and raster[j + length:j + length + 16]
                    == raster[i + length:i + length + 16]
                ):
                    length += 16
                while i + length < n and raster[j + length] == raster[i + length]:
                    length += 1
                match_len, match_dist = length, i - j
        if match_len >= MIN_MATCH:
            append((1, match_len, match_dist))
            end = min(i + match_len, limit + 1)
            # same final map as the k-loop (zip preserves order, later
            # positions overwrite), iterated C-side by dict.update
            last.update(zip(grams[i:end], range(i, end)))
            i += match_len
        else:
            append((0, raster[i], 0))
            if i <= limit:
                last[key] = i
            i += 1
    return ops


def lz77_would_emit_backref(raster: bytes) -> bool:
    """True iff :func:`lz77_parse`'s op list contains >= 1 backref —
    WITHOUT running the parse (r16: the lossless query's corpus assertion
    was a third full greedy parse per document, ~8% of the row's kernel
    time, used only for this existence bit).

    Equivalence proof: the greedy parse emits a backref iff some 3-gram
    occurs twice in the raster. (=>) a backref at i copies from j < i, so
    the gram at j recurs at the match. (<=) suppose no backref is ever
    emitted; then every position is taken as a literal, so every position
    p <= n-3 records its gram in the last-occurrence map before the scan
    moves past p — at the SECOND occurrence of the repeated gram the map
    lookup therefore hits, match_len >= MIN_MATCH, and a backref is
    emitted: contradiction. Repeated-gram existence is one vectorized
    unique-count, no Python loop."""
    n = len(raster)
    if n < MIN_MATCH:
        return False
    import numpy as np

    a = np.frombuffer(raster, dtype=np.uint8).astype(np.uint32)
    grams = (a[:-2] << 16) | (a[1:-1] << 8) | a[2:]
    return np.unique(grams).size < grams.size


# --- predictor transform (RFC 9649 §4.4.1) -------------------------------------

PRED_BLOCK_BITS = 3  # encoder choice: 8x8 blocks (stored as size_bits - 2)
N_PRED_MODES = 14


def _div2_trunc(v):
    """C-style (v / 2): truncation toward zero, also on negatives —
    numpy- and int-compatible (RFC 9649 ClampAddSubtractHalf)."""
    import numpy as np

    if isinstance(v, int):
        return v // 2 if v >= 0 else -((-v) // 2)
    return np.where(v >= 0, v >> 1, -((-v) >> 1))


def _pred_green(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    """Scalar green-channel predictor for one interior pixel (decode side).
    Alpha/red/blue never need prediction in the grayscale+subtract-green
    subset: their residuals are structurally zero under every mode."""
    if mode == 0:
        return 0  # ARGB black: green component 0
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return (((L + TR) >> 1) + T) >> 1
    if mode == 6:
        return (L + TL) >> 1
    if mode == 7:
        return (L + T) >> 1
    if mode == 8:
        return (TL + T) >> 1
    if mode == 9:
        return (T + TR) >> 1
    if mode == 10:
        return (((L + TL) >> 1) + ((T + TR) >> 1)) >> 1
    if mode == 11:
        # Select: alpha/red/blue contribute zero to both distances in this
        # subset, so only the green terms decide
        p = L + T - TL
        return L if abs(p - L) <= abs(p - T) else T
    if mode == 12:
        return min(255, max(0, L + T - TL))
    if mode == 13:
        ave = (L + T) >> 1
        return min(255, max(0, ave + _div2_trunc(ave - TL)))
    raise ValueError(f"invalid predictor mode {mode}")


def _neighbor_planes(g):
    """Encoder-side L/T/TL/TR planes from the original green plane (the
    transform is computed against actual values, so prediction needs no
    sequential reconstruction on the encode side). Row 0 / column 0 use
    fixed edge rules and are excluded from mode costs; TR on the rightmost
    column is the leftmost pixel of the SAME row (RFC 9649's exceptional
    addressing — contiguous-memory wraparound made normative)."""
    import numpy as np

    gi = g.astype(np.int32)
    L = np.zeros_like(gi)
    T = np.zeros_like(gi)
    TL = np.zeros_like(gi)
    TR = np.zeros_like(gi)
    L[:, 1:] = gi[:, :-1]
    T[1:, :] = gi[:-1, :]
    TL[1:, 1:] = gi[:-1, :-1]
    TR[1:, :-1] = gi[:-1, 1:]
    TR[1:, -1] = gi[1:, 0]
    return gi, L, T, TL, TR


def _mode_pred_plane(mode: int, L, T, TL, TR):
    import numpy as np

    a2 = lambda a, b: (a + b) >> 1  # noqa: E731
    if mode == 0:
        return np.zeros_like(L)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return a2(a2(L, TR), T)
    if mode == 6:
        return a2(L, TL)
    if mode == 7:
        return a2(L, T)
    if mode == 8:
        return a2(TL, T)
    if mode == 9:
        return a2(T, TR)
    if mode == 10:
        return a2(a2(L, TL), a2(T, TR))
    if mode == 11:
        p = L + T - TL
        return np.where(np.abs(p - L) <= np.abs(p - T), L, T)
    if mode == 12:
        return np.clip(L + T - TL, 0, 255)
    if mode == 13:
        ave = a2(L, T)
        return np.clip(ave + _div2_trunc(ave - TL), 0, 255)
    raise ValueError(f"invalid predictor mode {mode}")


def choose_predictor_modes(g, w_px: int, h_px: int):
    """Deterministic per-block mode selection: minimize the summed
    wrap-distance min(res, 256-res) of green residuals over the block's
    interior pixels (row 0 / col 0 predictions are mode-independent edge
    rules, so they cannot discriminate); ties break to the LOWEST mode.
    Returns (modes[bh, bw], residual_plane[h, w])."""
    import numpy as np

    bw = (w_px + (1 << PRED_BLOCK_BITS) - 1) >> PRED_BLOCK_BITS
    bh = (h_px + (1 << PRED_BLOCK_BITS) - 1) >> PRED_BLOCK_BITS
    gi, L, T, TL, TR = _neighbor_planes(g)
    interior = np.ones((h_px, w_px), dtype=bool)
    interior[0, :] = False
    interior[:, 0] = False

    costs = np.zeros((N_PRED_MODES, bh, bw), dtype=np.int64)
    preds = []
    for m in range(N_PRED_MODES):
        pm = _mode_pred_plane(m, L, T, TL, TR)
        preds.append(pm)
        res = (gi - pm) & 255
        c = np.where(interior, np.minimum(res, 256 - res), 0)
        # per-block sums via padded reshape
        pad_h = bh << PRED_BLOCK_BITS
        pad_w = bw << PRED_BLOCK_BITS
        cp = np.zeros((pad_h, pad_w), dtype=np.int64)
        cp[:h_px, :w_px] = c
        costs[m] = cp.reshape(
            bh, 1 << PRED_BLOCK_BITS, bw, 1 << PRED_BLOCK_BITS
        ).sum(axis=(1, 3))
    modes = costs.argmin(axis=0).astype(np.int64)  # first min = lowest mode

    # assemble the residual plane: per-pixel block mode, then edge rules
    mode_px = np.repeat(
        np.repeat(modes, 1 << PRED_BLOCK_BITS, axis=0),
        1 << PRED_BLOCK_BITS,
        axis=1,
    )[:h_px, :w_px]
    pred = np.choose(mode_px, preds)
    pred[0, 0] = 0
    pred[0, 1:] = L[0, 1:]
    pred[1:, 0] = T[1:, 0]
    residual = ((gi - pred) & 255).astype(np.uint8)
    return modes, residual


def inverse_predict(
    res: bytes, w_px: int, h_px: int, modes, size_bits: int = PRED_BLOCK_BITS
) -> bytes:
    """Decode-side sequential reconstruction of the green plane from the
    residual plane + per-block modes (reconstructed neighbors == original
    values, so this inverts choose_predictor_modes exactly). Fast paths
    for the run-dominant modes 0 (pred 0) and 2 (pred = row above)."""
    out = bytearray(w_px * h_px)
    for y in range(h_px):
        row0 = y * w_px
        brow = modes[y >> size_bits]
        if y == 0:
            acc = 0
            for x in range(w_px):
                acc = res[x] if x == 0 else (res[x] + acc) & 255
                out[x] = acc
            continue
        out[row0] = (res[row0] + out[row0 - w_px]) & 255
        x = 1
        while x < w_px:
            mode = brow[x >> size_bits]
            run_end = min(((x >> size_bits) + 1) << size_bits, w_px)
            if mode == 0:
                out[row0 + x:row0 + run_end] = res[row0 + x:row0 + run_end]
                x = run_end
            elif mode == 2:
                for i in range(row0 + x, row0 + run_end):
                    out[i] = (res[i] + out[i - w_px]) & 255
                x = run_end
            else:
                for i in range(row0 + x, row0 + run_end):
                    xx = i - row0
                    tr = out[i - w_px + 1] if xx < w_px - 1 else out[row0]
                    p = _pred_green(
                        mode, out[i - 1], out[i - w_px], out[i - w_px - 1], tr
                    )
                    out[i] = (res[i] + p) & 255
                x = run_end
    return bytes(out)


def _write_mode_subimage(w: LsbWriter, modes) -> None:
    """Serialize the predictor mode image as a real entropy-coded VP8L
    subimage (libwebp's DecodeImageStream with is_level0=False): the block
    modes as literal pixels ARGB=(255, 0, mode, 0) — mode in the green
    channel; the constant channels get zero-bit codes."""
    flat = [int(m) for row in modes for m in row]
    _write_argb_subimage(w, [(255, 0, m, 0) for m in flat])


def _read_mode_subimage(r: LsbReader, bw: int, bh: int):
    """Decode the predictor mode image; validates the subset invariants
    (r=b=0, alpha=255, literal-only, modes < 14)."""
    pixels = _read_argb_subimage(r, bw * bh, "mode")
    for a, rr, m, bb in pixels:
        if m >= N_PRED_MODES:
            raise ValueError(f"invalid predictor mode {m}")
        if rr or bb:
            raise ValueError("non-zero red/blue in the mode subimage")
        if a != 255:
            raise ValueError("non-opaque mode-subimage pixel")
    return [[p[2] for p in pixels[y * bw:(y + 1) * bw]] for y in range(bh)]


# --- color-indexing (palette) transform (RFC 9649 §4.4.3) ----------------------


def palette_width_bits(n_colors: int) -> int:
    """Index-bundling factor: <=2 colors pack 8 one-bit indices per green
    byte (width_bits 3), <=4 pack 4, <=16 pack 2, else no packing. The
    coded image's width SHRINKS to ceil(w / 2^width_bits)."""
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _write_argb_subimage(w: LsbWriter, pixels: list[tuple[int, int, int, int]]) -> None:
    """Serialize a tiny ARGB image (the palette row) as a real
    entropy-coded VP8L subimage: color-cache bit, five prefix codes over
    the actual per-channel histograms, literal pixels only."""
    w.write(0, 1)  # no color cache
    hists: list[dict[int, int]] = [{}, {}, {}, {}]  # g, r, b, a
    for a, rr, g, bb in pixels:
        for h, v in zip(hists, (g, rr, bb, a)):
            h[v] = h.get(v, 0) + 1

    glen, rlen, blen, alen = (huffman_lengths(h) for h in hists)
    write_prefix_code(w, glen, GREEN_ALPHABET)
    write_prefix_code(w, rlen, 256)
    write_prefix_code(w, blen, 256)
    write_prefix_code(w, alen, 256)
    write_prefix_code(w, {0: 1}, 40)  # distance: present, unused

    ge, re_, be, ae = (lsb_codes(x) for x in (glen, rlen, blen, alen))
    for a, rr, g, bb in pixels:  # literal channel order: g, r, b, a
        for table, v in ((ge, g), (re_, rr), (be, bb), (ae, a)):
            code, nb = table[v]
            w.write(code, nb)


def _read_argb_subimage(
    r: LsbReader, n: int, what: str
) -> list[tuple[int, int, int, int]]:
    """Decode n literal ARGB pixels of the embedded ``what`` subimage."""
    if r.read(1):
        raise ValueError("color cache unsupported in this subset (subimage)")
    green = read_prefix_code(r, GREEN_ALPHABET)
    red = read_prefix_code(r, 256)
    blue = read_prefix_code(r, 256)
    alpha = read_prefix_code(r, 256)
    read_prefix_code(r, 40)
    out = []
    for _ in range(n):
        g = green.read(r)
        if g >= 256:
            raise ValueError(
                f"backreferences in the {what} subimage unsupported in "
                "this subset"
            )
        rr = red.read(r)
        bb = blue.read(r)
        a = alpha.read(r)
        out.append((a, rr, g, bb))
    return out


def _pack_palette_indices(
    raster: bytes, w_px: int, h_px: int, index_of: dict[int, int], wbits: int
) -> tuple[bytes, int]:
    """Row-wise index bundling: 2^wbits indices per green byte, LSB-first
    sub-pixel order, zero padding bits in the last packed byte of a row.
    Returns (packed plane, packed width)."""
    packed_w = (w_px + (1 << wbits) - 1) >> wbits
    bits = 8 >> wbits
    out = bytearray(packed_w * h_px)
    for y in range(h_px):
        row = y * w_px
        prow = y * packed_w
        for x in range(w_px):
            out[prow + (x >> wbits)] |= index_of[raster[row + x]] << (
                (x & ((1 << wbits) - 1)) * bits
            )
    return bytes(out), packed_w


def _unpack_palette_indices(
    packed: bytes, w_px: int, h_px: int, values: list[int], wbits: int
) -> bytes:
    """Inverse of :func:`_pack_palette_indices`; validates index range and
    the zero-padding discipline on each row's last packed byte."""
    packed_w = (w_px + (1 << wbits) - 1) >> wbits
    bits = 8 >> wbits
    mask = (1 << bits) - 1
    n = len(values)
    out = bytearray(w_px * h_px)
    per = 1 << wbits
    for y in range(h_px):
        prow = y * packed_w
        row = y * w_px
        for x in range(w_px):
            idx = (packed[prow + (x >> wbits)] >> ((x % per) * bits)) & mask
            if idx >= n:
                raise ValueError(
                    f"palette index {idx} out of range (palette size {n})"
                )
            out[row + x] = values[idx]
        used = ((w_px - 1) % per + 1) * bits  # bits used in the last byte
        if wbits and (packed[prow + packed_w - 1] >> used):
            raise ValueError("non-zero padding bits in packed index row")
    return bytes(out)


# --- color (cross-color) transform (RFC 9649 §4.3) ------------------------

COLOR_BLOCK_BITS = 3  # 8x8 blocks, the predictor's granularity
# Candidate deltas the encoder evaluates per block (order = deterministic
# tie-break preference; 32 first because (32*int8(c))>>5 == c exactly, so
# a channel equal to green zeroes under it — the subtract-green identity).
G2R_CANDIDATES = (32, 0, 16, 48, 8, 24, 240, 224)
G2B_CANDIDATES = (32, 0, 16, 48, 8, 24, 240, 224)
R2B_CANDIDATES = (0, 32, 16, 8)


def color_transform_delta(t: int, c: int) -> int:
    """RFC 9649 §4.3 ColorTransformDelta: ``(int8(t) * int8(c)) >> 5``
    (arithmetic shift — Python's >> on negatives matches). Caller masks
    the result into the byte domain."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _signed8(plane):
    import numpy as np

    s = plane.astype(np.int32)
    return np.where(s >= 128, s - 256, s)


def _delta_plane(t_plane, c_plane):
    """Vectorized ColorTransformDelta of an int32 signed-delta plane
    against a uint8 channel plane (per-pixel block deltas already
    upsampled)."""
    return (t_plane * _signed8(c_plane)) >> 5


def _upsample_blocks(grid, h_px: int, w_px: int, size_bits: int):
    """Per-block int32 values -> per-pixel plane (block (y >> size_bits,
    x >> size_bits) addressing, partial edge blocks included)."""
    rep = 1 << size_bits
    return grid.repeat(rep, axis=0)[:h_px, :].repeat(rep, axis=1)[:, :w_px]


def choose_color_deltas(rp, gp, bp, w_px: int, h_px: int):
    """Per-8x8-block (g2r, g2b, r2b) selection against the ORIGINAL
    channel values (the predictor's mode-choice recipe): for each block,
    the g2r candidate minimizing the count of nonzero red residual bytes
    wins (first-listed wins ties — deterministic, feeds the re-encode
    roundtrip assertion), then the (g2b, r2b) pair likewise for blue.
    Returns (grid rows of (g2r, g2b, r2b), r_res plane, b_res plane) —
    residuals in the byte domain, forward per RFC 9649:
    r' = (r - delta(g2r, g)) & 255,
    b' = (b - delta(g2b, g) - delta(r2b, r)) & 255 (r = the FINAL red the
    decoder has when it applies r2b, i.e. the original red)."""
    import numpy as np

    rs, bs = rp.astype(np.int32), bp.astype(np.int32)
    g_signed = _signed8(gp)
    r_signed = _signed8(rp)
    # one broadcasted expression per stack (r15): identical candidate
    # planes to the per-candidate comprehension, built in a single
    # vector pass over a (n_candidates, h, w) cube
    g2r = np.array([_s8(t) for t in G2R_CANDIDATES], dtype=np.int32)
    r_stack = (rs[None] - ((g2r[:, None, None] * g_signed[None]) >> 5)) & 255
    b_combos = [
        (tg, tr) for tg in G2B_CANDIDATES for tr in R2B_CANDIDATES
    ]
    g2b = np.array([_s8(tg) for tg, _ in b_combos], dtype=np.int32)
    r2b = np.array([_s8(tr) for _, tr in b_combos], dtype=np.int32)
    b_stack = (
        bs[None]
        - ((g2b[:, None, None] * g_signed[None]) >> 5)
        - ((r2b[:, None, None] * r_signed[None]) >> 5)
    ) & 255
    size = 1 << COLOR_BLOCK_BITS
    bw = (w_px + size - 1) >> COLOR_BLOCK_BITS
    bh = (h_px + size - 1) >> COLOR_BLOCK_BITS

    def block_counts(stack):
        # per-candidate nonzero count per block, one vectorized reshape
        # (zero-pad partial edge blocks — padding adds no nonzeros)
        nz = stack != 0
        ph, pw = bh * size - h_px, bw * size - w_px
        if ph or pw:
            nz = np.pad(nz, ((0, 0), (0, ph), (0, pw)))
        return nz.reshape(stack.shape[0], bh, size, bw, size).sum(
            axis=(2, 4)
        )

    # argmin returns the FIRST minimal index — the candidate-order
    # tie-break the re-encode roundtrip assertion depends on
    r_idx = block_counts(r_stack).argmin(axis=0)
    b_idx = block_counts(b_stack).argmin(axis=0)
    r_sel = _upsample_blocks(r_idx, h_px, w_px, COLOR_BLOCK_BITS)
    b_sel = _upsample_blocks(b_idx, h_px, w_px, COLOR_BLOCK_BITS)
    r_res = np.take_along_axis(r_stack, r_sel[None], axis=0)[0].astype(
        np.uint8
    )
    b_res = np.take_along_axis(b_stack, b_sel[None], axis=0)[0].astype(
        np.uint8
    )
    grid = [
        [
            (
                G2R_CANDIDATES[r_idx[by, bx]],
                b_combos[b_idx[by, bx]][0],
                b_combos[b_idx[by, bx]][1],
            )
            for bx in range(bw)
        ]
        for by in range(bh)
    ]
    return grid, r_res, b_res


def _write_color_subimage(w: LsbWriter, grid) -> None:
    """Serialize the color-transform element image as a real entropy-coded
    VP8L subimage — the spec packs g2r in the BLUE channel, g2b in GREEN,
    r2b in RED of each transform pixel (alpha 255)."""
    _write_argb_subimage(
        w, [(255, r2b, g2b, g2r) for row in grid for (g2r, g2b, r2b) in row]
    )


def _read_color_subimage(r: LsbReader, bw: int, bh: int):
    """Decode the color-transform element image -> grid rows of
    (g2r, g2b, r2b); validates the subset invariant (opaque pixels)."""
    pixels = _read_argb_subimage(r, bw * bh, "color-transform")
    if any(p[0] != 255 for p in pixels):
        raise ValueError("non-opaque color-transform element")
    return [
        [(g2r, g2b, r2b) for _, r2b, g2b, g2r in pixels[y * bw:(y + 1) * bw]]
        for y in range(bh)
    ]


def _apply_inverse_color_transform(g_plane, r_res, b_res, grid, size_bits):
    """Vectorized RFC 9649 §4.3 inverse over whole planes:
    red = (r' + delta(g2r, g)) & 255, then
    blue = (b' + delta(g2b, g) + delta(r2b, red)) & 255 — r2b uses the
    RECONSTRUCTED red, per spec order. Returns (red, blue) uint8 planes."""
    import numpy as np

    h_px, w_px = g_plane.shape
    tg2r = _upsample_blocks(
        np.array([[_s8(p[0]) for p in row] for row in grid], np.int32),
        h_px, w_px, size_bits,
    )
    tg2b = _upsample_blocks(
        np.array([[_s8(p[1]) for p in row] for row in grid], np.int32),
        h_px, w_px, size_bits,
    )
    tr2b = _upsample_blocks(
        np.array([[_s8(p[2]) for p in row] for row in grid], np.int32),
        h_px, w_px, size_bits,
    )
    red = (r_res.astype(np.int32) + _delta_plane(tg2r, g_plane)) & 255
    blue = (
        b_res.astype(np.int32)
        + _delta_plane(tg2b, g_plane)
        + _delta_plane(tr2b, red.astype(np.uint8))
    ) & 255
    return red.astype(np.uint8), blue.astype(np.uint8)


def _s8(t: int) -> int:
    return t - 256 if t >= 128 else t


def encode_webp_vp8l(
    raster: bytes,
    w_px: int,
    h_px: int,
    use_predictor: bool = True,
    use_palette: bool = False,
    cache_bits: int | None = None,
    use_color_transform: bool = True,
) -> bytes:
    """Grayscale raster -> lossless WebP (r = g = b = pixel, alpha = 255).

    Default path: subtract-green, then the REAL RFC 9649 predictor
    transform — per-8x8-block best of the 14 modes, signaled through an
    embedded entropy-coded mode subimage — then a greedy LZ77 parse of the
    residual plane, literals and 256+length codes through the green prefix
    code and plain distances (dist + 120) through the distance code.

    ``use_palette`` path: the REAL color-indexing transform instead —
    sorted distinct values become a difference-coded palette subimage, the
    image becomes green-channel indices with spec index BUNDLING (8/4/2
    indices per coded pixel below 3/5/17 colors, coded width shrinks
    accordingly), then the same LZ77+prefix layer over the packed plane.
    The two transform pipelines are alternatives (as in libwebp)."""
    if len(raster) != w_px * h_px:
        raise ValueError("raster size mismatch")
    if not (0 < w_px <= 1 << 14 and 0 < h_px <= 1 << 14):
        raise ValueError("dimensions out of VP8L range")
    w = LsbWriter()
    w.write(w_px - 1, 14)
    w.write(h_px - 1, 14)
    w.write(0, 1)  # alpha hint: fully opaque
    w.write(0, 3)  # version
    plane = raster
    if use_palette:
        # COLOR-INDEXING transform (type 3): 8-bit (n_colors - 1), then
        # the palette as a difference-coded entropy subimage (entry 0 vs
        # ARGB zero), then the main image is packed indices in green.
        values = sorted(set(raster))
        index_of = {v: i for i, v in enumerate(values)}
        wbits = palette_width_bits(len(values))
        w.write(1, 1)  # transform present
        w.write(3, 2)  # transform type: color indexing
        w.write(len(values) - 1, 8)
        diffs = []
        prev = (0, 0, 0, 0)
        for v in values:
            entry = (255, v, v, v)  # grayscale palette entry (a, r, g, b)
            diffs.append(tuple((e - p) & 255 for e, p in zip(entry, prev)))
            prev = entry
        _write_argb_subimage(w, diffs)
        plane, _ = _pack_palette_indices(raster, w_px, h_px, index_of, wbits)
    else:
        if use_color_transform:
            # COLOR (cross-color) transform (type 1, round 11 — the LAST
            # RFC transform): per-8x8-block (g2r, g2b, r2b) deltas chosen
            # against the actual channel values and stored as a genuine
            # entropy-coded subimage. On grayscale input every block's
            # data-driven choice is (32, 32, 0) — the exact subtract-green
            # identity ((32*int8(c))>>5 == c) — so the residual planes are
            # structurally zero and the red/blue codes stay 1-symbol
            # zero-bit, but the DECODER must reconstruct r and b from g
            # through the per-pixel delta math. Cross-channel-correlated
            # (non-grayscale) input exercises nonzero residual codes
            # through encode_webp_vp8l_rgb below.
            # Grayscale shortcut, provably the data-driven argmin
            # (r15): with r = g = b, candidate g2r = 32 zeroes the red
            # residual on EVERY pixel ((32 * int8(g)) >> 5 == int8(g)),
            # and combo (g2b, r2b) = (32, 0) likewise for blue; both sit
            # at INDEX 0 of their candidate lists and argmin returns the
            # first minimal index, so choose_color_deltas returns exactly
            # this grid with all-zero residual planes on every legal
            # (single-raster, hence grayscale) input of this encoder —
            # construct it directly instead of scoring 8 + 32 candidate
            # planes per image. encode_webp_vp8l_rgb still runs the real
            # search on channel data; a test pins shortcut == search.
            size = 1 << COLOR_BLOCK_BITS
            cbw = (w_px + size - 1) >> COLOR_BLOCK_BITS
            cbh = (h_px + size - 1) >> COLOR_BLOCK_BITS
            grid = [[(32, 32, 0)] * cbw for _ in range(cbh)]
            w.write(1, 1)  # transform present
            w.write(1, 2)  # transform type: color transform
            w.write(COLOR_BLOCK_BITS - 2, 3)
            _write_color_subimage(w, grid)
        else:
            # SUBTRACT_GREEN transform (type 2, no payload): in the
            # transform domain r' = (r-g) & 255, b' = (b-g) & 255 —
            # identically ZERO for grayscale, so the red/blue codes
            # collapse to 1-symbol simple codes costing zero bits per
            # literal. Kept as the non-default base transform (the color
            # transform above generalizes it).
            w.write(1, 1)  # transform present
            w.write(2, 2)  # transform type: subtract green
        if use_predictor:
            # PREDICTOR transform (type 0): the bitstream signals it AFTER
            # the base (color / subtract-green) transform, so the
            # decoder's reverse-order inverse walk undoes prediction
            # first, then the base transform. For subtract-green this
            # matches libwebp's encode order; for the cross-color
            # transform libwebp applies it AFTER the predictor (signals
            # predictor first) — the color-first order here is a
            # deliberate spec-legal subset choice, and the decoder
            # inverts in the matching (reverse-of-signal) order either way.
            import numpy as np

            g = np.frombuffer(raster, dtype=np.uint8).reshape(h_px, w_px)
            modes, residual = choose_predictor_modes(g, w_px, h_px)
            w.write(1, 1)  # another transform
            w.write(0, 2)  # transform type: predictor
            w.write(PRED_BLOCK_BITS - 2, 3)
            _write_mode_subimage(w, modes)
            plane = residual.tobytes()
    w.write(0, 1)  # no further transforms
    predictor_applied = use_predictor and not use_palette
    if cache_bits is not None:
        if not 1 <= cache_bits <= 11:
            raise ValueError("cache_bits out of the spec's 1..11 range")
        w.write(1, 1)  # color cache present
        w.write(cache_bits, 4)
    else:
        w.write(0, 1)  # no color cache
    w.write(0, 1)  # no meta prefix image

    # the CODED-domain ARGB of a pixel whose green byte is g — what the
    # color cache stores and hashes (alpha residual is 0 under the
    # predictor; r/b are 0 under subtract-green and in the packed-index
    # palette domain)
    coded_alpha = 0 if predictor_applied else 255
    def coded_argb(g: int) -> int:
        return (coded_alpha << 24) | (g << 8)

    # greedy LZ77 parse, then (with a cache) a deterministic greedy cache
    # pass: a literal whose coded ARGB already sits in its hash slot
    # becomes a cache symbol (280 + slot); every emitted pixel — literal,
    # cache hit, or backref-copied — inserts into its slot, mirroring the
    # decoder exactly. Histograms then cover what will actually be
    # emitted: literals AND 256+length codes AND cache symbols share the
    # green code (RFC design); distances get their own 40-symbol code.
    # Under subtract-green, every literal's r'/b' channel value is 0;
    # under the predictor every channel's residual except green is 0.
    ops = lz77_parse(plane)
    if cache_bits is not None:
        cache = [0] * (1 << cache_bits)
        sym_ops = []
        pos = 0
        for kind, a, b_ in ops:
            if kind == 0:
                argb = coded_argb(a)
                slot = cache_slot(argb, cache_bits)
                if cache[slot] == argb:
                    sym_ops.append((2, slot, 0))  # cache hit
                else:
                    sym_ops.append((0, a, 0))
                    cache[slot] = argb
                pos += 1
            else:
                sym_ops.append((1, a, b_))
                for k in range(a):
                    argb = coded_argb(plane[pos - b_ + k])
                    cache[cache_slot(argb, cache_bits)] = argb
                pos += a
        ops = sym_ops
    gfreq: dict[int, int] = {}
    lit_freq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    for kind, a, b_ in ops:
        if kind == 0:
            gfreq[a] = gfreq.get(a, 0) + 1
            lit_freq[a] = lit_freq.get(a, 0) + 1
        elif kind == 2:
            gfreq[280 + a] = gfreq.get(280 + a, 0) + 1
        else:
            lcode, _, _ = prefix_encode_value(a)
            gfreq[256 + lcode] = gfreq.get(256 + lcode, 0) + 1
            dcode, _, _ = prefix_encode_value(b_ + 120)
            dfreq[dcode] = dfreq.get(dcode, 0) + 1

    # cache-hit symbols widen the green alphabet past 2^9 on full-range
    # input — use the 10-bit cap (flat decode still holds) when caching
    glen = huffman_lengths(
        gfreq, ENC_MAX_LEN if cache_bits is None else ENC_MAX_LEN_CACHE
    )
    # red/blue in the subtract-green domain: constant 0 -> 1-symbol code
    rblen = {0: 1}
    dlen = huffman_lengths(dfreq) if dfreq else {0: 1}

    # five prefix codes: green(+lengths+cache), red, blue, alpha, distance.
    # Alpha: constant 255 raw (also in the palette's packed-index domain),
    # but under the predictor the coded plane is the RESIDUAL domain where
    # every alpha residual is (255-255)&255 = 0.
    green_alphabet = GREEN_ALPHABET + (
        (1 << cache_bits) if cache_bits is not None else 0
    )
    write_prefix_code(w, glen, green_alphabet)
    write_prefix_code(w, rblen, 256)
    write_prefix_code(w, rblen, 256)
    write_prefix_code(w, {0 if predictor_applied else 255: 1}, 256)
    write_prefix_code(w, dlen, 40)

    grev, drev = lsb_codes(glen), lsb_codes(dlen)
    # inlined LSB accumulator for the per-op emit loop: identical bit
    # stream to sequential write() calls (flush points never change the
    # emitted bytes), one method call per ~1.4k ops instead of 1-4 each
    acc, nacc = w.acc, w.n
    append = w.out.append
    pev = prefix_encode_value
    for kind, a, b_ in ops:
        if kind == 0:
            rc, nb = grev[a]
            acc |= rc << nacc
            nacc += nb
            # red/blue: zero-bit 1-symbol codes (subtract-green domain);
            # alpha: zero-bit simple code
        elif kind == 2:
            rc, nb = grev[280 + a]  # cache symbol: a complete pixel, no
            acc |= rc << nacc       # channel codes follow
            nacc += nb
        else:
            lcode, lextra, lebits = pev(a)
            rc, nb = grev[256 + lcode]
            acc |= (rc | (lextra << nb)) << nacc
            nacc += nb + lebits
            dcode, dextra, debits = pev(b_ + 120)
            rc, nb = drev[dcode]
            acc |= (rc | (dextra << nb)) << nacc
            nacc += nb + debits
        while nacc >= 8:
            append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    w.acc, w.n = acc, nacc
    return _riff_container(bytes([SIGNATURE]) + w.flush())


def _riff_container(payload: bytes) -> bytes:
    """RIFF/WEBP/VP8L container with exact sizes and odd-length padding."""
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def encode_webp_vp8l_rgb(rgb: bytes, w_px: int, h_px: int) -> bytes:
    """Opaque RGB raster (r, g, b interleaved — 3 bytes per pixel) ->
    lossless WebP through the REAL color transform: per-block (g2r, g2b,
    r2b) deltas decorrelate red and blue from green, and the residuals go
    through genuine histogram-driven red/blue prefix codes — the nonzero
    channel codes the grayscale path never exercises. This is the entry
    where cross-channel correlation is load-bearing: on a corpus with
    r ~ f(g) and b ~ f(r), the data-driven block choice picks nonzero g2r
    AND nonzero r2b, and decode reconstructs the channels only through
    the §4.3 inverse.

    Stream shape: color transform only, literal pixels only (pixel-
    granular LZ77 over 4-byte pixels is outside this subset — the
    transform + entropy layer already compresses a correlated corpus ~10x
    vs the 24 bpp raw), no cache, no meta. Deterministic, so the
    re-encode roundtrip assertion holds."""
    if len(rgb) != 3 * w_px * h_px:
        raise ValueError("raster size mismatch")
    if not (0 < w_px <= 1 << 14 and 0 < h_px <= 1 << 14):
        raise ValueError("dimensions out of VP8L range")
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h_px, w_px, 3)
    rp, gp, bp = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    grid, r_res, b_res = choose_color_deltas(rp, gp, bp, w_px, h_px)
    w = LsbWriter()
    w.write(w_px - 1, 14)
    w.write(h_px - 1, 14)
    w.write(0, 1)  # alpha hint: fully opaque
    w.write(0, 3)  # version
    w.write(1, 1)  # transform present
    w.write(1, 2)  # transform type: color transform
    w.write(COLOR_BLOCK_BITS - 2, 3)
    _write_color_subimage(w, grid)
    w.write(0, 1)  # no further transforms
    w.write(0, 1)  # no color cache
    w.write(0, 1)  # no meta prefix image

    def hist(vals) -> dict[int, int]:
        # vectorized frequency count — same {value: count} mapping the
        # dict-increment loop built (order is irrelevant: huffman_lengths
        # sorts items before the heap build)
        counts = np.bincount(vals.reshape(-1))
        return {int(v): int(c) for v, c in enumerate(counts) if c}

    glen, rlen, blen = (huffman_lengths(hist(p)) for p in (gp, r_res, b_res))
    write_prefix_code(w, glen, GREEN_ALPHABET)
    write_prefix_code(w, rlen, 256)
    write_prefix_code(w, blen, 256)
    write_prefix_code(w, {255: 1}, 256)  # alpha: constant 255, zero bits
    write_prefix_code(w, {0: 1}, 40)     # distance: present, unused

    ge, re_, be = lsb_codes(glen), lsb_codes(rlen), lsb_codes(blen)
    # Vectorized variable-length LSB emit (r15): the per-pixel loop (3
    # dict hits + accumulator shifts per pixel) is replaced by array
    # bit-packing that produces the IDENTICAL bit stream — every field's
    # absolute start offset is the running cumsum of field widths (plus
    # the writer's pending-bit count), each bit-reversed code is shifted
    # to its in-byte position (<= 15 code bits + 7 shift = 22 bits, fits
    # uint32), and the three bytes it can span are OR-scattered with
    # np.bitwise_or.at (unbuffered, so repeated byte indices compose;
    # fields are bit-disjoint by construction, so OR order is
    # irrelevant). Zero-bit 1-symbol codes contribute 0 bits at
    # offset — a no-op OR, exactly like the sequential writer.
    def np_tables(em, alphabet):
        codes_t = np.zeros(alphabet, dtype=np.uint32)
        bits_t = np.zeros(alphabet, dtype=np.int64)
        for s, (c, nb) in em.items():
            codes_t[s] = c
            bits_t[s] = nb
        return codes_t, bits_t

    cg_t, bg_t = np_tables(ge, 256)
    cr_t, br_t = np_tables(re_, 256)
    cb_t, bb_t = np_tables(be, 256)
    gfv = gp.reshape(-1)
    rfv = r_res.reshape(-1)
    bfv = b_res.reshape(-1)
    n_fields = 3 * gfv.size
    codes = np.empty(n_fields, dtype=np.uint32)
    bits = np.empty(n_fields, dtype=np.int64)
    codes[0::3] = cg_t[gfv]  # literal channel order: g, r, b, (a: 0 bits)
    bits[0::3] = bg_t[gfv]
    codes[1::3] = cr_t[rfv]
    bits[1::3] = br_t[rfv]
    codes[2::3] = cb_t[bfv]
    bits[2::3] = bb_t[bfv]
    off = np.cumsum(bits) - bits + w.n
    total = int(off[-1] + bits[-1]) if n_fields else w.n
    buf = np.zeros((total >> 3) + 4, dtype=np.uint8)
    buf[0] = w.acc  # pending bits occupy byte 0 below every field offset
    v = codes << (off & 7).astype(np.uint32)
    b0 = off >> 3
    np.bitwise_or.at(buf, b0, (v & 0xFF).astype(np.uint8))
    np.bitwise_or.at(buf, b0 + 1, ((v >> 8) & 0xFF).astype(np.uint8))
    np.bitwise_or.at(buf, b0 + 2, ((v >> 16) & 0xFF).astype(np.uint8))
    full = total >> 3
    w.out += buf[:full].tobytes()
    w.n = total & 7
    w.acc = int(buf[full]) if w.n else 0
    return _riff_container(bytes([SIGNATURE]) + w.flush())


# --- decoder --------------------------------------------------------------------


def parse_webp_vp8l(b: bytes) -> tuple[int, int, bytes]:
    """Full subset decode -> (w, h, grayscale raster). Validates the RIFF
    grammar, VP8L header, flag bits, prefix codes, per-pixel channel
    agreement (r == g == b, alpha 255), and stream exhaustion."""
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    if struct.unpack_from("<I", b, 4)[0] != len(b) - 8:
        raise ValueError("RIFF size mismatch")
    if b[12:16] != b"VP8L":
        raise ValueError("not a lossless (VP8L) WebP")
    n = struct.unpack_from("<I", b, 16)[0]
    payload = b[20:20 + n]
    if len(payload) != n or len(b) - 20 - n not in (0, 1):
        raise ValueError("VP8L chunk size mismatch")
    if payload[0] != SIGNATURE:
        raise ValueError("bad VP8L signature byte")
    r = LsbReader(payload[1:])
    w_px = r.read(14) + 1
    h_px = r.read(14) + 1
    r.read(1)  # alpha hint
    if r.read(3) != 0:
        raise ValueError("unknown VP8L version")
    subtract_green = False
    pred_modes = None
    palette = None
    color_grid = None
    while r.read(1):  # transform signaling loop
        ttype = r.read(2)
        if ttype == 2:
            if subtract_green:
                raise ValueError("subtract-green transform signaled twice")
            subtract_green = True  # no payload for this transform type
        elif ttype == 1:
            if color_grid is not None:
                raise ValueError("color transform signaled twice")
            size_bits = r.read(3) + 2
            bw = (w_px + (1 << size_bits) - 1) >> size_bits
            bh = (h_px + (1 << size_bits) - 1) >> size_bits
            color_grid = (_read_color_subimage(r, bw, bh), size_bits)
        elif ttype == 0:
            if pred_modes is not None:
                raise ValueError("predictor transform signaled twice")
            # size-generic decode (our encoder always emits 8x8 blocks)
            size_bits = r.read(3) + 2
            bw = (w_px + (1 << size_bits) - 1) >> size_bits
            bh = (h_px + (1 << size_bits) - 1) >> size_bits
            pred_modes = (_read_mode_subimage(r, bw, bh), size_bits)
        elif ttype == 3:
            if palette is not None:
                raise ValueError("color-indexing transform signaled twice")
            n_colors = r.read(8) + 1
            # palette entries arrive difference-coded vs ARGB zero
            values = []
            prev = (0, 0, 0, 0)
            for d in _read_argb_subimage(r, n_colors, "palette"):
                prev = tuple((p + x) & 255 for p, x in zip(prev, d))
                a, rr, g, bb = prev
                if a != 255:
                    raise ValueError("non-opaque palette entry")
                if not (rr == g == bb):
                    raise ValueError(
                        "non-grayscale palette entry in grayscale subset"
                    )
                values.append(g)
            palette = values
        else:  # unreachable: all four RFC transform types are handled
            raise AssertionError(f"transform type {ttype}")
    if subtract_green and color_grid is not None:
        raise ValueError(
            "color transform combined with subtract-green unsupported in "
            "this subset (the base transforms are alternatives here)"
        )
    if pred_modes is not None and not (subtract_green or color_grid):
        raise ValueError(
            "predictor without a base (subtract-green / color) transform "
            "unsupported in this subset (red/blue residuals would be "
            "non-zero for grayscale)"
        )
    if palette is not None and (
        subtract_green or pred_modes is not None or color_grid is not None
    ):
        raise ValueError(
            "color-indexing combined with other transforms unsupported in "
            "this subset (the pipelines are alternatives, as in libwebp)"
        )
    cache_bits = r.read(4) if r.read(1) else None
    if cache_bits is not None and not 1 <= cache_bits <= 11:
        raise ValueError(f"color-cache bits {cache_bits} out of range")
    if r.read(1):
        raise ValueError("meta prefix image unsupported in this subset")

    cache_size = (1 << cache_bits) if cache_bits is not None else 0
    green = read_prefix_code(r, GREEN_ALPHABET + cache_size)
    red = read_prefix_code(r, 256)
    blue = read_prefix_code(r, 256)
    alpha = read_prefix_code(r, 256)
    distance = read_prefix_code(r, 40)

    # under color-indexing the coded image is the packed-index plane: its
    # width shrinks to ceil(w / 2^width_bits) per the bundling rule
    if palette is not None:
        wbits = palette_width_bits(len(palette))
        coded_w = (w_px + (1 << wbits) - 1) >> wbits
    else:
        coded_w = w_px
    n_px = coded_w * h_px
    want_alpha = 0 if pred_modes is not None else 255
    # color-cache state: coded-domain ARGB per slot, spec-initialized to
    # zero; EVERY emitted pixel (literal, cache hit, backref copy) inserts
    # at its multiplicative-hash slot — mirrored exactly by the encoder
    cache = [0] * cache_size
    untransformed = (
        not subtract_green and palette is None and color_grid is None
    )

    def insert(g: int) -> None:
        argb = (
            (want_alpha << 24)
            | (g << 16 if untransformed else 0)
            | (g << 8)
            | (g if untransformed else 0)
        )
        cache[cache_slot(argb, cache_bits)] = argb

    out = bytearray()
    # in the subtract-green domain a grayscale pixel has r'=b'=0 (and the
    # predictor residual of a zero plane is zero); the palette's
    # packed-index pixels carry the index in green with r=b=0;
    # untransformed streams carry r=b=g directly — hoisted out of the
    # per-pixel loop as a single flag
    rb_zero = (
        subtract_green or palette is not None or color_grid is not None
    )
    green_read, red_read = green.read, red.read
    blue_read, alpha_read = blue.read, alpha.read
    out_len = 0
    while out_len < n_px:
        g = green_read(r)
        if g < 256:
            want_rb = 0 if rb_zero else g
            if red_read(r) != want_rb or blue_read(r) != want_rb:
                if color_grid is not None:
                    raise ValueError(
                        "nonzero red/blue residual under the color "
                        "transform unsupported in the grayscale decoder "
                        "(parse_webp_vp8l_rgb handles it)"
                    )
                raise ValueError("non-grayscale pixel in grayscale subset")
            # under the predictor the coded plane is the residual domain:
            # alpha 255 predicts 255 everywhere (mode 0's black is opaque
            # too), so every coded alpha residual must be 0
            if alpha_read(r) != want_alpha:
                raise ValueError("non-opaque pixel")
            out.append(g)
            out_len += 1
            if cache_size:
                insert(g)
            continue
        if g >= 280:
            # color-cache reference: a COMPLETE pixel, no channel codes
            idx = g - 280
            argb = cache[idx]
            a_c = (argb >> 24) & 255
            r_c = (argb >> 16) & 255
            g_c = (argb >> 8) & 255
            b_c = argb & 255
            if a_c != want_alpha:
                raise ValueError("non-opaque pixel")
            want_rb = 0 if rb_zero else g_c
            if r_c != want_rb or b_c != want_rb:
                raise ValueError("non-grayscale pixel in grayscale subset")
            out.append(g_c)
            out_len += 1
            continue
        # LZ77 backreference: length via green code 256+k, then distance
        length = prefix_decode_value(g - 256, r)
        dist_code = prefix_decode_value(distance.read(r), r)
        if dist_code <= 120:
            raise ValueError(
                "pixel-neighborhood distance codes (<=120) unsupported in "
                "this subset"
            )
        dist = dist_code - 120
        if dist > out_len:
            raise ValueError("backreference before start of image")
        if out_len + length > n_px:
            raise ValueError("backreference overruns the image")
        start = out_len - dist
        if dist >= length:
            # non-overlapping: one slice copy (bit-identical to the
            # byte-at-a-time walk when the source region is fully present)
            out += out[start:start + length]
        else:
            for k in range(length):  # overlap-correct byte-at-a-time copy
                out.append(out[start + k])
        out_len += length
        if cache_size:
            for k in range(length):
                insert(out[start + k])
    if r.remaining() >= 8:
        raise ValueError("trailing bytes after last pixel")
    if palette is not None:
        return w_px, h_px, _unpack_palette_indices(
            bytes(out), w_px, h_px, palette, palette_width_bits(len(palette))
        )
    g_final = bytes(out)
    if pred_modes is not None:
        # inverse transforms run in reverse bitstream order: predictor
        # inverse first (residuals -> base-transform-domain greens), then
        # the base transform's inverse (identity on the green channel)
        modes, size_bits = pred_modes
        g_final = inverse_predict(g_final, w_px, h_px, modes, size_bits)
    if color_grid is not None:
        # REAL §4.3 inverse: reconstruct red and blue from green through
        # the per-block delta math (coded residuals are zero in this
        # subset), then enforce the grayscale contract on the RESULT — a
        # wrong delta choice fails here, so the encoder's per-block
        # selection is load-bearing, not decorative.
        import numpy as np

        grid, size_bits = color_grid
        gpl = np.frombuffer(g_final, dtype=np.uint8).reshape(h_px, w_px)
        zero = np.zeros_like(gpl)
        red_p, blue_p = _apply_inverse_color_transform(
            gpl, zero, zero, grid, size_bits
        )
        if not (
            np.array_equal(red_p, gpl) and np.array_equal(blue_p, gpl)
        ):
            raise ValueError(
                "color transform does not reconstruct a grayscale image"
            )
    return w_px, h_px, g_final


def parse_webp_vp8l_rgb(b: bytes) -> tuple[int, int, bytes]:
    """Decode an RGB color-transform stream (the encode_webp_vp8l_rgb
    shape) -> (w, h, interleaved r,g,b raster). Validates the container,
    header, transform signaling (color transform REQUIRED and alone),
    the five prefix codes, opaque alpha per pixel, literal-only pixels,
    and stream exhaustion; red/blue channels exist only as §4.3 residuals
    and are reconstructed through the per-block inverse delta math."""
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    if struct.unpack_from("<I", b, 4)[0] != len(b) - 8:
        raise ValueError("RIFF size mismatch")
    if b[12:16] != b"VP8L":
        raise ValueError("not a lossless (VP8L) WebP")
    n = struct.unpack_from("<I", b, 16)[0]
    payload = b[20:20 + n]
    if len(payload) != n or len(b) - 20 - n not in (0, 1):
        raise ValueError("VP8L chunk size mismatch")
    if payload[0] != SIGNATURE:
        raise ValueError("bad VP8L signature byte")
    r = LsbReader(payload[1:])
    w_px = r.read(14) + 1
    h_px = r.read(14) + 1
    r.read(1)  # alpha hint
    if r.read(3) != 0:
        raise ValueError("unknown VP8L version")
    color_grid = None
    while r.read(1):
        if r.read(2) != 1 or color_grid is not None:
            raise ValueError(
                "the RGB decoder supports exactly one color transform "
                "(other transform combinations are grayscale-subset only)"
            )
        size_bits = r.read(3) + 2
        bw = (w_px + (1 << size_bits) - 1) >> size_bits
        bh = (h_px + (1 << size_bits) - 1) >> size_bits
        color_grid = (_read_color_subimage(r, bw, bh), size_bits)
    if color_grid is None:
        raise ValueError("RGB stream without a color transform")
    if r.read(1):
        raise ValueError("color cache unsupported in the RGB subset")
    if r.read(1):
        raise ValueError("meta prefix image unsupported in this subset")
    green = read_prefix_code(r, GREEN_ALPHABET)
    red = read_prefix_code(r, 256)
    blue = read_prefix_code(r, 256)
    alpha = read_prefix_code(r, 256)
    read_prefix_code(r, 40)  # distance code: present, unused
    n_px = w_px * h_px
    g_out = bytearray(n_px)
    r_out = bytearray(n_px)
    b_out = bytearray(n_px)
    # fully inlined literal loop: the four per-pixel symbol reads share one
    # set of local bit-reader variables (synced back to `r` at the end) —
    # semantics identical to four CanonicalDecoder.read calls per pixel,
    # including 1-symbol zero-bit codes and the exhaustion checks
    fast = (
        green.only is None and green.table is not None
        and red.only is None and red.table is not None
        and blue.only is None and blue.table is not None
        and alpha.only == 255
    )
    if fast:
        # r15 BATCHED canonical decode: the literal-only stream is three
        # table-decoded codes per pixel with no other symbol kinds, so
        # the whole symbol walk vectorizes. For EVERY bit offset p the
        # (symbol, length) of each channel table is a gather over the
        # sliding M-bit window values (numpy); the per-pixel transition
        # f(p) = p + len_g(p) + len_r(.) + len_b(.) is three gathers;
        # and the serial chain of pixel start offsets is the orbit of
        # f from the current reader position, enumerated by pointer
        # DOUBLING (starts[k..2k) = f^k(starts[0..k)), squaring f each
        # round) — log2(n_px) domain-sized gathers instead of 3*n_px
        # Python iterations. On a valid stream the gathered symbols are
        # bit-identical to the serial walk (same tables, same windows,
        # same offsets). ANY anomaly — invalid window, backref symbol,
        # clamped/exhausted offset — abandons the batch and re-runs the
        # UNCHANGED serial loop from the same reader state, so every
        # corrupt-stream error message and raise point is exactly the
        # serial path's.
        batched = _rgb_batch_decode(
            r, green, red, blue, n_px, g_out, r_out, b_out
        )
        if batched:
            pass  # outputs filled, reader synced
        else:
            _rgb_serial_decode(
                r, green, red, blue, n_px, g_out, r_out, b_out
            )
    else:
        # general shape (any channel 1-symbol or deeper than the flat
        # table): the original per-pixel object reads
        for j in range(n_px):
            g = green.read(r)
            if g >= 256:
                raise ValueError(
                    "backreferences unsupported in the RGB subset "
                    "(literal-only streams)"
                )
            g_out[j] = g
            r_out[j] = red.read(r)
            b_out[j] = blue.read(r)
            if alpha.read(r) != 255:
                raise ValueError("non-opaque pixel")
    if r.remaining() >= 8:
        raise ValueError("trailing bytes after last pixel")
    import numpy as np

    grid, size_bits = color_grid
    gpl = np.frombuffer(bytes(g_out), dtype=np.uint8).reshape(h_px, w_px)
    r_res = np.frombuffer(bytes(r_out), dtype=np.uint8).reshape(h_px, w_px)
    b_res = np.frombuffer(bytes(b_out), dtype=np.uint8).reshape(h_px, w_px)
    red_p, blue_p = _apply_inverse_color_transform(
        gpl, r_res, b_res, grid, size_bits
    )
    out = np.stack([red_p, gpl, blue_p], axis=2)
    return w_px, h_px, out.tobytes()


def _rgb_batch_decode(
    r: LsbReader, green, red, blue, n_px: int, g_out, r_out, b_out
) -> bool:
    """Vectorized three-channel literal decode (see the call site for the
    scheme). Returns True with outputs filled and the reader synced, or
    False untouched (caller re-runs the serial walk for exact errors)."""
    import numpy as np

    if n_px == 0:
        return False
    ng, nr, nb_ = green.maxlen, red.maxlen, blue.maxlen
    total_bits = r.total_bits
    start = r.consumed
    m_bits = max(ng, nr, nb_)
    bits = np.unpackbits(
        np.frombuffer(r.data, dtype=np.uint8), bitorder="little"
    ).astype(np.int64)
    bitsp = np.concatenate([bits, np.zeros(m_bits, dtype=np.int64)])
    # window VALUE at every offset 0..total_bits (the +1 sink row reads
    # zero padding; any chain that lands there is flagged below).
    # Shift-accumulate over strided views instead of
    # sliding_window_view @ powers: the matmul on a strided int64 view
    # materializes a contiguous (total_bits x m_bits) copy — ~8*m bytes
    # per stream bit (~120x the stream at m=15) — while this loop's peak
    # transient is ONE total_bits-sized temp per iteration. Identical
    # integer arithmetic: vals[j] = sum_k bitsp[j+k] << k.
    vals = np.zeros(total_bits + 1, dtype=np.int64)
    for _k in range(m_bits):
        vals += bitsp[_k : _k + total_bits + 1] << _k

    def tab(dec, width):
        sym = np.full(1 << width, -1, dtype=np.int64)
        ln = np.zeros(1 << width, dtype=np.int64)
        for i, e in enumerate(dec.table):
            if e is not None:
                sym[i], ln[i] = e
        mask = (1 << width) - 1
        return sym[vals & mask], ln[vals & mask]

    sym_g, len_g = tab(green, ng)
    sym_r, len_r = tab(red, nr)
    sym_b, len_b = tab(blue, nb_)
    dom = np.arange(total_bits + 1, dtype=np.int64)
    p1 = np.minimum(dom + len_g, total_bits)
    p2 = np.minimum(p1 + len_r[p1], total_bits)
    f = np.minimum(p2 + len_b[p2], total_bits)
    starts = np.empty(n_px, dtype=np.int64)
    starts[0] = start
    jump = f
    filled = 1
    while filled < n_px:
        take = min(filled, n_px - filled)
        starts[filled:filled + take] = jump[starts[:take]]
        filled += take
        if filled < n_px:
            jump = jump[jump]
    off_g = starts
    off_r = np.minimum(off_g + len_g[off_g], total_bits)
    off_b = np.minimum(off_r + len_r[off_r], total_bits)
    end = off_b + len_b[off_b]
    gs, rs, bs = sym_g[off_g], sym_r[off_r], sym_b[off_b]
    anomaly = (
        (gs < 0).any() or (gs >= 256).any()
        or (rs < 0).any() or (bs < 0).any()
        or (len_g[off_g] == 0).any()  # invalid windows carry length 0
        or (len_r[off_r] == 0).any()
        or (len_b[off_b] == 0).any()
        or int(end[-1]) > total_bits
        or (end > total_bits).any()
    )
    if anomaly:
        return False
    g_out[:] = gs.astype(np.uint8).tobytes()
    r_out[:] = rs.astype(np.uint8).tobytes()
    b_out[:] = bs.astype(np.uint8).tobytes()
    fin = int(end[-1])
    r.consumed = fin
    r.byte_pos = len(r.data)
    r.nbuf = total_bits - fin
    r.buf = (
        int.from_bytes(r.data[fin >> 3:], "little") >> (fin & 7)
        if r.nbuf
        else 0
    )
    return True


def _rgb_serial_decode(
    r: LsbReader, green, red, blue, n_px: int, g_out, r_out, b_out
) -> None:
    """The serial three-channel literal walk — the error-exact reference
    path (and the batch decode's fallback arbiter). Constant-factor form
    of three CanonicalDecoder.read calls per pixel:
    (a) table entries packed as (sym << 5) | len integers (-1 for
    invalid windows) — one int op per read instead of a tuple deref;
    (b) ONE bulk 7-byte int.from_bytes refill per pixel (whenever fewer
    than the three codes' combined worst-case bits remain buffered)
    instead of three byte-at-a-time refill loops — the refill point
    never changes WHICH bits a code consumes, and per-symbol exhaustion
    checks are unchanged, so valid and corrupt streams behave
    identically."""
    def packed(dec):
        return [
            -1 if e is None else (e[0] << 5) | e[1] for e in dec.table
        ]

    tg, tr, tb = packed(green), packed(red), packed(blue)
    ng, nr, nb_ = green.maxlen, red.maxlen, blue.maxlen
    mg, mr, mb = (1 << ng) - 1, (1 << nr) - 1, (1 << nb_) - 1
    need_all = ng + nr + nb_
    data, total_bits = r.data, r.total_bits
    n_data = len(data)
    from_bytes = int.from_bytes
    buf, nbuf, byte_pos, consumed = r.buf, r.nbuf, r.byte_pos, r.consumed
    for j in range(n_px):
        if nbuf < need_all and byte_pos < n_data:
            chunk = data[byte_pos:byte_pos + 7]
            buf |= from_bytes(chunk, "little") << nbuf
            nbuf += 8 * len(chunk)
            byte_pos += len(chunk)
        e = tg[buf & mg]
        if e < 0:
            raise ValueError("invalid prefix code in stream")
        ln = e & 31
        if consumed + ln > total_bits:
            raise ValueError("bitstream exhausted")
        buf >>= ln
        nbuf -= ln
        consumed += ln
        g = e >> 5
        if g >= 256:
            raise ValueError(
                "backreferences unsupported in the RGB subset "
                "(literal-only streams)"
            )
        g_out[j] = g
        e = tr[buf & mr]
        if e < 0:
            raise ValueError("invalid prefix code in stream")
        ln = e & 31
        if consumed + ln > total_bits:
            raise ValueError("bitstream exhausted")
        buf >>= ln
        nbuf -= ln
        consumed += ln
        r_out[j] = e >> 5
        e = tb[buf & mb]
        if e < 0:
            raise ValueError("invalid prefix code in stream")
        ln = e & 31
        if consumed + ln > total_bits:
            raise ValueError("bitstream exhausted")
        buf >>= ln
        nbuf -= ln
        consumed += ln
        b_out[j] = e >> 5
        # alpha: 1-symbol code, zero bits, value pinned to 255 by the
        # fast-path guard — nothing to read or check
    r.buf, r.nbuf, r.byte_pos, r.consumed = buf, nbuf, byte_pos, consumed


# --- the oracled corpus query ----------------------------------------------------

# Skewed pixel rule: 7/8 zeros, the rest uniform over 1..37. The zero
# RUNS feed the LZ77 layer (dist-1 backrefs = RLE) and the skew feeds the
# entropy layer: ~3 coded bits/pixel vs 8 raw, both asserted per image.
# Images are 48/64 x 32 so the five prefix-code headers amortize. The md5
# is hoisted per 16-byte block (hx CTE) — one call per block, not two per
# pixel.
_WEBP_ORACLE = """
    WITH g AS (
      SELECT doc_id, 48 + 16 * (doc_id % 2) AS w, 32 AS h FROM documents
    ),
    hx AS (
      SELECT doc_id, w, h,
             [md5(CAST(doc_id AS VARCHAR) || ':v:' || k)
              FOR k IN range((w * h + 15) // 16)] AS blocks
      FROM g
    ),
    px AS (
      SELECT doc_id, w, h,
             [ [CASE WHEN bb < 224 THEN 0 ELSE bb % 37 + 1 END
                FOR bb IN [
                   (instr('0123456789abcdef',
                          blocks[j // 16 + 1][2 * (j % 16) + 1]) - 1) * 16
                 + (instr('0123456789abcdef',
                          blocks[j // 16 + 1][2 * (j % 16) + 2]) - 1)]][1]
               FOR j IN range(w * h)] AS pv
      FROM hx
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS w,
           CAST(h AS INTEGER) AS h,
           CAST(LIST_SUM(pv) AS BIGINT) AS sum_pix,
           CAST(LIST_SUM([(j + 1) * pv[j + 1] FOR j IN range(w * h)])
                AS BIGINT) AS pos_checksum
    FROM px
"""


_WEBP_PIX_SCHEMA = "doc_id long, w int, h int, sum_pix long, pos_checksum long"


def _webp_pixels(doc_id: int, w: int, h: int) -> bytes:
    import hashlib

    n_blocks = (w * h + 15) // 16
    stream = b"".join(
        hashlib.md5(f"{doc_id}:v:{k}".encode()).digest()
        for k in range(n_blocks)
    )
    import numpy as np

    sv = np.frombuffer(stream, dtype=np.uint8)[: w * h].astype(np.int32)
    return np.where(sv < 224, 0, sv % 37 + 1).astype(np.uint8).tobytes()


@query("multimodal_webp_lossless_decode", oracle=_WEBP_ORACLE)
def multimodal_webp_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless pipeline with a full hash oracle: per document, a
    skew-distributed md5-keyed grayscale raster is encoded as a genuine
    VP8L WebP (:func:`encode_webp_vp8l` — RIFF container, VP8L header,
    greedy LZ77 backreferences, data-driven canonical double-Huffman
    prefix codes), then
    the decode side re-walks everything (:func:`parse_webp_vp8l`) and
    emits per-image integer statistics over the DECODED pixels. The
    position-weighted checksum pins scan order; the operator additionally
    asserts the entropy layer genuinely compresses (< 6 coded bits/pixel —
    three literal channels of a ~1.2-bit-entropy plane plus headers — vs
    8 raw) and that re-encoding the
    decoded raster reproduces the exact original file bytes.
    """
    docs = load_table(spark, sf_dir, "documents")
    frames = docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def row(doc_id):
        w, h = 48 + 16 * (doc_id % 2), 32
        raster = _webp_pixels(doc_id, w, h)
        blob = encode_webp_vp8l(raster, w, h)

        dw, dh, dec = parse_webp_vp8l(blob)
        if (dw, dh) != (w, h) or dec != raster:
            raise ValueError("lossless roundtrip mismatch")
        if encode_webp_vp8l(dec, dw, dh) != blob:
            raise ValueError("re-encode roundtrip mismatch")
        if not lz77_would_emit_backref(raster):
            raise ValueError("LZ77 layer unused on a runs corpus")
        # entropy layer does real work: container+codes overhead
        # included, still far under raw 8 bits/pixel
        if 8 * len(blob) >= 6 * w * h:
            raise ValueError("VP8L entropy coding failed to compress")
        yield {
            "doc_id": doc_id,
            "w": dw,
            "h": dh,
            "sum_pix": sum(dec),
            "pos_checksum": sum((j + 1) * dec[j] for j in range(len(dec))),
        }

    return map_rows(frames, row, _WEBP_PIX_SCHEMA)


# --- color cache (RFC 9649 §4.5) -------------------------------------------------

CACHE_HASH_MUL = 0x1E35A7BD


def cache_slot(argb: int, bits: int) -> int:
    """The spec's multiplicative hash: slot of a coded-domain ARGB pixel."""
    return ((CACHE_HASH_MUL * argb) & 0xFFFFFFFF) >> (32 - bits)


# --- the palette-path oracled query ----------------------------------------------

def _webp_palette_pixels(doc_id: int, w: int, h: int) -> bytes:
    """Four-value pixel rule (md5-keyed, engine-reproducible): 0 below the
    128 threshold, else one of {12, 49, 86} — exactly the low-cardinality
    regime the color-indexing transform exists for (4 colors -> 4 indices
    bundled per coded pixel, coded width w/4)."""
    import hashlib

    n_blocks = (w * h + 15) // 16
    stream = b"".join(
        hashlib.md5(f"{doc_id}:p:{k}".encode()).digest()
        for k in range(n_blocks)
    )
    import numpy as np

    sv = np.frombuffer(stream, dtype=np.uint8)[: w * h].astype(np.int32)
    return (
        np.where(sv < 128, 0, 12 + (sv % 3) * 37).astype(np.uint8).tobytes()
    )


_WEBP_PALETTE_ORACLE = """
    WITH g AS (
      SELECT doc_id, 48 + 16 * (doc_id % 2) AS w, 32 AS h FROM documents
    ),
    hx AS (
      SELECT doc_id, w, h,
             [md5(CAST(doc_id AS VARCHAR) || ':p:' || k)
              FOR k IN range((w * h + 15) // 16)] AS blocks
      FROM g
    ),
    px AS (
      SELECT doc_id, w, h,
             [ [CASE WHEN bb < 128 THEN 0 ELSE 12 + (bb % 3) * 37 END
                FOR bb IN [
                   (instr('0123456789abcdef',
                          blocks[j // 16 + 1][2 * (j % 16) + 1]) - 1) * 16
                 + (instr('0123456789abcdef',
                          blocks[j // 16 + 1][2 * (j % 16) + 2]) - 1)]][1]
               FOR j IN range(w * h)] AS pv
      FROM hx
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS w,
           CAST(h AS INTEGER) AS h,
           CAST(LIST_SUM(pv) AS BIGINT) AS sum_pix,
           CAST(LIST_SUM([(j + 1) * pv[j + 1] FOR j IN range(w * h)])
                AS BIGINT) AS pos_checksum
    FROM px
"""


@query("multimodal_webp_palette_decode", oracle=_WEBP_PALETTE_ORACLE)
def multimodal_webp_palette_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COLOR-INDEXING pipeline under a full hash oracle: per document,
    a 4-value md5-keyed raster is encoded as a genuine VP8L WebP through
    the palette path (:func:`encode_webp_vp8l` ``use_palette=True`` —
    difference-coded palette subimage, indices bundled 4-per-coded-pixel,
    coded width w/4, then the LZ77 + canonical double-Huffman layer over
    the packed plane), decoded back through the full container walk, and
    reduced to the same integer statistics as the predictor-path query
    (the position-weighted checksum pins scan order THROUGH the bundling
    inverse — any index-order or padding mistake shifts it). In-operator:
    lossless roundtrip, bit-exact re-encode, and a <3 coded-bits/pixel
    assertion (4 raw values pack at 2 bits before entropy coding even
    starts; vs 8-bit raw).

    Scale: identical shape to ``multimodal_webp_lossless_decode`` — one
    bounded round-robin fan-out, then embarrassingly parallel per-doc
    codec work in a single :func:`map_rows` stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    frames = docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def row(doc_id):
        w, h = 48 + 16 * (doc_id % 2), 32
        raster = _webp_palette_pixels(doc_id, w, h)
        blob = encode_webp_vp8l(raster, w, h, use_palette=True)

        dw, dh, dec = parse_webp_vp8l(blob)
        if (dw, dh) != (w, h) or dec != raster:
            raise ValueError("palette roundtrip mismatch")
        if encode_webp_vp8l(dec, dw, dh, use_palette=True) != blob:
            raise ValueError("palette re-encode mismatch")
        if 8 * len(blob) >= 3 * w * h:
            raise ValueError("palette bundling failed to compress")
        yield {
            "doc_id": doc_id,
            "w": dw,
            "h": dh,
            "sum_pix": sum(dec),
            "pos_checksum": sum((j + 1) * dec[j] for j in range(len(dec))),
        }

    return map_rows(frames, row, _WEBP_PIX_SCHEMA)


# --- the color-transform (RGB) oracled query -------------------------------------

def _webp_color_pixels(doc_id: int, w: int, h: int) -> bytes:
    """Cross-channel-correlated RGB rule (md5-keyed, engine-reproducible):
    g is the skewed grayscale rule, r = g + sparse noise, b = r + sparse
    noise (all mod 256). r tracks g and b tracks r, so the color
    transform's data-driven block choice lands on nonzero g2r AND nonzero
    r2b — the residual planes collapse to the sparse noise. An R=G=B rule
    would leave r2b meaningless; this one makes every delta load-bearing
    (decode reconstructs r and b ONLY through the §4.3 inverse)."""
    import hashlib

    n_blocks = (3 * w * h + 15) // 16
    stream = b"".join(
        hashlib.md5(f"{doc_id}:c:{k}".encode()).digest()
        for k in range(n_blocks)
    )
    import numpy as np

    # vectorized form of the per-pixel rule above (r15) — same bytes:
    # g = 0 if s0 < 224 else s0 % 37 + 1, r = g + sparse, b = r + sparse
    sv = np.frombuffer(stream, dtype=np.uint8)[: 3 * w * h].reshape(
        -1, 3
    ).astype(np.int32)
    g = np.where(sv[:, 0] < 224, 0, sv[:, 0] % 37 + 1)
    r = (g + np.where(sv[:, 1] < 240, 0, sv[:, 1] % 23 + 1)) & 255
    b = (r + np.where(sv[:, 2] < 240, 0, sv[:, 2] % 19 + 1)) & 255
    return np.stack([r, g, b], axis=1).astype(np.uint8).tobytes()


_WEBP_COLOR_ORACLE = """
    WITH g AS (
      SELECT doc_id, 32 + 16 * (doc_id % 2) AS w, 24 AS h FROM documents
    ),
    hx AS (
      SELECT doc_id, w, h,
             [md5(CAST(doc_id AS VARCHAR) || ':c:' || k)
              FOR k IN range((3 * w * h + 15) // 16)] AS blocks
      FROM g
    ),
    sb AS (
      SELECT doc_id, w, h,
             [ (instr('0123456789abcdef',
                      blocks[m // 16 + 1][2 * (m % 16) + 1]) - 1) * 16
             + (instr('0123456789abcdef',
                      blocks[m // 16 + 1][2 * (m % 16) + 2]) - 1)
               FOR m IN range(3 * w * h)] AS s
      FROM hx
    ),
    px AS (
      SELECT doc_id, w, h,
             [CASE WHEN s[3*j+1] < 224 THEN 0 ELSE s[3*j+1] % 37 + 1 END
              FOR j IN range(w * h)] AS gv,
             s
      FROM sb
    ),
    px2 AS (
      SELECT doc_id, w, h, gv,
             [(gv[j+1] + CASE WHEN s[3*j+2] < 240 THEN 0
                              ELSE s[3*j+2] % 23 + 1 END) % 256
              FOR j IN range(w * h)] AS rv,
             s
      FROM px
    ),
    px3 AS (
      SELECT doc_id, w, h, gv, rv,
             [(rv[j+1] + CASE WHEN s[3*j+3] < 240 THEN 0
                              ELSE s[3*j+3] % 19 + 1 END) % 256
              FOR j IN range(w * h)] AS bv
      FROM px2
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS w,
           CAST(h AS INTEGER) AS h,
           CAST(LIST_SUM(rv) AS BIGINT) AS sum_r,
           CAST(LIST_SUM(gv) AS BIGINT) AS sum_g,
           CAST(LIST_SUM(bv) AS BIGINT) AS sum_b,
           CAST(LIST_SUM([(j + 1) * (rv[j+1] * 65536 + gv[j+1] * 256
                                     + bv[j+1])
                          FOR j IN range(w * h)]) AS BIGINT) AS pos_checksum
    FROM px3
"""


@query("multimodal_webp_color_decode", oracle=_WEBP_COLOR_ORACLE)
def multimodal_webp_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COLOR (cross-color) transform pipeline under a full hash
    oracle — the last RFC 9649 transform, exercised where it matters: per
    document, a cross-channel-correlated RGB raster (r ~ g + sparse noise,
    b ~ r + sparse noise) is encoded via :func:`encode_webp_vp8l_rgb`
    (per-8x8-block data-driven (g2r, g2b, r2b) deltas in a genuine
    entropy-coded subimage; red/blue residual planes through REAL nonzero
    prefix codes), decoded via :func:`parse_webp_vp8l_rgb` (container
    walk, §4.3 per-block inverse delta math reconstructing red and blue
    from green), and reduced to per-channel sums plus a position-weighted
    packed-pixel checksum. The oracle recomputes every statistic from the
    md5 generation rule, so a single wrong delta, residual, or channel
    order anywhere in the codec shifts the hash. In-operator: lossless
    roundtrip, bit-exact re-encode, nonzero g2r AND r2b block choices
    (cross-channel proof), and a <7 coded-bits/pixel assertion (vs 24 raw;
    measured ~4.7 — headers dominate on these small images).

    Scale: identical shape to ``multimodal_webp_lossless_decode`` — one
    bounded round-robin fan-out, then embarrassingly parallel per-doc
    codec work in a single :func:`map_rows` stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    frames = docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def row(doc_id):
        import numpy as np

        w, h = 32 + 16 * (doc_id % 2), 24
        rgb = _webp_color_pixels(doc_id, w, h)
        blob = encode_webp_vp8l_rgb(rgb, w, h)

        dw, dh, dec = parse_webp_vp8l_rgb(blob)
        if (dw, dh) != (w, h) or dec != rgb:
            raise ValueError("color roundtrip mismatch")
        if encode_webp_vp8l_rgb(dec, dw, dh) != blob:
            raise ValueError("color re-encode roundtrip mismatch")
        arr = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
        grid, _, _ = choose_color_deltas(arr[:, :, 0], arr[:, :, 1], arr[:, :, 2], w, h)
        flat = [p for line in grid for p in line]
        if not any(p[0] for p in flat) or not any(p[2] for p in flat):
            raise ValueError("color transform chose no cross-channel deltas")
        if 8 * len(blob) >= 7 * w * h:
            raise ValueError("color path failed to compress")
        a = np.frombuffer(dec, np.uint8).astype(np.int64)
        rv, gv, bv = a[0::3], a[1::3], a[2::3]
        jw = np.arange(1, w * h + 1, dtype=np.int64)
        yield {
            "doc_id": doc_id,
            "w": dw,
            "h": dh,
            "sum_r": int(rv.sum()),
            "sum_g": int(gv.sum()),
            "sum_b": int(bv.sum()),
            "pos_checksum": int((jw * (rv * 65536 + gv * 256 + bv)).sum()),
        }

    return map_rows(
        frames,
        row,
        "doc_id long, w int, h int, sum_r long, sum_g long, sum_b long, pos_checksum long",
    )
