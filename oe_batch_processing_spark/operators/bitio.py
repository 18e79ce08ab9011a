"""Bit-level I/O shared by the hand-written codecs.

Two bit orders:

* MSB-first (JPEG entropy data, FLAC-lite, H.264 RBSPs): the first bit of
  the stream is the top bit of the first byte, and a field goes high bit
  first.
* LSB-first (GIF's LZW codes, VP8L): the first bit of the stream is the
  low bit of the first byte, and a field goes low bit first.

Writers append whole fields to an integer accumulator and drain full bytes
into ``out``. Readers keep unread bits in an integer accumulator (``buf``,
``nbuf`` bits) refilled from ``data`` at ``byte_pos``; any read past the end
raises ``ValueError("bitstream exhausted")``. Byte-level framing (JPEG byte
stuffing and restart markers, H.264 emulation prevention) is a byte pass in
the codec module, so the bit layer never sees it.

:class:`PrefixCode` is the one canonical prefix-code (Huffman) builder: it
takes the symbols in code order with their lengths and yields each
symbol's code plus the per-length canonical decode walk.
"""

from __future__ import annotations

from bisect import bisect_right


class _Writer:
    __slots__ = ("out", "acc", "n")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits_written(self) -> int:
        return 8 * len(self.out) + self.n

    def align(self, bit: int = 0) -> None:
        """Pad to a byte boundary with ``bit``."""
        if self.n:
            k = 8 - self.n
            self.write((1 << k) - 1 if bit else 0, k)

    def flush(self) -> bytes:
        """Zero-pad to a byte boundary; the stream so far."""
        self.align()
        return bytes(self.out)

    def unary(self, q: int) -> None:
        """``q`` zero bits, then a one."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(0, q)
        self.write(1, 1)

    def ue(self, value: int) -> None:
        """Unsigned Exp-Golomb: unary(z), then the low z bits of value+1."""
        v = value + 1
        z = v.bit_length() - 1
        self.unary(z)
        self.write(v - (1 << z), z)

    def se(self, value: int) -> None:
        """Signed Exp-Golomb: ue(2v-1) for v > 0, ue(-2v) otherwise."""
        self.ue(2 * value - 1 if value > 0 else -2 * value)


class MsbWriter(_Writer):
    __slots__ = ()

    def write(self, value: int, nbits: int) -> None:
        """The low ``nbits`` bits of ``value``, high bit first."""
        n = self.n + nbits
        acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        while n >= 8:
            n -= 8
            self.out.append((acc >> n) & 0xFF)
        self.acc = acc & ((1 << n) - 1)
        self.n = n


class LsbWriter(_Writer):
    __slots__ = ()

    def write(self, value: int, nbits: int) -> None:
        """The low ``nbits`` bits of ``value``, low bit first."""
        acc = self.acc | ((value & ((1 << nbits) - 1)) << self.n)
        n = self.n + nbits
        while n >= 8:
            self.out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
        self.acc = acc
        self.n = n


class _Reader:
    __slots__ = ()

    def unary(self) -> int:
        """Count zero bits up to and including the terminating one."""
        q = 0
        while not self.read(1):
            q += 1
        return q

    def ue(self) -> int:
        zeros = self.unary()
        if zeros > 31:
            raise ValueError("Exp-Golomb prefix too long")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


class MsbReader(_Reader):
    __slots__ = ("data", "byte_pos", "buf", "nbuf")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.byte_pos = 0
        self.buf = 0  # the low nbuf bits are unread
        self.nbuf = 0

    def read(self, nbits: int) -> int:
        nbuf = self.nbuf
        if nbuf < nbits:
            # take 4 bytes or more, so 1-bit reads seldom refill
            pos = self.byte_pos
            chunk = self.data[pos:pos + 4 + (nbits >> 3)]
            if nbuf + 8 * len(chunk) < nbits:
                raise ValueError("bitstream exhausted")
            self.buf = (
                (self.buf & ((1 << nbuf) - 1)) << (8 * len(chunk))
            ) | int.from_bytes(chunk, "big")
            self.byte_pos = pos + len(chunk)
            nbuf += 8 * len(chunk)
        nbuf -= nbits
        self.nbuf = nbuf
        return (self.buf >> nbuf) & ((1 << nbits) - 1)

    def remaining(self) -> int:
        """Unread bits left in the stream."""
        return 8 * (len(self.data) - self.byte_pos) + self.nbuf


class LsbReader(_Reader):
    __slots__ = ("data", "byte_pos", "buf", "nbuf", "total_bits", "consumed")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.byte_pos = 0
        self.buf = 0  # unread bits, next bit lowest
        self.nbuf = 0
        self.total_bits = 8 * len(data)
        # bits consumed so far; callers that peek a window past the end
        # (zero-filled) check consumed + length against total_bits
        self.consumed = 0

    def read(self, nbits: int) -> int:
        consumed = self.consumed + nbits
        if consumed > self.total_bits:
            raise ValueError("bitstream exhausted")
        self.consumed = consumed
        buf, nbuf = self.buf, self.nbuf
        if nbuf < nbits:
            pos = self.byte_pos
            chunk = self.data[pos:pos + 4 + (nbits >> 3)]
            buf |= int.from_bytes(chunk, "little") << nbuf
            nbuf += 8 * len(chunk)
            self.byte_pos = pos + len(chunk)
        self.buf = buf >> nbits
        self.nbuf = nbuf - nbits
        return buf & ((1 << nbits) - 1)

    def remaining(self) -> int:
        """Unread bits left in the stream."""
        return self.total_bits - self.consumed


class PrefixCode:
    """A canonical prefix code from its symbols in code order with their
    lengths (1 and up, never decreasing): codes count up within a length
    and shift left when the length grows. JPEG's DHT lists its symbols in
    this order (HUFFVAL grouped by BITS); DEFLATE and VP8L sort by (length,
    symbol). A code that outgrows its length means the lengths
    oversubscribe the code space, which raises.

    :meth:`read` decodes one symbol by the per-length canonical walk:
    after ``ln`` bits the code is a complete one exactly when it is below
    ``limit[ln]``, the code after the last ``ln``-bit code.
    """

    __slots__ = ("symbols", "lengths", "limit", "delta", "maxlen")

    def __init__(self, symbols: list[int], lengths: list[int]) -> None:
        if sorted(lengths) != lengths or (lengths and lengths[0] < 1):
            raise ValueError("prefix code lengths out of code order")
        maxlen = lengths[-1] if lengths else 0
        limit = [0] * (maxlen + 1)
        delta = [0] * (maxlen + 1)  # symbols[code + delta[ln]] decodes code
        code = start = 0
        for ln in range(1, maxlen + 1):
            end = bisect_right(lengths, ln, start)
            code <<= 1
            delta[ln] = start - code
            code += end - start
            if code > 1 << ln:
                raise ValueError("huffman bits overflow code space")
            limit[ln] = code
            start = end
        self.symbols = symbols
        self.lengths = lengths
        self.limit = limit
        self.delta = delta
        self.maxlen = maxlen

    def codes(self) -> dict[int, tuple[int, int]]:
        """symbol -> (code, length)."""
        delta = self.delta
        return {
            sym: (i - delta[ln], ln)
            for i, (sym, ln) in enumerate(zip(self.symbols, self.lengths))
        }

    def read(self, r: MsbReader | LsbReader) -> int:
        code = 0
        limit = self.limit
        for ln in range(1, self.maxlen + 1):
            code = (code << 1) | r.read(1)
            if code < limit[ln]:
                return self.symbols[code + self.delta[ln]]
        raise ValueError("invalid prefix code in stream")
