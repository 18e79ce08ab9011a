"""AIFF audio container — the BIG-ENDIAN format grammar, with the 80-bit
extended-precision float.

Tenth hand-written container grammar, and the one that exercises the two
byte-level conventions every other format here avoids: IFF chunks carry
big-endian sizes and big-endian PCM payloads (netpbm/WAV/tar/zip/gzip/
AVI are all little-endian or text), and the COMM chunk stores the sample
rate as an 80-bit IEEE 754 extended-precision float (1 sign + 15
exponent bits, bias 16383, 64-bit mantissa with an EXPLICIT integer
bit) — a representation with no struct-module support, encoded and
decoded here from first principles. Integer sample rates are exactly
representable, so the roundtrip is bit-exact and oracle-checkable.

The muxer writes FORM/AIFF with COMM and SSND (offset/blockSize header,
big-endian 16-bit PCM, odd-chunk pad byte per the IFF rule); the parser
re-walks the chunk tree, validates the FORM type and chunk bookkeeping,
decodes the extended float exactly (rejecting NaN/Inf/denormal rates),
and reads the big-endian samples back.

Reference scope note: the reference engine (SURVEY.md §2.1) has no
media path; this extends the §2.2 multimodal family.

Scale: one ``map_rows`` over the bounded round-robin fan-out —
embarrassingly parallel per-file O(samples) work, the standard codec
plan contract here.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table


def encode_f80(value: int) -> bytes:
    """Encode a positive integer as an 80-bit extended-precision float
    (the AIFF sampleRate type): 15-bit exponent biased 16383, 64-bit
    mantissa with explicit leading integer bit."""
    if value <= 0:
        raise ValueError("AIFF sample rate must be positive")
    msb = value.bit_length() - 1
    mantissa = value << (63 - msb)
    exponent = 16383 + msb
    return struct.pack(">HQ", exponent, mantissa)


def decode_f80(b: bytes) -> int:
    """Decode an 80-bit extended float holding an exact positive integer.
    Rejects negatives, NaN/Inf (exponent 0x7FFF), denormals (explicit
    integer bit clear), and non-integer values."""
    if len(b) != 10:
        raise ValueError("extended float must be 10 bytes")
    exponent, mantissa = struct.unpack(">HQ", b)
    if exponent & 0x8000:
        raise ValueError("negative sample rate")
    if exponent == 0x7FFF:
        raise ValueError("NaN/Inf sample rate")
    if exponent == 0 and mantissa == 0:
        raise ValueError("zero sample rate")
    if not (mantissa >> 63):
        raise ValueError("denormal sample rate")
    shift = (exponent - 16383) - 63
    if shift >= 0:
        return mantissa << shift
    if shift < -63 or mantissa & ((1 << -shift) - 1):
        raise ValueError("non-integer sample rate")
    return mantissa >> -shift


def mux_aiff(samples, rate: int) -> bytes:
    """int16 samples -> AIFF bytes (mono, 16-bit, big-endian PCM)."""
    n = len(samples)
    pcm = b"".join(struct.pack(">h", int(v)) for v in samples)
    comm = struct.pack(">hIh", 1, n, 16) + encode_f80(rate)
    ssnd = struct.pack(">II", 0, 0) + pcm

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack(">I", len(payload)) + payload + pad

    body = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + struct.pack(">I", len(body)) + body


def demux_aiff(b: bytes):
    """AIFF bytes -> (n_channels, n_frames, bits, rate, sample list)."""
    if len(b) < 12 or b[0:4] != b"FORM":
        raise ValueError("not an IFF FORM file")
    size = struct.unpack(">I", b[4:8])[0]
    if size + 8 != len(b):
        raise ValueError("FORM size mismatch")
    if b[8:12] != b"AIFF":
        raise ValueError("not an AIFF form")
    comm = ssnd = None
    i = 12
    while i + 8 <= len(b):
        fourcc = b[i:i + 4]
        csize = struct.unpack(">I", b[i + 4:i + 8])[0]
        data = b[i + 8:i + 8 + csize]
        if len(data) != csize:
            raise ValueError(f"chunk {fourcc!r} truncated")
        if fourcc == b"COMM":
            comm = data
        elif fourcc == b"SSND":
            ssnd = data
        i += 8 + csize + (csize % 2)  # IFF odd-chunk pad
    if comm is None or ssnd is None:
        raise ValueError("missing COMM or SSND chunk")
    if len(comm) != 18:
        raise ValueError("bad COMM size for uncompressed AIFF")
    nch, nframes, bits = struct.unpack(">hIh", comm[:8])
    rate = decode_f80(comm[8:18])
    if nch != 1 or bits != 16:
        raise ValueError(f"unsupported layout {nch}ch/{bits}bit")
    off, blk = struct.unpack(">II", ssnd[:8])
    if off or blk:
        raise ValueError("unsupported SSND offset/blockSize")
    pcm = ssnd[8:]
    if len(pcm) != 2 * nframes:
        raise ValueError(
            f"SSND holds {len(pcm)} bytes for {nframes} declared frames"
        )
    out = [
        struct.unpack(">h", pcm[2 * j:2 * j + 2])[0] for j in range(nframes)
    ]
    return nch, nframes, bits, rate, out


# rate schedule exercising distinct exponents/mantissa shapes in the f80
_AIFF_RATES = [8000, 11025, 16000, 22050, 32000, 44100, 48000, 96000]

_AIFF_ORACLE = f"""
    WITH h AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    b AS (
      SELECT media_id,
             [ (instr('0123456789ABCDEF', hx[2*i+1]) - 1) * 16
             + (instr('0123456789ABCDEF', hx[2*i+2]) - 1)
               FOR i IN range(n_bytes)] AS bytes,
             n_bytes // 2 AS n_samples
      FROM h WHERE n_bytes >= 2
    ),
    s AS (
      SELECT media_id, n_samples,
             [ CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
               FOR v IN [256 * bytes[2*i+1] + bytes[2*i+2]
                         FOR i IN range(n_samples)]] AS smp
      FROM b
    )
    SELECT media_id,
           CAST(n_samples AS INTEGER) AS n_frames,
           CAST({"[" + ", ".join(str(r) for r in _AIFF_RATES) + "]"}
                [media_id % {len(_AIFF_RATES)} + 1] AS BIGINT)
             AS sample_rate,
           CAST(COALESCE(list_sum(smp), 0) AS BIGINT) AS sum_samples,
           CAST(COALESCE(list_max(list_transform(smp, x -> ABS(x))), 0)
             AS BIGINT) AS max_abs
    FROM s
"""


@query("multimodal_audio_aiff_roundtrip", oracle=_AIFF_ORACLE)
def multimodal_audio_aiff_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BIG-ENDIAN audio container with a full hash oracle: PCM samples
    (big-endian int16 — the byte pairing is the opposite of every LE
    codec here, and the oracle's 256*b[2i]+b[2i+1] pairing is
    load-bearing) are muxed into a real AIFF (FORM/COMM/SSND, IFF
    odd-chunk padding, the 80-bit extended-precision sample rate built
    from first principles) and re-parsed by the from-scratch chunk
    walker; the emitted sample rate comes from the DECODED extended
    float, so a bias slip, mantissa shift, or explicit-integer-bit
    mistake in the f80 codec breaks the hash on the 8-rate schedule.
    sum/max statistics come from the re-read samples, proving the
    big-endian roundtrip.

    Scale: one :func:`map_rows` over the bounded fan-out, O(samples) per
    file, parallel across files — the standard codec plan contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    corpus = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            raw.alias("payload"),
            F.octet_length(raw).alias("n_bytes"),
        )
        .filter(F.col("n_bytes") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def row(media_id, payload):
        import numpy as np

        n = len(payload) // 2
        smp = np.frombuffer(payload[: 2 * n], dtype=">i2").astype(np.int64)
        rate = _AIFF_RATES[media_id % len(_AIFF_RATES)]
        aiff = mux_aiff(smp, rate)  # real big-endian container
        nch, nframes, bits, drate, dec = demux_aiff(aiff)
        if [int(v) for v in smp] != dec:
            raise ValueError(f"AIFF roundtrip mismatch for {media_id}")
        dec_a = np.asarray(dec, dtype=np.int64)
        yield {
            "media_id": media_id,
            "n_frames": nframes,
            "sample_rate": drate,
            "sum_samples": int(dec_a.sum()) if n else 0,
            "max_abs": int(np.abs(dec_a).max()) if n else 0,
        }

    return map_rows(
        corpus.select("media_id", "payload"),
        row,
        "media_id long, n_frames int, sample_rate long, sum_samples long, max_abs long",
    )
