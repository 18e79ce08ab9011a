"""Hypothesis round-trip properties for the round-9 hand-written codecs.

The deterministic batteries pin known vectors and corruption behavior;
these properties attack the same grammars with arbitrary inputs — run
lengths straddling every cap, pathological repetition, empty and
single-byte payloads, dimensions at the format edges — where off-by-one
bit/byte bugs actually live.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oe_batch_processing_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
)
from oe_batch_processing_spark.operators.multimodal_h264 import (
    add_emulation,
    decode_h264_ipcm,
    mux_annexb,
    strip_emulation,
)
from oe_batch_processing_spark.operators.multimodal_jpeg import (
    stuff_scan,
    unstuff_scan,
)
from oe_batch_processing_spark.operators.multimodal_tiff import (
    COMP_NONE,
    COMP_PACKBITS,
    encode_tiff,
    packbits_decode,
    packbits_encode_row,
    parse_tiff,
)
from oe_batch_processing_spark.operators.multimodal_webp import (
    encode_webp_vp8l,
    lz77_parse,
    parse_webp_vp8l,
    prefix_decode_value,
    prefix_encode_value,
)
from oe_batch_processing_spark.streaming import pbshim

# byte streams biased toward runs (RLE/LZ77's interesting regime) as well
# as uniform noise
_runs = st.lists(
    st.tuples(st.integers(0, 255), st.integers(1, 40)), min_size=0, max_size=20
).map(lambda ps: b"".join(bytes([v]) * n for v, n in ps))
_noise = st.binary(max_size=300)
_bytestream = st.one_of(_runs, _noise)


# one bitio field: fixed width 0..32, Exp-Golomb ue/se (prefix <= 31
# zeros) or a unary run
_bit_field = st.one_of(
    st.integers(0, 32).flatmap(
        lambda n: st.tuples(
            st.just("bits"), st.integers(0, (1 << n) - 1), st.just(n)
        )
    ),
    st.tuples(st.just("ue"), st.integers(0, 2**32 - 2), st.none()),
    st.tuples(st.just("se"), st.integers(-(2**31) + 1, 2**31 - 1), st.none()),
    st.tuples(st.just("unary"), st.integers(0, 80), st.none()),
)


@pytest.mark.parametrize(
    "writer, reader", [(MsbWriter, MsbReader), (LsbWriter, LsbReader)],
    ids=["msb", "lsb"],
)
@given(fields=st.lists(_bit_field, max_size=40))
@settings(max_examples=150, deadline=None)
def test_bitio_roundtrips_any_fields(writer, reader, fields):
    w = writer()
    for kind, v, n in fields:
        if kind == "bits":
            w.write(v, n)
        else:
            getattr(w, kind)(v)
    nbits = w.bits_written()
    data = w.flush()
    assert len(data) == (nbits + 7) // 8
    r = reader(data)
    for kind, v, n in fields:
        assert (r.read(n) if kind == "bits" else getattr(r, kind)()) == v
    assert r.read(8 * len(data) - nbits) == 0  # the zero padding
    assert r.remaining() == 0
    with pytest.raises(ValueError, match="bitstream exhausted"):
        r.read(1)


# restart-interval payloads dense in 0xFF and marker-like bytes
_jpeg_interval = st.one_of(
    st.lists(st.sampled_from([0x00, 0xFF, 0xD0, 0xD9, 0xC4, 0x7F]),
             max_size=40),
    st.lists(st.integers(0, 255), max_size=40),
).map(bytes)


@given(st.lists(_jpeg_interval, min_size=1, max_size=12), st.integers(0, 3))
@settings(max_examples=200, deadline=None)
def test_jpeg_stuffing_roundtrips_any_intervals(intervals, fill):
    scan = stuff_scan(intervals)
    # a stuffed segment holds no 0xFF except before 0x00 or an RSTn
    for i in range(len(scan) - 1):
        if scan[i] == 0xFF:
            assert scan[i + 1] == 0 or 0xD0 <= scan[i + 1] <= 0xD7
    # fill 0xFF bytes may precede the EOI
    tail = b"\xff" * fill + b"\xff\xd9"
    assert unstuff_scan(b"\xda" + scan + tail, 1, len(intervals)) == intervals


@given(_bytestream)
@settings(max_examples=200, deadline=None)
def test_packbits_roundtrips_any_row(row):
    assert packbits_decode(packbits_encode_row(row), len(row)) == row


@given(_bytestream)
@settings(max_examples=200, deadline=None)
def test_h264_emulation_roundtrips_any_rbsp(rbsp):
    ebsp = add_emulation(rbsp)
    assert strip_emulation(ebsp) == rbsp
    # EBSP grammar invariant: a 00 00 pair is never followed by 0x00..0x02
    # (only the 0x03 escape or a byte >= 4 may appear)
    for i in range(len(ebsp) - 2):
        if ebsp[i] == 0 and ebsp[i + 1] == 0:
            assert ebsp[i + 2] >= 3


@given(
    st.integers(1, 3),
    st.integers(1, 4),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_h264_ipcm_roundtrips_any_samples(mb_w, n_frames, data):
    frames = [
        [
            bytes(
                data.draw(st.lists(st.integers(0, 255), min_size=384, max_size=384))
            )
            for _ in range(mb_w)
        ]
        for _ in range(n_frames)
    ]
    stream = mux_annexb(mb_w, 1, frames)
    w, h, n_nals, dec = decode_h264_ipcm(stream)
    assert (w, h, n_nals) == (16 * mb_w, 16, n_frames + 2)
    assert dec == frames


@given(st.integers(1, 24), st.integers(1, 13), st.booleans(), _bytestream)
@settings(max_examples=100, deadline=None)
def test_tiff_roundtrips_any_raster(w, h, packbits, pad):
    raster = (pad * ((w * h) // max(len(pad), 1) + 1))[: w * h] if pad else bytes(w * h)
    comp = COMP_PACKBITS if packbits else COMP_NONE
    t = encode_tiff(raster, w, h, comp)
    dw, dh, dc, strips = parse_tiff(t)
    assert (dw, dh, dc) == (w, h, comp)
    assert b"".join(strips) == raster


@given(st.integers(1, 1_000_000))
@settings(max_examples=300, deadline=None)
def test_vp8l_prefix_scheme_total_bijection(v):
    code, extra, ebits = prefix_encode_value(v)
    assert 0 <= extra < (1 << ebits) if ebits else extra == 0
    w = LsbWriter()
    w.write(extra, ebits)
    w.write(0, 8)
    assert prefix_decode_value(code, LsbReader(w.flush())) == v


@given(st.integers(1, 30), st.integers(1, 10), _bytestream)
@settings(max_examples=60, deadline=None)
def test_vp8l_roundtrips_any_raster(w, h, pad):
    raster = (pad * ((w * h) // max(len(pad), 1) + 1))[: w * h] if pad else bytes(w * h)
    blob = encode_webp_vp8l(raster, w, h)
    dw, dh, dec = parse_webp_vp8l(blob)
    assert (dw, dh) == (w, h) and dec == raster
    # determinism: the re-encode roundtrip the operator asserts
    assert encode_webp_vp8l(dec, dw, dh) == blob


@given(_bytestream)
@settings(max_examples=100, deadline=None)
def test_lz77_parse_reconstructs(data):
    """The greedy parse is a lossless factorization: replaying its ops
    must rebuild the input, and every backref must be in-bounds."""
    out = bytearray()
    for kind, a, b in lz77_parse(data):
        if kind == 0:
            out.append(a)
        else:
            assert b >= 1 and b <= len(out) and a >= 3
            start = len(out) - b
            for k in range(a):
                out.append(out[start + k])
    assert bytes(out) == data


@given(st.lists(st.tuples(st.integers(0, 2**63 - 1)), max_size=8))
@settings(max_examples=100, deadline=None)
def test_pbshim_varint_roundtrips(values):
    buf = b"".join(pbshim.write_varint(v[0]) for v in values)
    pos = 0
    for (v,) in values:
        got, pos = pbshim.read_varint(buf, pos)
        assert got == v
    assert pos == len(buf)


@given(st.integers(-(2**63), 2**63 - 1), st.integers(0, 2**63 - 1), st.binary(max_size=40))
@settings(max_examples=100, deadline=None)
def test_pbshim_message_scalar_roundtrip(i64, u64, blob):
    mod = _pb()
    m = mod.StateResponseWithLongTypeVal(statusCode=int(i64 % 2**31 - 2**30), value=i64)
    back = mod.StateResponseWithLongTypeVal()
    back.ParseFromString(m.SerializeToString())
    assert back.value == i64
    m2 = mod.StateResponse(statusCode=7, errorMessage="e", value=blob)
    back2 = mod.StateResponse()
    back2.ParseFromString(m2.SerializeToString())
    assert bytes(back2.value) == blob


_PB_MOD = None


def _pb():
    global _PB_MOD
    if _PB_MOD is None:
        _PB_MOD = pbshim.build_module()
    return _PB_MOD


@given(st.integers(1, 22), st.integers(1, 9), _bytestream)
@settings(max_examples=40, deadline=None)
def test_vp8l_rgb_color_transform_roundtrips_any_raster(w, h, pad):
    """Round 11: the RGB color-transform path must roundtrip ANY raster —
    arbitrary (uncorrelated) channels force worst-case residual histograms
    through the per-block delta selection, the nonzero red/blue prefix
    codes, and the §4.3 inverse, including 1-pixel and partial-edge-block
    geometries."""
    from oe_batch_processing_spark.operators.multimodal_webp import (
        encode_webp_vp8l_rgb,
        parse_webp_vp8l_rgb,
    )

    n = 3 * w * h
    rgb = (pad * (n // max(len(pad), 1) + 1))[:n] if pad else bytes(n)
    blob = encode_webp_vp8l_rgb(rgb, w, h)
    assert parse_webp_vp8l_rgb(blob) == (w, h, rgb)
    # determinism: the re-encode roundtrip the operator asserts
    assert encode_webp_vp8l_rgb(rgb, w, h) == blob
