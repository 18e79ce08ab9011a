"""Baseline-JPEG codec battery (operators/multimodal_jpeg.py).

The flat-block subspace is hash-oracled by the differential harness
(multimodal_jpeg_decode); these tests cover what SQL cannot — the lossy
general path's error bounds, byte stuffing, restart-marker verification,
and the corruption grammar — plus a spec spot-check of the generated
zigzag order.
"""

from __future__ import annotations

import numpy as np
import pytest

from oe_batch_processing_spark.operators.multimodal_jpeg import (
    ZIGZAG,
    decode_jpeg_rgb,
    encode_jpeg,
    parse_jpeg,
    stuff_scan,
    unstuff_scan,
)


def _flat_jpg(grid: np.ndarray, **kw) -> bytes:
    hb, wb = grid.shape
    raster = np.kron(grid.astype(np.uint8), np.ones((8, 8), dtype=np.uint8))
    return encode_jpeg(raster.tobytes(), wb * 8, hb * 8, 1, **kw)


def test_zigzag_matches_spec_prefix():
    # ITU T.81 figure A.6, first 10 and last entries
    assert ZIGZAG[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert ZIGZAG[-1] == (7, 7)
    assert len(set(ZIGZAG)) == 64


def test_flat_blocks_roundtrip_bit_exact():
    rng = np.random.RandomState(11)
    for _ in range(25):
        grid = rng.randint(0, 256, (rng.randint(1, 5), rng.randint(1, 5)))
        jpg = _flat_jpg(grid)
        w, h, ns, planes, rc = parse_jpeg(jpg)
        assert (w, h, ns) == (grid.shape[1] * 8, grid.shape[0] * 8, 1)
        expect = np.kron(grid.astype(np.uint8), np.ones((8, 8), np.uint8))
        assert np.array_equal(planes[0], expect)
        assert rc == (grid.size - 1) // 3  # DRI=3 restart count


def test_random_grayscale_error_bound_q1():
    """With an all-ones quantizer, baseline JPEG loss is only DCT-coef
    rounding: empirically <= 1/pixel, assert <= 2 for slack."""
    rng = np.random.RandomState(12)
    for _ in range(8):
        w, h = int(rng.randint(8, 40)), int(rng.randint(8, 40))
        raster = rng.randint(0, 256, (h, w)).astype(np.uint8)
        jpg = encode_jpeg(raster.tobytes(), w, h, 1, qtable=[1] * 64)
        w2, h2, ns, planes, _ = parse_jpeg(jpg)
        assert (w2, h2, ns) == (w, h, 1)
        err = np.abs(planes[0].astype(int) - raster.astype(int)).max()
        assert err <= 2


def test_color_ycbcr_roundtrip_error_bound():
    """3-component 4:4:4: adds two color-space conversions (each rounds
    once) on top of the DCT loss; assert <= 4."""
    rng = np.random.RandomState(13)
    for _ in range(5):
        w, h = int(rng.randint(8, 32)), int(rng.randint(8, 32))
        raster = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        jpg = encode_jpeg(raster.tobytes(), w, h, 3, qtable=[1] * 64)
        w2, h2, ch, a, _ = decode_jpeg_rgb(jpg)
        assert (w2, h2, ch) == (w, h, 3)
        assert np.abs(a.astype(int) - raster.astype(int)).max() <= 4


def test_non_multiple_of_8_dims_pad_and_crop():
    rng = np.random.RandomState(14)
    raster = rng.randint(0, 256, (13, 21)).astype(np.uint8)
    jpg = encode_jpeg(raster.tobytes(), 21, 13, 1, qtable=[1] * 64)
    w, h, ns, planes, _ = parse_jpeg(jpg)
    assert (w, h) == (21, 13)
    assert planes[0].shape == (13, 21)


def _stuffed_jpg() -> bytes:
    """A seeded random image whose entropy stream contains stuffed
    0xFF00 pairs (verified below), so unstuffing is genuinely exercised."""
    rng = np.random.RandomState(42)
    raster = rng.randint(0, 256, (32, 32)).astype(np.uint8)
    return encode_jpeg(raster.tobytes(), 32, 32, 1, qtable=[1] * 64)


def test_byte_stuffing_present_and_unstuffed():
    jpg = _stuffed_jpg()
    sos = jpg.find(b"\xff\xda")
    assert jpg.count(b"\xff\x00", sos) > 0  # stuffing really happened
    w, h, ns, _, _ = parse_jpeg(jpg)  # and decodes cleanly through it
    assert (w, h, ns) == (32, 32, 1)


def test_restart_predictor_reset_matters():
    """A file with restarts must decode identically whether blocks sit
    before or after an RST boundary — i.e. the DC predictor reset is
    load-bearing, not decorative."""
    grid = np.array([[10, 200, 10, 200, 10, 200]])
    jpg = _flat_jpg(grid)  # 6 MCUs, DRI=3 -> one RST0 between MCU 2 and 3
    _, _, _, planes, rc = parse_jpeg(jpg)
    assert rc == 1
    expect = np.kron(grid.astype(np.uint8), np.ones((8, 8), np.uint8))
    assert np.array_equal(planes[0], expect)


def test_corruption_battery():
    base = _flat_jpg(np.array([[50, 180], [90, 250]]))

    # bad SOI
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"\x00\x00" + base[2:])

    # truncation mid-entropy
    with pytest.raises(ValueError):
        parse_jpeg(base[:-8])

    # missing EOI
    with pytest.raises(ValueError, match="EOI"):
        parse_jpeg(base[:-2])

    # wrong restart index: patch the RST0 marker byte to RST5
    idx = base.find(b"\xff\xd0", base.find(b"\xff\xda"))
    assert idx != -1
    patched = bytearray(base)
    patched[idx + 1] = 0xD5
    with pytest.raises(ValueError, match="expected RST0"):
        parse_jpeg(bytes(patched))

    # a stuffed 0x00 flipped into a marker byte aborts entropy decode
    jpg = _stuffed_jpg()
    sos = jpg.find(b"\xff\xda")
    st = jpg.find(b"\xff\x00", sos)
    patched = bytearray(jpg)
    patched[st + 1] = 0xC3
    with pytest.raises(ValueError):
        parse_jpeg(bytes(patched))

    # progressive SOF rejected: rewrite SOF0 marker to SOF2
    sof = base.find(b"\xff\xc0")
    patched = bytearray(base)
    patched[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="non-baseline"):
        parse_jpeg(bytes(patched))

    # 16-bit DQT precision rejected
    dqt = base.find(b"\xff\xdb")
    patched = bytearray(base)
    patched[dqt + 4] |= 0x10  # Pq=1
    with pytest.raises(ValueError, match="quantization"):
        parse_jpeg(bytes(patched))

    # scan referencing an undefined Huffman table: excise the DHT segment
    import struct

    dht = base.find(b"\xff\xc4")
    (seglen,) = struct.unpack(">H", base[dht + 2:dht + 4])
    with pytest.raises(ValueError, match="undefined table"):
        parse_jpeg(base[:dht] + base[dht + 2 + seglen:])


def test_unstuff_scan_rejects_markers_inside_entropy_data():
    intervals = [b"\x12\xff\x34", b"\xff", b"\x56"]
    scan = stuff_scan(intervals) + b"\xff\xd9"
    assert scan.count(b"\xff\x00") == 2
    assert unstuff_scan(scan, 0, 3) == intervals

    # a stuffed byte turned into a marker in the first interval
    bad = scan.replace(b"\xff\x00", b"\xff\xc4", 1)
    with pytest.raises(ValueError, match="unexpected marker 0xFFC4 inside"):
        unstuff_scan(bad, 0, 3)
    # ... and in the last one, where only EOI may end the scan
    bad = stuff_scan([b"\x12", b"\x34\xc4\x56"]).replace(b"\x34", b"\xff")
    with pytest.raises(ValueError, match="unexpected marker 0xFFC4 inside"):
        unstuff_scan(bad + b"\xff\xd9", 0, 2)
    # RSTn out of sequence, a missing restart, a scan without EOI
    with pytest.raises(ValueError, match="expected RST1 at offset 8"):
        unstuff_scan(scan.replace(b"\xff\xd1", b"\xff\xd3"), 0, 3)
    with pytest.raises(ValueError, match="unexpected marker 0xFFD9"):
        unstuff_scan(scan, 0, 4)
    with pytest.raises(ValueError, match="no EOI"):
        unstuff_scan(scan[:-2], 0, 3)


def test_oversubscribed_huffman_table_rejected():
    from oe_batch_processing_spark.operators.multimodal_jpeg import (
        _huffman_code,
    )

    # three 1-bit codes do not fit in the two 1-bit code words
    with pytest.raises(ValueError, match="overflow code space"):
        _huffman_code([3] + [0] * 15, [0, 1, 2])


def test_entropy_bytes_after_the_last_mcu_rejected():
    base = _flat_jpg(np.array([[50, 180], [90, 250]]))
    with pytest.raises(ValueError, match="unused entropy bytes"):
        parse_jpeg(base[:-2] + b"\x00" + base[-2:])


def test_420_flat_rgb_roundtrip_bit_exact():
    """R=G=B flat-block rasters through the full 4:2:0 color path must be
    bit-exact (the multimodal_jpeg420_decode oracle's premise): chroma is
    constant 128, so subsampling/upsampling and the color transforms
    cancel exactly."""
    rng = np.random.RandomState(21)
    for _ in range(10):
        wb, hb = 2 * rng.randint(1, 4), 2 * rng.randint(1, 3)
        grid = rng.randint(0, 256, (hb, wb)).astype(np.uint8)
        lum = np.kron(grid, np.ones((8, 8), np.uint8))
        rgb = np.stack([lum] * 3, axis=-1)
        jpg = encode_jpeg(rgb.tobytes(), wb * 8, hb * 8, 3, subsample=True)
        w, h, ch, a, rc = decode_jpeg_rgb(jpg)
        assert (w, h, ch) == (wb * 8, hb * 8, 3)
        assert np.array_equal(a, rgb)
        assert rc == ((wb // 2) * (hb // 2) - 1) // 3  # MCUs are 16x16


def test_420_smooth_image_error_bound():
    """On a smooth gradient (the case 4:2:0 is designed for) the loss is
    small; on chroma noise it would not be — that's the subsampling
    trade, not a codec bug."""
    yy, xx = np.mgrid[0:32, 0:48]
    rgb = np.stack(
        [
            (yy * 4).astype(np.uint8),
            (xx * 3).astype(np.uint8),
            ((yy + xx) * 2).astype(np.uint8),
        ],
        axis=-1,
    )
    jpg = encode_jpeg(rgb.tobytes(), 48, 32, 3, qtable=[1] * 64,
                      subsample=True)
    w, h, ch, a, _ = decode_jpeg_rgb(jpg)
    assert (w, h, ch) == (48, 32, 3)
    assert np.abs(a.astype(int) - rgb.astype(int)).max() <= 12


def test_420_rejects_other_sampling_layouts():
    """Decoder scope is explicit: all-1x1 or luma-2x2; a 2x1 layout must
    be rejected, not silently mis-tiled."""
    lum = np.full((16, 16), 99, dtype=np.uint8)
    rgb = np.stack([lum] * 3, axis=-1)
    jpg = encode_jpeg(rgb.tobytes(), 16, 16, 3, subsample=True)
    sof = jpg.find(b"\xff\xc0")
    patched = bytearray(jpg)
    patched[sof + 11] = 0x21  # luma H=2, V=1
    with pytest.raises(ValueError, match="4:2:0"):
        parse_jpeg(bytes(patched))
