"""FLAC-lite codec battery (operators/multimodal_flac.py).

The full pipeline is hash-oracled by the differential harness (all
integer math, lossless), so these tests cover the codec properties the
oracle can't see failing in isolation: losslessness across signal
classes, bit-level Rice coding edge cases, order-selection behavior,
and bitstream robustness.
"""

from __future__ import annotations

import numpy as np
import pytest

from oe_batch_processing_spark.operators.bitio import MsbReader, MsbWriter
from oe_batch_processing_spark.operators.multimodal_flac import (
    FRAME,
    _frame_plan,
    _rice_k,
    flac_lite_decode,
    flac_lite_encode,
)


def _roundtrip(samples):
    samples = np.asarray(samples, dtype=np.int64)
    n_frames = len(samples) // FRAME
    stream, bits, plans = flac_lite_encode(samples[: n_frames * FRAME])
    dec = flac_lite_decode(stream, n_frames)
    return dec, bits, plans


def test_lossless_across_signal_classes():
    rng = np.random.RandomState(11)
    signals = [
        rng.randint(-32768, 32768, 160),                    # white noise
        (8000 * np.sin(np.arange(320) / 9.0)).astype(int),  # smooth tone
        np.zeros(48, dtype=int),                            # silence
        np.full(64, 32767),                                 # DC at clip
        np.full(64, -32768),                                # DC at -clip
        np.tile([-32768, 32767], 40),                       # max alternation
        np.cumsum(rng.randint(-5, 6, 240)).clip(-32768, 32767),  # ramp-ish
    ]
    for s in signals:
        dec, bits, plans = _roundtrip(s)
        assert dec == [int(v) for v in s[: len(dec)]]
        assert bits == sum(p[2] for p in plans)


def test_order_selection_prefers_differencing_on_smooth_signals():
    smooth = (800 * np.sin(np.arange(10 * FRAME) / 25.0)).astype(int)
    _, bits, plans = _roundtrip(smooth)
    assert all(o >= 1 for (o, _, _) in plans)
    assert bits < 16 * len(smooth) // 2  # at least 2:1 on a smooth tone


def test_order_selection_falls_back_to_verbatim_on_noise():
    rng = np.random.RandomState(5)
    noise = rng.randint(-32768, 32768, 20 * FRAME)
    _, _, plans = _roundtrip(noise)
    # differencing EXPANDS white noise; order 0 must dominate
    assert sum(1 for (o, _, _) in plans if o == 0) > len(plans) // 2


def test_rice_k_matches_bin_length_rule():
    for a, n, want in [(0, 16, 0), (15, 16, 0), (16, 16, 0), (32, 16, 1),
                       (63, 16, 1), (64, 16, 2), (16 * 1024, 16, 10)]:
        assert _rice_k(a, n) == want


def test_frame_plan_bit_cost_is_exact():
    """The plan's bit count must equal what the writer actually writes —
    the in-operator assertion, exercised directly on a nasty frame."""
    rng = np.random.RandomState(7)
    frame = rng.randint(-32768, 32768, FRAME).astype(np.int64)
    stream, bits, plans = flac_lite_encode(frame)
    assert len(plans) == 1
    assert bits == plans[0][2]
    assert len(stream) == (bits + 7) // 8


def test_bitwriter_reader_mirror():
    w = MsbWriter()
    vals = [(1, 1), (0, 1), (5, 3), (0xFFFF, 16), (0, 5), (1234, 11)]
    for v, b in vals:
        w.write(v, b)
    w.unary(0)
    w.unary(7)
    w.unary(100)  # crosses the 32-zero chunking path
    stream = w.flush()
    r = MsbReader(stream)
    for v, b in vals:
        assert r.read(b) == v
    assert r.unary() == 0
    assert r.unary() == 7
    assert r.unary() == 100


def test_negative_warmup_samples_roundtrip():
    """Two's-complement 16-bit warmup encoding must sign-extend."""
    s = np.array([-32768, -1, -12345] + [0] * (FRAME - 3), dtype=np.int64)
    # force a high order so all three negatives land in the warmup
    s[3:] = np.arange(FRAME - 3) * 3 - 12345
    dec, _, _ = _roundtrip(s)
    assert dec == [int(v) for v in s]


def test_bad_order_in_stream_rejected():
    w = MsbWriter()
    w.write(3, 2)  # order 3 is valid...
    stream = w.flush()
    # ...but a stream claiming order 3 with no warmup bits truncates
    with pytest.raises(ValueError):
        flac_lite_decode(stream, 1)


def test_truncated_stream_rejected():
    s = np.arange(FRAME, dtype=np.int64) * 100
    stream, _, _ = flac_lite_encode(s)
    with pytest.raises(ValueError, match="exhausted"):
        flac_lite_decode(stream[: len(stream) // 2], 1)


def test_compression_ratio_reported_honestly():
    """total_bits is pre-padding; padding adds at most 7 bits per file."""
    s = (100 * np.sin(np.arange(4 * FRAME) / 7.0)).astype(int)
    stream, bits, _ = flac_lite_encode(np.asarray(s, dtype=np.int64))
    assert (bits + 7) // 8 == len(stream)
    assert 8 * len(stream) - bits < 8
