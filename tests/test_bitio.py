"""operators/bitio.py: the shared bit readers and writers, plus JPEG's
byte-stuffing overrides of them."""

from __future__ import annotations

import numpy as np
import pytest

from geo_db_spark.operators.bitio import LsbReader, LsbWriter, MsbReader, MsbWriter


def _runs(seed: int, n: int = 400) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    widths = rng.randint(1, 33, n).tolist()
    values = rng.randint(0, 1 << 32, n, dtype=np.uint64).tolist()
    return [(v & ((1 << k) - 1), k) for v, k in zip(values, widths)]


@pytest.mark.parametrize(
    "writer,reader", [(MsbWriter, MsbReader), (LsbWriter, LsbReader)], ids=["msb", "lsb"]
)
def test_roundtrip_seeded_widths(writer, reader):
    runs = _runs(7)
    bw = writer()
    for v, k in runs:
        bw.write(v, k)
    data = bw.getvalue()
    assert len(data) == -(-sum(k for _, k in runs) // 8)
    rd = reader(data)
    for i, (v, k) in enumerate(runs):
        if i % 3 == 0:
            assert rd.peek(k) == v
        assert rd.bits(k) == v


def test_bit_order_golden_bytes():
    """MSB-first fills each byte from its high bit, LSB-first from its
    low bit; both zero-pad the last byte."""
    bw = MsbWriter()
    bw.write(0b101, 3)
    bw.write(0b11110, 5)
    bw.write(0b1, 1)
    assert bw.getvalue() == bytes([0b10111110, 0b10000000])
    bw = LsbWriter()
    bw.write(0b101, 3)
    bw.write(0b11110, 5)
    bw.write(0b1, 1)
    assert bw.getvalue() == bytes([0b11110101, 0b00000001])
    rd = MsbReader(bytes([0b10111110, 0b10000000]))
    assert [rd.bits(3), rd.bits(5), rd.bits(1)] == [0b101, 0b11110, 1]
    rd = LsbReader(bytes([0b11110101, 0b00000001]))
    assert [rd.bits(3), rd.bits(5), rd.bits(1)] == [0b101, 0b11110, 1]


@pytest.mark.parametrize(
    "reader,ahead", [(MsbReader, 0x00F), (LsbReader, 0xF00)], ids=["msb", "lsb"]
)
def test_peek_past_end_sees_ones_and_consuming_raises(reader, ahead):
    rd = reader(bytes([0x00]))
    assert rd.peek(12) == ahead  # 8 real zero bits, then phantom 1-bits
    assert rd.bits(8) == 0
    assert rd.peek(16) == 0xFFFF
    with pytest.raises(ValueError, match="truncated"):
        rd.bits(1)
    rd = reader(bytes([0xA5]))
    rd.bits(5)
    with pytest.raises(ValueError, match="truncated"):
        rd.skip(4)
    assert rd.bits(3) == 0b101  # 0xA5's last 3 bits either way: the failed skip took none


def test_align_and_bytepos():
    rd = MsbReader(bytes([0xFF, 0x12, 0x34]), 0)
    rd.bits(3)
    rd.align()
    assert rd.bytepos() == 1
    assert rd.peek(16) == 0x1234  # look-ahead does not move the position
    assert rd.bytepos() == 1
    assert rd.bits(8) == 0x12
    assert rd.bytepos() == 2
    lr = LsbReader(bytes([0xFF, 0x12]))
    lr.bits(3)
    lr.align()
    assert lr.bits(8) == 0x12


def test_jpeg_stuffing_and_marker_stop():
    """The JPEG overrides: the writer stuffs a data 0xFF as 0xFF00 and
    pads with 1-bits; the reader de-stuffs it and stops at a marker."""
    from geo_db_spark.operators.jpeg import _ScanReader, _ScanWriter

    bw = _ScanWriter()
    bw.write(0xFF, 8)
    bw.write(0x3, 4)
    bw.pad()
    assert bytes(bw.out) == bytes([0xFF, 0x00, 0x3F])
    rd = _ScanReader(bytes(bw.out) + b"\xff\xd0\x12\xff\xd9", 0)
    assert rd.bits(8) == 0xFF  # one data byte, not two
    assert rd.bits(8) == 0x3F
    # the RST marker ends the data: look-ahead sees 1-bits, consuming raises
    assert rd.peek(16) == 0xFFFF
    with pytest.raises(ValueError):
        rd.bits(1)
    rd.align_and_expect_rst(0)
    assert rd.bits(8) == 0x12
