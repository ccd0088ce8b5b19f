"""FLAC codec (operators/flac.py): lossless roundtrips across subframe
kinds and stereo decorrelations, hand-built streams for the
decoder-only paths (LPC, verbatim, Rice method 1, partitioned
residuals, wasted bits), CRC/truncation guards, and the honest
refusals."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from geo_db_spark.operators.bitio import MsbWriter
from geo_db_spark.operators.flac import (
    _crc8,
    _crc16,
    _utf8_number,
    decode_flac,
    make_flac,
)


def test_flac_roundtrip_all_stereo_modes():
    rng = np.random.RandomState(2)
    pcm = rng.randint(-32768, 32768, (1000, 2)).astype("<i2")
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        out, rate = decode_flac(
            make_flac(8000, 2, pcm.tobytes(), block_size=256, stereo_mode=mode)
        )
        assert rate == 8000 and out.shape == (1000, 2)
        assert (out == pcm.astype(np.int32)).all(), mode


def test_flac_constant_escape_multiblock_and_empty():
    smooth = np.concatenate(
        [np.full(300, 5), np.arange(-200, 200), np.full(100, -7)]
    ).astype("<i2")
    out, _ = decode_flac(make_flac(44100, 1, smooth.tobytes(), block_size=128))
    assert (out[:, 0] == smooth).all()
    # alternating +-32000: order-2 residuals ~128k force the ESCAPE path
    wild = (((np.arange(600) % 2) * 2 - 1) * 32000).astype("<i2")
    out, _ = decode_flac(make_flac(16000, 1, wild.tobytes(), block_size=200))
    assert (out[:, 0] == wild).all()
    out, _ = decode_flac(make_flac(8000, 2, b""))
    assert out.shape == (0, 2)


def test_flac_roundtrip_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        nch=st.sampled_from([1, 2, 3]),
        mode=st.sampled_from(
            ["independent", "left_side", "right_side", "mid_side"]
        ),
        bs=st.sampled_from([16, 100, 256]),
        data=st.data(),
    )
    def roundtrip(nch, mode, bs, data):
        n = data.draw(st.integers(0, 400), label="frames")
        vals = data.draw(
            st.lists(
                st.integers(-32768, 32767), min_size=n * nch, max_size=n * nch
            ),
            label="pcm",
        )
        pcm = np.array(vals, np.int64).astype("<i2")
        if nch != 2:
            mode = "independent"
        out, _ = decode_flac(
            make_flac(8000, nch, pcm.tobytes(), block_size=bs, stereo_mode=mode)
        )
        assert (out.reshape(-1) == pcm.astype(np.int32)).all()

    roundtrip()


def _hand_frame(n, rate, subframe_writer, total=None):
    """Build a single-frame mono 16-bit FLAC whose subframe bits come
    from ``subframe_writer(bw)`` — exercises decoder paths the fixture
    encoder never emits."""
    si = MsbWriter()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(0, 3)
    si.write(15, 5)  # bps-1
    si.write(total if total is not None else n, 36)
    body = bytes(si.out) + b"\x00" * 16
    out = bytearray(b"fLaC") + bytes([0x80]) + len(body).to_bytes(3, "big") + body

    hdr = MsbWriter()
    hdr.write(0b11111111111110, 14)
    hdr.write(0, 2)
    hdr.write(7, 4)   # 16-bit blocksize at end
    hdr.write(0, 4)   # rate from STREAMINFO
    hdr.write(0, 4)   # mono
    hdr.write(0b100, 3)
    hdr.write(0, 1)
    hb = bytes(hdr.out) + _utf8_number(0) + struct.pack(">H", n - 1)
    hb += bytes([_crc8(hb)])
    bw = MsbWriter()
    subframe_writer(bw)
    bw.align()
    frame = hb + bytes(bw.out)
    frame += struct.pack(">H", _crc16(frame))
    return bytes(out + frame)


def test_flac_verbatim_subframe_decodes():
    vals = [100, -32768, 32767, 0, -1, 7, -300, 12345]

    def w(bw):
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        for v in vals:
            bw.write(v & 0xFFFF, 16)

    out, _ = decode_flac(_hand_frame(len(vals), 8000, w))
    assert out[:, 0].tolist() == vals


def test_flac_lpc_subframe_decodes():
    """LPC order 2, coefficients [3, -1] at shift 1: the decoder must
    reproduce s[n] = ((3*s[n-1] - s[n-2]) >> 1) + r[n] exactly."""
    warm = [10, 20]
    res = [1, -2, 0, 5, -5, 3]

    def w(bw):
        bw.write(0, 1)
        bw.write(32 | 1, 6)  # LPC, order = (type & 31) + 1 = 2
        bw.write(0, 1)
        for v in warm:
            bw.write(v & 0xFFFF, 16)
        bw.write(11, 4)  # precision-1 -> 12 bits
        bw.write(1, 5)   # shift 1
        for c in (3, -1):
            bw.write(c & 0xFFF, 12)
        bw.write(0, 2)   # rice method 0
        bw.write(0, 4)   # partition order 0
        bw.write(2, 4)   # param 2
        for r in res:
            u = (-2 * r - 1) if r < 0 else 2 * r
            q = u >> 2
            bw.write(1, q + 1)
            bw.write(u & 3, 2)

    want = warm[:]
    for r in res:
        want.append(((3 * want[-1] - want[-2]) >> 1) + r)
    out, _ = decode_flac(_hand_frame(len(want), 8000, w))
    assert out[:, 0].tolist() == want


def test_flac_rice2_and_partitions_decode():
    """Residual method 1 (5-bit params) with partition order 1 — two
    partitions with different params."""
    n = 8
    res = [3, -4, 7, 0, -100, 90, -80, 110]  # order 0 fixed: samples = residuals

    def w(bw):
        bw.write(0, 1)
        bw.write(8, 6)   # FIXED order 0
        bw.write(0, 1)
        bw.write(1, 2)   # rice method 1
        bw.write(1, 4)   # partition order 1 -> 2 partitions of 4
        for part, param in ((res[:4], 3), (res[4:], 7)):
            bw.write(param, 5)
            for r in part:
                u = (-2 * r - 1) if r < 0 else 2 * r
                bw.write(1, (u >> param) + 1)
                bw.write(u & ((1 << param) - 1), param)

    out, _ = decode_flac(_hand_frame(n, 8000, w))
    assert out[:, 0].tolist() == res


def test_flac_wasted_bits_shift_applied():
    """wasted-bits flag: samples stored at bps-2 shifted left by 2."""
    stored = [5, -3, 12, 0]

    def w(bw):
        bw.write(0, 1)
        bw.write(1, 6)   # VERBATIM
        bw.write(1, 1)   # wasted flag
        bw.write(0, 1)   # unary 1 -> wasted = 2
        bw.write(1, 1)
        for v in stored:
            bw.write(v & 0x3FFF, 14)

    out, _ = decode_flac(_hand_frame(len(stored), 8000, w))
    assert out[:, 0].tolist() == [v * 4 for v in stored]


def test_flac_crc_and_truncation_guards():
    pcm = np.arange(-50, 50).astype("<i2")
    good = make_flac(8000, 1, pcm.tobytes(), block_size=64)
    # flip one bit in the last frame body
    bad = bytearray(good)
    bad[-5] ^= 0x10
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(bad))
    with pytest.raises(ValueError):
        decode_flac(good[:-10])  # truncated mid-frame
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"fLaX")


def test_flac_refusals_and_dispatcher():
    from geo_db_spark.operators.multimodal import decode_audio

    pcm = np.arange(16).astype("<i2")
    good = make_flac(8000, 1, pcm.tobytes())
    out, rate = decode_audio(good)  # dispatches on fLaC magic
    assert rate == 8000 and out[:, 0].tolist() == list(range(16))
    # 20-bit STREAMINFO refuses (8/16/24 are supported since r9)
    si = MsbWriter()
    si.write(16, 16); si.write(16, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(19, 5)  # 20-bit
    si.write(0, 36)
    body = bytes(si.out) + b"\x00" * 16
    stream = b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body
    with pytest.raises(NotImplementedError, match="20-bit"):
        decode_flac(stream)
    # total_samples=0 is legal FLAC for "unknown length"; the
    # sample-count-driven frame loop would silently decode ZERO samples
    # — must refuse loudly instead (r8 ADVICE #4)
    si0 = MsbWriter()
    si0.write(16, 16); si0.write(16, 16); si0.write(0, 24); si0.write(0, 24)
    si0.write(8000, 20); si0.write(0, 3); si0.write(15, 5)  # 16-bit
    si0.write(0, 36)  # unknown total
    body0 = bytes(si0.out) + b"\x00" * 16
    stream0 = (
        b"fLaC" + bytes([0x80]) + len(body0).to_bytes(3, "big") + body0
        + b"\xff\xf8"  # a frame sync follows -> length is "unknown", not zero
    )
    with pytest.raises(NotImplementedError, match="unknown total_samples"):
        decode_flac(stream0)


def test_flac_right_side_asymmetric_channels_regression():
    """r8 review finding (runtime-confirmed bug): right/side frames
    carry SIDE in channel 0 and RIGHT in channel 1 — the first decode
    emitted the side signal as the right channel. Pin with strongly
    asymmetric channels where any channel swap is unmissable."""
    left = np.array([100, 200, 300, 400], "<i2")
    right = np.array([10, 20, 30, 40], "<i2")
    pcm = np.stack([left, right], axis=1).astype("<i2")
    out, _ = decode_flac(
        make_flac(8000, 2, pcm.tobytes(), stereo_mode="right_side")
    )
    assert out[:, 0].tolist() == left.tolist()
    assert out[:, 1].tolist() == right.tolist()


def test_flac_8_and_24_bit_roundtrip():
    """r9: the non-16-bit boundary closed for 8/24-bit PCM — every
    stereo decorrelation, both depths, exact roundtrip (24-bit PCM is
    3-byte little-endian two's complement)."""
    rng = np.random.RandomState(5)
    for nch in (1, 2):
        modes = (
            ["independent"]
            if nch == 1
            else ["independent", "left_side", "right_side", "mid_side"]
        )
        for mode in modes:
            pcm8 = rng.randint(-128, 128, 300 * nch).astype("i1")
            out, rate = decode_flac(
                make_flac(8000, nch, pcm8.tobytes(), bits=8, stereo_mode=mode)
            )
            assert rate == 8000
            assert (out.reshape(-1) == pcm8.astype(np.int64)).all(), (8, nch, mode)
            vals = rng.randint(-(1 << 23), 1 << 23, 257 * nch).astype(np.int64)
            b = bytearray()
            for v in vals:
                u = int(v) & 0xFFFFFF
                b += bytes([u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF])
            out, rate = decode_flac(
                make_flac(44100, nch, bytes(b), bits=24, stereo_mode=mode)
            )
            assert (out.reshape(-1).astype(np.int64) == vals).all(), (24, nch, mode)


def test_flac_12_bit_still_refuses():
    si = MsbWriter()
    si.write(16, 16); si.write(16, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(11, 5)  # 12-bit
    si.write(0, 36)
    body = bytes(si.out) + b"\x00" * 16
    stream = b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_flac(stream)


def test_flac_variable_block_roundtrip_and_mismatch_guard():
    """r9: variable blocking — alternating frame sizes, the strategy
    bit set, UTF-8 numbers coding each frame's first SAMPLE index
    (decoder validates them against the stream position)."""
    rng = np.random.RandomState(9)
    for nch, mode in [(1, "independent"), (2, "mid_side"), (2, "right_side")]:
        pcm = rng.randint(-32768, 32768, 700 * nch).astype("<i2")
        payload = make_flac(
            8000, nch, pcm.tobytes(), block_size=128,
            stereo_mode=mode, variable_block=True,
        )
        out, rate = decode_flac(payload)
        assert rate == 8000
        assert (out.reshape(-1) == pcm.astype(np.int32)).all(), (nch, mode)
    # corrupt the first frame's sample number: UTF-8 number 0 is the
    # byte right after the 4 header bytes of the first frame
    payload = make_flac(8000, 1, np.arange(300).astype("<i2").tobytes(),
                        block_size=64, variable_block=True)
    bad = bytearray(payload)
    # find the second frame (variable-block sync = 0xff 0xf9; the
    # coded sample number 64 is a single UTF-8 byte 0x40)
    idx = bad.index(b"\xff\xf9", 50)
    assert bad[idx + 4] == 64  # the coded sample start
    bad[idx + 4] = 65
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))


def test_flac_encoder_bytes_pinned():
    """make_flac is integer-only, so its output bytes are platform-
    independent: pin sha256 of each channel mode, variable blocking and
    the 24-bit escape-coded residual path. A roundtrip cannot see a
    writer and reader that change together; this can."""
    import hashlib

    rng = np.random.RandomState(31)
    t = np.arange(700)
    left = (3000 * np.sin(t / 9.0)).astype(np.int64) + rng.randint(-40, 41, 700)
    right = left // 2 + rng.randint(-300, 301, 700)
    st = np.stack([left, right], 1).astype("<i2").tobytes()
    n24 = rng.randint(-(1 << 23), 1 << 23, 300).tolist()
    pcm24 = bytes(b for v in n24 for b in (v & 0xFFFFFF).to_bytes(3, "little"))
    streams = {
        "independent": make_flac(44100, 2, st, block_size=192),
        "left_side": make_flac(44100, 2, st, block_size=192, stereo_mode="left_side"),
        "right_side": make_flac(44100, 2, st, block_size=192, stereo_mode="right_side"),
        "mid_side": make_flac(44100, 2, st, block_size=192, stereo_mode="mid_side"),
        "variable": make_flac(22050, 2, st, block_size=160, variable_block=True),
        "mono24_escape": make_flac(48000, 1, pcm24, block_size=128, bits=24),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == {
        "independent": "d0726723a98980633aee061b5cac7b7488b6cfb7ee62e4ec8959c50dc733a3c1",
        "left_side": "2a1d51d3d5bf9b9e3af01382af44d9a52391d2a96f802c8c37ecc6b32fbe023d",
        "right_side": "27b65e629887aa7e83b02dee836bca3f5268bd2b8708c238cd920157bfef29c4",
        "mid_side": "b53856753615ed516dd0403c76cb4ee8271280a719c4d80e5d1a5a78f34f8f5d",
        "variable": "90f3fc23766c4a4270ebcf0ddff9497b9df07ce970cf58cd95d4015de8d8d990",
        "mono24_escape": "9834c26163d1fb81b9b26da0e274f73ad533f370a0391997400aa874c5fd8079",
    }
