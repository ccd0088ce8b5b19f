"""Baseline JPEG codec (operators/jpeg.py): coefficient-domain exact
decode through the full entropy layer, analytic DC-only cases, pixel
roundtrip bounds, subsampling, restarts, and the honest refusals."""

from __future__ import annotations

import numpy as np
import pytest

from geo_db_spark.operators.jpeg import (
    _IDCT_M,
    _ZZ_COLS,
    _ZZ_ROWS,
    decode_jpeg,
    make_jpeg,
    make_jpeg_gray_from_blocks,
)


def _ref_idct(zz_block, quant=None):
    """Reference reconstruction written independently of the decoder's
    code path: dezigzag, dequant, float64 IDCT, +128, round, clamp."""
    q = np.ones((8, 8)) if quant is None else np.asarray(quant, np.float64)
    coef = np.zeros((8, 8))
    coef[_ZZ_ROWS, _ZZ_COLS] = zz_block
    px = _IDCT_M.T @ (coef * q) @ _IDCT_M + 128.0
    return np.clip(np.floor(px + 0.5), 0, 255).astype(np.uint8)


def test_jpeg_dc_only_is_analytically_exact():
    """IDCT of a DC-only block is the constant DC/8: with quant=1 and
    DC = 8*(v-128) every sample decodes to exactly v — the property the
    workload oracle is built on."""
    vals = [0, 1, 77, 128, 200, 255]
    zz = np.zeros((len(vals), 64), np.int64)
    for i, v in enumerate(vals):
        zz[i, 0] = 8 * (v - 128)
    img = decode_jpeg(make_jpeg_gray_from_blocks(zz, blocks_x=3, blocks_y=2))
    assert img.shape == (16, 24, 3)
    for i, v in enumerate(vals):
        by, bx = divmod(i, 3)
        assert (img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] == v).all()


def test_jpeg_single_ac_matches_cosine_formula():
    """One AC coefficient F(0,1)=a: samples are
    128 + a/4 * C(1)/... — assert against the closed-form cosine, not
    the decoder's own matrix."""
    import math

    zz = np.zeros((1, 64), np.int64)
    zz[0, 1] = 100  # zigzag index 1 == (row 0, col 1) == F(u=0 over x, ...)
    img = decode_jpeg(make_jpeg_gray_from_blocks(zz, blocks_x=1, blocks_y=1))
    for x in range(8):
        want = 128.0 + 100 / 4.0 * math.sqrt(0.5) * math.cos(
            (2 * x + 1) * 1 * math.pi / 16
        )
        want = max(0, min(255, math.floor(want + 0.5)))
        assert img[:, x, 0].tolist() == [want] * 8, x


def test_jpeg_random_coefficients_exact_through_entropy_layer():
    """Random quantized blocks (positive/negative, runs, ZRL-forcing
    sparsity) through encode->decode must equal the reference IDCT
    bit-for-bit — pins Huffman categories, run-lengths, EOB, extend and
    byte stuffing with no lossy roundtrip in the way."""
    rng = np.random.RandomState(17)
    n = 24
    zz = np.zeros((n, 64), np.int64)
    for i in range(n):
        kind = i % 3
        if kind == 0:  # dense small values
            zz[i] = rng.randint(-30, 31, 64)
        elif kind == 1:  # sparse: forces long zero runs + ZRL
            pos = rng.choice(64, 3, replace=False)
            zz[i, pos] = rng.randint(-500, 501, 3)
        else:  # only DC
            zz[i, 0] = rng.randint(-1000, 1001)
    img = decode_jpeg(make_jpeg_gray_from_blocks(zz, blocks_x=6, blocks_y=4))
    for i in range(n):
        by, bx = divmod(i, 6)
        got = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, 0]
        assert (got == _ref_idct(zz[i])).all(), i


def test_jpeg_quant_table_applied():
    q = np.full((8, 8), 3, np.int64)
    q[0, 0] = 16
    zz = np.zeros((1, 64), np.int64)
    zz[0, 0] = 40
    zz[0, 5] = -7
    img = decode_jpeg(make_jpeg_gray_from_blocks(zz, 1, 1, quant=q))
    assert (img[:, :, 0] == _ref_idct(zz[0], q)).all()


def test_jpeg_restart_markers_reset_dc_prediction():
    rng = np.random.RandomState(5)
    zz = rng.randint(-40, 40, (12, 64)).astype(np.int64)
    plain = decode_jpeg(make_jpeg_gray_from_blocks(zz, 4, 3))
    restarted = decode_jpeg(
        make_jpeg_gray_from_blocks(zz, 4, 3, restart_interval=5)
    )
    assert (plain == restarted).all()


def test_jpeg_pixel_roundtrip_bounds():
    """The pixel-domain encoder is lossy; with quant=1 the error budget
    is coefficient rounding + color transform only. Flat color must be
    within 1 count; high-entropy noise within a small bound."""
    rgb = bytes([10, 200, 60] * 256)
    arr = np.frombuffer(rgb, np.uint8).reshape(16, 16, 3).astype(int)
    out = decode_jpeg(make_jpeg(16, 16, rgb)).astype(int)
    assert np.abs(out - arr).max() <= 1
    rng = np.random.RandomState(9)
    noisy = rng.randint(0, 256, (24, 17, 3), dtype=np.uint8)
    out2 = decode_jpeg(make_jpeg(17, 24, noisy.tobytes())).astype(int)
    assert out2.shape == (24, 17, 3)
    assert np.abs(out2 - noisy.astype(int)).max() <= 4


def test_jpeg_420_subsampling_flat_color_exact():
    """2x2 chroma averaging of a FLAT image loses nothing: the 4:2:0
    roundtrip must match 4:4:4 within the same 1-count budget, and
    odd dims must crop correctly."""
    rgb = bytes([200, 30, 90] * (13 * 11))
    arr = np.frombuffer(rgb, np.uint8).reshape(11, 13, 3).astype(int)
    out = decode_jpeg(make_jpeg(13, 11, rgb, subsample=True)).astype(int)
    assert out.shape == (11, 13, 3)
    assert np.abs(out - arr).max() <= 1


def test_jpeg_grayscale_through_dispatcher():
    from geo_db_spark.operators.multimodal import decode_image

    zz = np.zeros((2, 64), np.int64)
    zz[0, 0], zz[1, 0] = 8 * (50 - 128), 8 * (220 - 128)
    img = decode_image(make_jpeg_gray_from_blocks(zz, 2, 1))
    assert img.shape == (8, 16, 3)
    assert (img[:, :8] == 50).all() and (img[:, 8:] == 220).all()


def test_jpeg_refusals():
    import struct

    # SOF2 DECODES since r8; a baseline stream merely RELABELED SOF2 is
    # malformed (its scan header says Ss=0, Se=63 — not a DC scan)
    zz = np.zeros((1, 64), np.int64)
    good = make_jpeg_gray_from_blocks(zz, 1, 1)
    relabeled = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="DC scan"):
        decode_jpeg(relabeled)
    # lossless (SOF3) refuses
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc3", 1))
    # 12-bit samples under a BASELINE (SOF0) marker violate T.81 —
    # 12-bit decode itself works via SOF1 since late r10 (tests below)
    i = good.index(b"\xff\xc0")
    twelve = good[: i + 4] + struct.pack("B", 12) + good[i + 5 :]
    with pytest.raises(ValueError, match="baseline.*8-bit"):
        decode_jpeg(twelve)
    # not a JPEG / truncated garbage after SOI
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01")
    with pytest.raises((ValueError, NotImplementedError)):
        decode_jpeg(b"\xff\xd8\xff\xe0 jpeg")
    # scanless stream
    with pytest.raises(ValueError, match="no scan"):
        decode_jpeg(b"\xff\xd8\xff\xd9")


def test_jpeg_coefficient_fuzz():
    """Hypothesis: arbitrary bounded coefficient blocks stay exact
    through the entropy layer (KwKwK-style edge: values at category
    boundaries +-1, +-2^k)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    boundary = [0, 1, -1, 2, -2, 3, -3, 255, -255, 256, -256, 1023, -1023]

    @settings(max_examples=25, deadline=None)
    @given(data=st.data())
    def fuzz(data):
        # baseline categories: AC <= 10 (|v| <= 1023), DC <= 11
        vals = data.draw(
            st.lists(
                st.one_of(st.sampled_from(boundary), st.integers(-1023, 1023)),
                min_size=64,
                max_size=64,
            ),
            label="block",
        )
        zz = np.array([vals], np.int64)
        img = decode_jpeg(make_jpeg_gray_from_blocks(zz, 1, 1))
        assert (img[:, :, 0] == _ref_idct(zz[0])).all()

    fuzz()


def _prog(zz, bx, by, **kw):
    from geo_db_spark.operators.jpeg import make_jpeg_gray_progressive_from_blocks

    return make_jpeg_gray_progressive_from_blocks(zz, bx, by, **kw)


def test_jpeg_progressive_exact_and_equals_baseline():
    """Progressive scans partition each coefficient's bits, so decode
    must reconstruct the EXACT coefficients: compare against the
    reference IDCT and against the baseline encoding of the same
    blocks. Block mix forces EOBn runs (empty blocks), ZRL, DC-only
    and dense cases."""
    rng = np.random.RandomState(11)
    n = 24
    zz = np.zeros((n, 64), np.int64)
    for i in range(n):
        kind = i % 4
        if kind == 0:
            zz[i] = rng.randint(-30, 31, 64)
        elif kind == 1:
            pos = rng.choice(64, 3, replace=False)
            zz[i, pos] = rng.randint(-500, 501, 3)
        elif kind == 2:
            zz[i, 0] = rng.randint(-1000, 1001)
        # kind 3: all-zero blocks -> cross-block EOB runs
    img = decode_jpeg(_prog(zz, 6, 4))
    for i in range(n):
        by, bx = divmod(i, 6)
        got = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, 0]
        assert (got == _ref_idct(zz[i])).all(), i
    base = decode_jpeg(make_jpeg_gray_from_blocks(zz, 6, 4))
    assert (img == base).all()


def test_jpeg_progressive_restarts_and_quant():
    rng = np.random.RandomState(13)
    zz = rng.randint(-40, 41, (12, 64)).astype(np.int64)
    q = np.full((8, 8), 2, np.int64)
    plain = decode_jpeg(_prog(zz, 4, 3, quant=q))
    restarted = decode_jpeg(_prog(zz, 4, 3, quant=q, restart_interval=5))
    assert (plain == restarted).all()
    base = decode_jpeg(make_jpeg_gray_from_blocks(zz, 4, 3, quant=q))
    assert (plain == base).all()


def test_jpeg_progressive_deep_successive_approximation():
    """A 3-level script (Al=2 -> 1 -> 0) chains DC and AC refinement
    scans — each AC refinement must insert newly-significant coeffs AND
    correct previously-sent ones."""
    scans = (
        (0, 0, 0, 2), (1, 63, 0, 2),
        (0, 0, 2, 1), (1, 63, 2, 1),
        (0, 0, 1, 0), (1, 63, 1, 0),
    )
    rng = np.random.RandomState(7)
    zz = rng.randint(-100, 101, (9, 64)).astype(np.int64)
    zz[4] = 0  # an all-zero block inside the grid
    img = decode_jpeg(_prog(zz, 3, 3, scans=scans))
    base = decode_jpeg(make_jpeg_gray_from_blocks(zz, 3, 3))
    assert (img == base).all()


def test_jpeg_progressive_fuzz():
    """Hypothesis over block contents incl. category boundaries: the
    progressive decode must equal the baseline decode of the same
    blocks (both coefficient-exact paths)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    boundary = [0, 1, -1, 2, -2, 3, -3, 255, -255, 256, -256, 1023, -1023]

    @settings(max_examples=15, deadline=None)
    @given(data=st.data())
    def fuzz(data):
        blocks = []
        for _ in range(4):
            blocks.append(
                data.draw(
                    st.lists(
                        st.one_of(
                            st.sampled_from(boundary), st.integers(-1023, 1023)
                        ),
                        min_size=64,
                        max_size=64,
                    )
                )
            )
        zz = np.array(blocks, np.int64)
        img = decode_jpeg(_prog(zz, 2, 2))
        base = decode_jpeg(make_jpeg_gray_from_blocks(zz, 2, 2))
        assert (img == base).all()

    fuzz()


def test_jpeg_progressive_refusals():
    # subsampled progressive is an explicit boundary
    import struct

    from geo_db_spark.operators.jpeg import _seg

    zz = np.zeros((1, 64), np.int64)
    good = _prog(zz, 1, 1)
    i = good.index(b"\xff\xc2")
    # patch the single component's sampling factors to 2x2
    patched = bytearray(good)
    patched[i + 4 + 6 + 1] = 0x22  # len(2)+prec(1)+h(2)+w(2)+nc(1), comp id, hv
    with pytest.raises(NotImplementedError, match="subsampled progressive"):
        decode_jpeg(bytes(patched))


def test_jpeg_oversubscribed_dht_refuses():
    """r8 review finding: an over-subscribed DHT (more codes than fit
    16 bits) must raise — Python slice assignment past the LUT end
    would otherwise silently grow the table into garbage mappings."""
    import struct

    zz = np.zeros((1, 64), np.int64)
    good = make_jpeg_gray_from_blocks(zz, 1, 1)
    i = good.index(b"\xff\xc4")  # first DHT (the DC table)
    ln = struct.unpack_from(">H", good, i + 2)[0]
    body = bytearray(good[i + 4 : i + 2 + ln])
    body[1:17] = bytes([255] * 16)  # bits counts: absurdly over-subscribed
    body += bytes(range(256)) * 16  # enough symbol bytes to index into
    patched = (
        good[: i + 2]
        + struct.pack(">H", len(body) + 2)
        + bytes(body)
        + good[i + 2 + ln :]
    )
    from geo_db_spark.operators.jpeg import _build_huff

    _build_huff.cache_clear()  # same-session cache must not mask the guard
    with pytest.raises(ValueError, match="over-subscribed"):
        decode_jpeg(patched)


# ------------------------------------------------------------- 12-bit (r10)


def _ref_idct12(zz_block, quant=None):
    """Independent 12-bit reference: same sandwich, +2048 shift, 0..4095."""
    q = np.ones((8, 8)) if quant is None else np.asarray(quant, np.float64)
    coef = np.zeros((8, 8))
    coef[_ZZ_ROWS, _ZZ_COLS] = zz_block
    px = _IDCT_M.T @ (coef * q) @ _IDCT_M + 2048.0
    return np.clip(np.floor(px + 0.5), 0, 4095).astype(np.uint16)


def test_jpeg12_dc_only_is_analytically_exact():
    """12-bit SOF1: DC = 8*(v-2048) with quant=1 decodes to exactly v
    (uint16 output) — the property the 12-bit workload oracle uses."""
    vals = [0, 1, 77, 2048, 4000, 4095]
    zz = np.zeros((len(vals), 64), np.int64)
    for i, v in enumerate(vals):
        zz[i, 0] = 8 * (v - 2048)
    img = decode_jpeg(
        make_jpeg_gray_from_blocks(zz, blocks_x=3, blocks_y=2, precision=12)
    )
    assert img.dtype == np.uint16 and img.shape == (16, 24, 3)
    for i, v in enumerate(vals):
        by, bx = divmod(i, 3)
        assert (img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] == v).all()


def test_jpeg12_random_coefficients_and_16bit_dqt():
    """Full entropy layer at 12-bit (DC categories past 11, restart
    markers) against the independent reference, plus a Pq=1 16-bit
    quant table (values > 255 are legal at 12-bit precision)."""
    rng = np.random.RandomState(8)
    zz = np.zeros((6, 64), np.int64)
    zz[:, 0] = rng.randint(-16000, 16000, 6)  # DC cats up to 15
    for i in range(6):
        for k in rng.choice(np.arange(1, 64), 5, replace=False):
            zz[i, k] = rng.randint(-1000, 1000)
    img = decode_jpeg(
        make_jpeg_gray_from_blocks(zz, blocks_x=2, blocks_y=3,
                                   precision=12, restart_interval=2)
    )
    for i in range(6):
        by, bx = divmod(i, 2)
        got = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, 0]
        assert (got == _ref_idct12(zz[i])).all(), i

    q = np.full((8, 8), 300, np.int64)  # needs the 16-bit DQT form
    zz2 = np.zeros((1, 64), np.int64)
    zz2[0, 0] = 40
    img = decode_jpeg(
        make_jpeg_gray_from_blocks(zz2, blocks_x=1, blocks_y=1,
                                   precision=12, quant=q)
    )
    assert (img[:, :, 0] == _ref_idct12(zz2[0], q)).all()


def test_jpeg12_refusals():
    zz = np.zeros((1, 64), np.int64)
    good = make_jpeg_gray_from_blocks(zz, 1, 1, precision=12)
    # patch SOF1 -> SOF0: baseline must refuse 12-bit loudly
    bad = good.replace(b"\xff\xc1", b"\xff\xc0")
    with pytest.raises(ValueError, match="baseline.*8-bit"):
        decode_jpeg(bad)
    # patch SOF1 -> SOF2: 12-bit progressive is an honest boundary
    bad = good.replace(b"\xff\xc1", b"\xff\xc2")
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bad)
    with pytest.raises(ValueError, match="precision"):
        make_jpeg_gray_from_blocks(zz, 1, 1, precision=10)


def test_truncated_dqt_raises_clear_error():
    """A DQT segment whose length field claims fewer bytes than the
    table needs raises a clear ValueError, not numpy's buffer-size
    error (r10 ADVICE). Both the 8-bit (Pq=0) and 16-bit (Pq=1)
    branches are covered."""
    import struct as _struct

    for pq, label in ((0x00, "8-bit"), (0x10, "16-bit")):
        bad = (
            b"\xff\xd8"                       # SOI
            + b"\xff\xdb" + _struct.pack(">H", 10)  # DQT, 8 payload bytes
            + bytes([pq]) + bytes(7)          # far short of 64/128 values
        )
        with pytest.raises(ValueError, match="truncated DQT"):
            decode_jpeg(bad)


def _encoder_blocks(seed, n, dc_span, ac_span):
    """Seeded block mix for the encoder-bytes pin: dense, sparse (long
    zero runs -> ZRL), DC-only, all-zero (cross-block EOB runs) and a
    last-coefficient-set block (no trailing EOB)."""
    rng = np.random.RandomState(seed)
    zz = np.zeros((n, 64), np.int64)
    for i in range(n):
        kind = i % 5
        if kind == 0:
            zz[i] = rng.randint(-30, 31, 64)
        elif kind == 1:
            pos = rng.choice(np.arange(1, 64), 3, replace=False)
            zz[i, pos] = rng.randint(-ac_span, ac_span + 1, 3)
        elif kind == 3:
            zz[i, 63] = rng.randint(1, ac_span + 1)
        if kind != 4:
            zz[i, 0] = rng.randint(-dc_span, dc_span + 1)
    return zz


def test_jpeg_encoder_bytes_pinned():
    """The coefficient-domain encoders are integer-only, so their output
    bytes are platform-independent: pin sha256 of each variant. Decode
    tests cannot see an encoder that changes bytes but still decodes to
    the same coefficients; this can."""
    import hashlib

    from geo_db_spark.operators.jpeg import make_jpeg_gray_progressive_from_blocks

    zz8 = _encoder_blocks(21, 30, 1000, 1000)
    zz12 = _encoder_blocks(22, 12, 16000, 1000)
    q16 = np.full((8, 8), 300, np.int64)
    q16[0, 0] = 7
    deep = (
        (0, 0, 0, 2), (1, 63, 0, 2),
        (0, 0, 2, 1), (1, 63, 2, 1),
        (0, 0, 1, 0), (1, 63, 1, 0),
    )
    streams = {
        "baseline8_rst": make_jpeg_gray_from_blocks(zz8, 6, 5, restart_interval=4),
        "ext12_dqt16": make_jpeg_gray_from_blocks(
            zz12, 4, 3, quant=q16, precision=12, restart_interval=5
        ),
        "prog_rst": make_jpeg_gray_progressive_from_blocks(
            zz8, 6, 5, restart_interval=7
        ),
        "prog_deep": make_jpeg_gray_progressive_from_blocks(zz8, 6, 5, scans=deep),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == {
        "baseline8_rst": "4338be353c6791c58118e1ee2a3512b1094e5b83b87523846418632a0c55669d",
        "ext12_dqt16": "b6970de7f763a81f99f329614e5e81dd4432fe541e3fe4709d5a6728065ede3a",
        "prog_rst": "8403a57e712e55f2c0dcf43e244ef89c53a39469e1038c880ac939d4f54668ec",
        "prog_deep": "9888e458e65744c62da23d31247f24c505dfa2eca40fa2e508e84b8eea7418db",
    }
