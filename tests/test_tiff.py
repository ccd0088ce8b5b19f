"""TIFF codec (operators/tiff.py): roundtrips across compressions,
predictor, byte orders and strip splits; hand-built grayscale and
palette images for the photometric paths the fixture encoder doesn't
emit; LZW width-boundary coverage; honest refusals."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from geo_db_spark.operators.tiff import (
    _lzw_decode_tiff,
    _lzw_encode_tiff,
    _packbits,
    _unpackbits,
    decode_tiff,
    make_tiff,
)


def test_lzw_roundtrip_crosses_width_boundaries():
    """20k random bytes produce ~15k table entries — the code stream
    crosses the 9->10->11->12-bit EarlyChange boundaries AND the
    4094-entry clear; any off-by-one in the width rule breaks this."""
    rng = np.random.RandomState(11)
    for n in (1, 100, 1000, 5000, 20000):
        data = bytes(rng.randint(0, 256, n).astype(np.uint8))
        assert _lzw_decode_tiff(_lzw_encode_tiff(data), n) == data, n
    # KwKwK case: "ababab..." forces code == len(table)
    data = b"ab" * 500
    assert _lzw_decode_tiff(_lzw_encode_tiff(data), len(data)) == data


def test_unpackbits_opcodes():
    # literal(2 bytes) + repeat(3x 0x07) + no-op + literal(1)
    packed = bytes([1, 0xAA, 0xBB]) + bytes([254, 0x07]) + bytes([128]) + bytes([0, 0xCC])
    assert _unpackbits(packed, 6) == b"\xaa\xbb\x07\x07\x07\xcc"
    with pytest.raises(ValueError, match="truncated"):
        _unpackbits(packed, 10)


def test_tiff_roundtrip_matrix():
    rng = np.random.RandomState(12)
    for w, h in [(5, 4), (37, 23)]:
        rgb = bytes(rng.randint(0, 256, w * h * 3).astype(np.uint8))
        for comp in ("none", "packbits", "lzw"):
            for pred in (False, True):
                for be in (False, True):
                    for rps in (None, 7):
                        out = decode_tiff(
                            make_tiff(w, h, rgb, compression=comp, predictor=pred,
                                      big_endian=be, rows_per_strip=rps)
                        )
                        assert out.tobytes() == rgb, (w, h, comp, pred, be, rps)


def test_tiff_tiled_and_planar_matrix():
    """§15 tiles (incl. overhanging edge tiles) and §14 planar=2, each
    crossed with compression/predictor — the predictor restart per
    tile row is what the per-unit undo exists for."""
    rng = np.random.RandomState(13)
    # 37x23: 3x2 grid of 16x16 tiles with 11-col / 7-row overhang
    w, h = 37, 23
    rgb = bytes(rng.randint(0, 256, w * h * 3).astype(np.uint8))
    for comp in ("none", "packbits", "lzw"):
        for pred in (False, True):
            for planar in (1, 2):
                out = decode_tiff(
                    make_tiff(w, h, rgb, compression=comp, predictor=pred,
                              tile=(16, 16), planar=planar)
                )
                assert out.tobytes() == rgb, (comp, pred, planar, "tile")
                out = decode_tiff(
                    make_tiff(w, h, rgb, compression=comp, predictor=pred,
                              rows_per_strip=7, planar=planar)
                )
                assert out.tobytes() == rgb, (comp, pred, planar, "strip")
    # exact-multiple tile grid, big-endian
    w2, h2 = 32, 16
    rgb2 = bytes(rng.randint(0, 256, w2 * h2 * 3).astype(np.uint8))
    out = decode_tiff(make_tiff(w2, h2, rgb2, compression="lzw",
                                tile=(16, 16), big_endian=True, planar=2))
    assert out.tobytes() == rgb2
    with pytest.raises(ValueError, match="multiples of 16"):
        make_tiff(w, h, rgb, tile=(8, 16))
    with pytest.raises(ValueError, match="exclusive"):
        make_tiff(w, h, rgb, tile=(16, 16), rows_per_strip=4)


def test_tiff_tiled_g4():
    """G4 fax compression inside a tiled layout: each tile restarts the
    all-white reference line; edge-tile padding is white (0 in
    photometric 0) so the crop recovers the exact bilevel raster."""
    rng = np.random.RandomState(14)
    w, h = 37, 23
    bw = (rng.randint(0, 2, (h, w, 1)) * 255).astype(np.uint8)
    rgb = np.repeat(bw, 3, axis=2).tobytes()
    out = decode_tiff(make_tiff(w, h, rgb, compression="g4", tile=(16, 16)))
    assert out.tobytes() == rgb
    with pytest.raises(ValueError, match="planar 2"):
        make_tiff(w, h, rgb, compression="g4", planar=2)


def _hand_tiff(photo: int, w: int, h: int, sample_bytes: bytes,
               colormap: list[int] | None = None) -> bytes:
    """Minimal hand-built single-strip little-endian TIFF for the
    grayscale / palette photometric paths."""
    entries = [
        (256, 3, [w]), (257, 3, [h]), (258, 3, [8]), (259, 3, [1]),
        (262, 3, [photo]), (273, 4, [0]), (277, 3, [1]), (278, 3, [h]),
        (279, 4, [len(sample_bytes)]),
    ]
    if colormap is not None:
        entries.append((320, 3, colormap))
    entries.sort()
    ifd_off = 8
    ifd_len = 2 + 12 * len(entries) + 4
    ext = bytearray()
    ext_off = ifd_off + ifd_len
    ext_pos = {}
    fmt = {3: "H", 4: "I"}
    size = {3: 2, 4: 4}
    for tag, typ, vals in entries:
        if size[typ] * len(vals) > 4:
            ext_pos[tag] = ext_off + len(ext)
            ext += struct.pack("<" + fmt[typ] * len(vals), *vals)
    data_off = ext_off + len(ext)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, vals in entries:
        if tag == 273:
            vals = [data_off]
        out += struct.pack("<HHI", tag, typ, len(vals))
        if size[typ] * len(vals) <= 4:
            packed = struct.pack("<" + fmt[typ] * len(vals), *vals)
            out += packed + b"\x00" * (4 - len(packed))
        else:
            out += struct.pack("<I", ext_pos[tag])
    out += struct.pack("<I", 0)
    out += ext + sample_bytes
    return bytes(out)


def test_tiff_grayscale_and_palette():
    gray = bytes([0, 64, 128, 255, 10, 200])
    arr = decode_tiff(_hand_tiff(1, 3, 2, gray))
    assert arr.shape == (2, 3, 3)
    assert (arr[:, :, 0].reshape(-1) == np.frombuffer(gray, np.uint8)).all()
    assert (arr[:, :, 0] == arr[:, :, 1]).all() and (arr[:, :, 0] == arr[:, :, 2]).all()

    # palette: index i -> (i, 255-i, i//2); ColorMap stores 16-bit planes
    cmap = (
        [i << 8 for i in range(256)]
        + [(255 - i) << 8 for i in range(256)]
        + [(i // 2) << 8 for i in range(256)]
    )
    idx = bytes([0, 1, 17, 255, 7, 9])
    arr = decode_tiff(_hand_tiff(3, 3, 2, idx, colormap=cmap))
    for n, i in enumerate(idx):
        y, x = divmod(n, 3)
        assert tuple(arr[y, x]) == (i, 255 - i, i // 2), i


def test_tiff_dispatcher_and_refusals():
    from geo_db_spark.operators.multimodal import decode_image

    rgb = bytes(range(12))
    assert decode_image(make_tiff(2, 2, rgb, compression="lzw")).tobytes() == rgb
    assert decode_image(make_tiff(2, 2, rgb, big_endian=True)).tobytes() == rgb
    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"II+\x00garbage")
    # CCITT G4 is decoded since r10 (tests/test_ccitt.py) — but a G4
    # compression tag on an 8-bit/3-sample image refuses loudly
    g4 = bytearray(_hand_tiff(1, 2, 2, bytes(4)))
    # find the 259 entry and set its value to 4 (CCITT G4)
    n = struct.unpack_from("<H", g4, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", g4, off)[0] == 259:
            struct.pack_into("<H", g4, off + 8, 4)
    with pytest.raises(ValueError, match="1 bit/sample"):
        decode_tiff(bytes(g4))
    with pytest.raises(ValueError, match="does not match"):
        make_tiff(2, 2, b"\x00" * 11)


def test_packbits_literal_group_boundary():
    """Regression: a 129-byte literal group would emit header byte 128
    — the PackBits NO-OP — and silently drop the whole group (caught by
    the sf0.001 oracle run, doc with a 166/168-byte strip)."""
    for n in (127, 128, 129, 200, 500):
        data = bytes((np.arange(n) * 7 % 251).astype(np.uint8))  # run-free
        packed = _packbits(data)
        assert _unpackbits(packed, n) == data, n
        assert 128 not in packed[:1]  # header bytes never the no-op


# ---------------------------------------------------------------------------
# Hand-built spec goldens (independent of make_tiff / _lzw_encode_tiff)
#
# The roundtrip matrix above shares the module's encoder twin, so a mirrored
# deviation in both halves is invisible to it. Here both the LZW code stream
# and the TIFF container are composed in the test from the Adobe TIFF 6.0
# spec (§13 worked example; EarlyChange width-bump boundary), independent of
# the module's bit-packing helpers.
# ---------------------------------------------------------------------------


def _pack_msb(codes, widths):
    """Pack (code, width) pairs MSB-first, byte-padded with zeros."""
    bits = []
    for code, width in zip(codes, widths):
        for i in range(width - 1, -1, -1):
            bits.append((code >> i) & 1)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << (7 - j)
        out.append(byte)
    return bytes(out)


def _tiff_gray_lzw(w, h, strip: bytes) -> bytes:
    """Minimal little-endian grayscale LZW TIFF container, composed by
    hand: strip data at offset 8, IFD after it."""
    import struct as _s

    ifd_off = 8 + len(strip) + (len(strip) & 1)
    entries = [
        (256, 3, 1, w),  # ImageWidth
        (257, 3, 1, h),  # ImageLength
        (258, 3, 1, 8),  # BitsPerSample
        (259, 3, 1, 5),  # Compression = LZW
        (262, 3, 1, 1),  # Photometric = BlackIsZero
        (273, 4, 1, 8),  # StripOffsets
        (277, 3, 1, 1),  # SamplesPerPixel
        (278, 3, 1, h),  # RowsPerStrip
        (279, 4, 1, len(strip)),  # StripByteCounts
    ]
    out = bytearray(b"II*\x00")
    out += _s.pack("<I", ifd_off)
    out += strip
    if len(strip) & 1:
        out += b"\x00"
    out += _s.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += _s.pack("<HHII", tag, typ, cnt, val)
    out += _s.pack("<I", 0)
    return bytes(out)


def test_golden_lzw_spec_worked_example():
    """The TIFF 6.0 §13 worked example: input 7 7 7 8 8 7 7 6 6 encodes
    as codes 256(Clear) 7 258 8 8 258 6 6 257(EOI), all 9-bit (derived
    by hand in this comment: '77'->258, '778'->259, '88'->260,
    '87'->261, '776'->262, '66'->263; code 258 arrives as the KwKwK
    case the first time). Packed MSB-first here, NOT by the module's
    encoder."""
    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    strip = _pack_msb(codes, [9] * len(codes))
    out = decode_tiff(_tiff_gray_lzw(9, 1, strip))
    assert out.shape == (1, 9, 3)
    assert out[:, :, 0].ravel().tolist() == [7, 7, 7, 8, 8, 7, 7, 6, 6]


def test_golden_lzw_earlychange_width_bump():
    """EarlyChange boundary, hand-reasoned: after Clear the first
    literal adds no table entry and each later code adds one, so after
    253 literals the table holds 258 + 252 = 510 entries and the
    decoder must read the NEXT code at 10 bits (one entry earlier than
    table-full implies). 254 distinct-width codes: 253 literals at 9
    bits, 1 literal + EOI at 10 bits. A decoder that bumps at 511
    desynchronizes exactly at code #254."""
    literals = [(i * 7 + 3) % 256 for i in range(254)]
    codes = [256] + literals + [257]
    widths = [9] * 254 + [10, 10]
    strip = _pack_msb(codes, widths)
    out = decode_tiff(_tiff_gray_lzw(254, 1, strip))
    assert out[:, :, 0].ravel().tolist() == literals


def test_tiff_fax_fillorder2_roundtrip():
    """FillOrder=2 (tag 266, LSB-first bytes — the common scanned-fax
    layout): the decoder bit-reverses each payload byte before the fax
    bit reader, so the FillOrder=2 fixture decodes identically to its
    FillOrder=1 twin across all four fax compressions (r10 ADVICE)."""
    rng = np.random.RandomState(41)
    w, h = 37, 23
    bil = (rng.rand(h, w) < 0.4).astype(np.uint8) * 255
    rgb = np.repeat(bil[:, :, None], 3, axis=2).tobytes()
    for comp in ("g4", "mh", "g3", "g3_2d"):
        ref = decode_tiff(make_tiff(w, h, rgb, compression=comp))
        got = decode_tiff(make_tiff(w, h, rgb, compression=comp, fill_order=2))
        assert np.array_equal(np.asarray(got), np.asarray(ref)), comp
    # the two streams genuinely differ on the wire (tag + reversed bits)
    assert make_tiff(w, h, rgb, compression="g4", fill_order=2) != make_tiff(
        w, h, rgb, compression="g4"
    )
    # FillOrder=2 with byte-oriented codecs: encoder refuses loudly
    with pytest.raises(ValueError, match="FillOrder=2"):
        make_tiff(4, 4, bytes(48), compression="lzw", fill_order=2)


def test_tiff_fillorder2_nonfax_decode_refusal():
    """A FillOrder=2 tag on a non-fax TIFF raises NotImplementedError
    (honest boundary), not a confusing codec error."""
    t = bytearray(make_tiff(4, 4, bytes(48), compression="lzw"))
    # II header: IFD at offset read from bytes 4:8; walk entries and
    # inject tag 266=2 by rewriting an existing SHORT tag is fragile —
    # instead rebuild via the private assembler with an extra tag.
    from geo_db_spark.operators.tiff import _assemble_tiff, _lzw_encode_tiff

    body = _lzw_encode_tiff(bytes(48))
    t2 = _assemble_tiff(
        4, 4, [body], "<", 4, bits=[8, 8, 8], comp_tag=5, photo=2, spp=3,
        predictor=False, extra_tags=[(266, 3, [2])],
    )
    with pytest.raises(NotImplementedError, match="FillOrder"):
        decode_tiff(t2)


def test_golden_planar2_predictor2_lzw_cross():
    """Planar configuration 2 x Predictor 2 x LZW in one stream — the
    cross product the r10 verdict flagged as twin-only (each pairwise
    combination roundtrips via make_tiff, which shares its forward pass
    with the decoder). Here the horizontally-DIFFERENCED per-plane
    bytes are written by hand from TIFF 6.0 §14 (component planes,
    R-plane units first) and the Predictor-2 rule (difference restarts
    at every row), LZW-wrapped by _lzw_encode_tiff (itself pinned by
    the §13 worked-example golden, independent of this geometry), and
    assembled directly — make_tiff's splitting/differencing never runs.
    A decoder that un-differences across row boundaries, applies the
    predictor before plane placement, or lands planes in the wrong
    channel cannot reproduce the hand-stated pixels."""
    from geo_db_spark.operators.tiff import _assemble_tiff, _lzw_encode_tiff

    # target pixels (3 wide x 2 high, RGB)
    want = [
        [(10, 100, 200), (13, 100, 190), (9, 130, 210)],
        [(50, 60, 70), (55, 58, 73), (60, 56, 76)],
    ]
    # hand-differenced planes (per row: first byte verbatim, then deltas
    # mod 256): R rows [10,3,252],[50,5,5]; G [100,0,30],[60,254,254];
    # B [200,246,20],[70,3,3]
    planes = [
        bytes([10, 3, 252, 50, 5, 5]),
        bytes([100, 0, 30, 60, 254, 254]),
        bytes([200, 246, 20, 70, 3, 3]),
    ]
    units = [_lzw_encode_tiff(p) for p in planes]
    t = _assemble_tiff(
        3, 2, units, "<", 2, bits=[8, 8, 8], comp_tag=5, photo=2, spp=3,
        predictor=True, planar=2,
    )
    got = decode_tiff(t)
    assert got.shape == (2, 3, 3)
    assert [[tuple(px) for px in row] for row in got.tolist()] == want


def test_golden_fillorder2_hand_built_container():
    """FillOrder=2 (tag 266) golden INDEPENDENT of make_tiff (r11
    verdict Next #5 — the r10 FillOrder=2 coverage decoded only the
    encoder twin's output): the TIFF container is struct-packed by
    hand here, and the strip is the hand-composed G4 bit stream from
    test_golden_hand_composed_h_and_v_modes with each byte's bits
    REVERSED by this test's own arithmetic (LSB-first storage, the
    scanned-fax convention). Photometric 0 (WhiteIsZero) maps the G4
    1-bits to black. A decoder that applies the bit reversal to the
    wrong codecs, reverses across byte boundaries, or double-reverses
    cannot reproduce the two rows."""
    from geo_db_spark.operators.tiff import decode_tiff

    # G4 8x2: row0 = 00111000, row1 = 01111000 (H white-2/black-3 + V0;
    # then VL1 V0 V0) — 15 bits, MSB-first, zero-padded to 2 bytes
    bits = "001" + "0111" + "10" + "1" + "010" + "1" + "1"
    bits += "0" * (-len(bits) % 8)
    msb_first = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    # FillOrder=2 storage: reverse the bits WITHIN each byte (own math)
    strip = bytes(
        sum(((b >> i) & 1) << (7 - i) for i in range(8)) for b in msb_first
    )

    entries = [  # (tag, type, count, value) — SHORT(3) / LONG(4)
        (256, 3, 1, 8),    # width
        (257, 3, 1, 2),    # height
        (258, 3, 1, 1),    # 1 bit/sample
        (259, 3, 1, 4),    # Compression = 4 (T.6)
        (262, 3, 1, 0),    # WhiteIsZero
        (266, 3, 1, 2),    # FillOrder = 2
        (273, 4, 1, 0),    # strip offset (patched below)
        (277, 3, 1, 1),    # samples/pixel
        (279, 4, 1, len(strip)),
    ]
    ifd_off = 8
    strip_off = ifd_off + 2 + 12 * len(entries) + 4
    payload = struct.pack("<2sHI", b"II", 42, ifd_off)
    payload += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        if tag == 273:
            val = strip_off
        payload += struct.pack("<HHI", tag, typ, cnt)
        payload += struct.pack("<I", val) if typ == 4 else struct.pack("<HH", val, 0)
    payload += struct.pack("<I", 0)  # no next IFD
    payload += strip

    out = decode_tiff(payload)
    assert out.shape == (2, 8, 3)
    row = lambda bits_: [[0] * 3 if b else [255] * 3 for b in bits_]  # noqa: E731
    assert out[0].tolist() == row([0, 0, 1, 1, 1, 0, 0, 0])
    assert out[1].tolist() == row([0, 1, 1, 1, 1, 0, 0, 0])


def test_tiff_lzw_encoder_bytes_pinned():
    """make_tiff(compression='lzw') bytes for seeded rasters: a noise
    strip long enough to pass every code-width bump and the 4094-entry
    Clear, and a smooth predictor image split into strips."""
    import hashlib

    rng = np.random.RandomState(34)
    noisy = rng.randint(0, 256, (48, 40, 3)).astype(np.uint8)
    coarse = rng.randint(0, 256, (6, 5, 3))
    smooth = np.repeat(np.repeat(coarse, 8, 0), 8, 1).astype(np.uint8)
    streams = {
        "lzw_noise": make_tiff(40, 48, noisy.tobytes(), compression="lzw"),
        "lzw_smooth_pred": make_tiff(
            40, 48, smooth.tobytes(), compression="lzw", predictor=True,
            rows_per_strip=16,
        ),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == {
        "lzw_noise": "2e9b0f9eff6c494d56f16434d653b8f3ef0e9b810ef8dd36a4e55469ac96ec78",
        "lzw_smooth_pred": "f4efacd745d167596296550e7fbcef6d8508ad4a4f457b5268460338a0ba0af8",
    }
