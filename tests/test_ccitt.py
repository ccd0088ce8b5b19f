"""CCITT Group 4 (ITU-T T.6) codec tests: structural soundness of the
transcribed T.4 tables (prefix-freeness, completeness vs the spec
counts, Kraft sums), well-known anchor codewords, hand-composed golden
streams decoded independently of the encoder twin, roundtrip fuzz over
run-length and mode space (makeup codes, 2560+ runs, pass/vertical
structure), and the TIFF Compression=4 integration."""

from __future__ import annotations

import random

import numpy as np
import pytest

from geo_db_spark.operators.ccitt import (
    BLACK_MAKEUP,
    BLACK_TERM,
    EOL,
    EXT_MAKEUP,
    MODE_CODES,
    WHITE_MAKEUP,
    WHITE_TERM,
    decode_g4,
    encode_g4,
)
from geo_db_spark.operators.tiff import decode_tiff, make_tiff


def _prefix_violation(codes):
    codes = sorted(codes, key=len)
    for i, c in enumerate(codes):
        for d in codes[i + 1 :]:
            if d != c and d.startswith(c):
                return (c, d)
    return None


def test_tables_structurally_sound():
    """T.4 Tables 1-3: 64 terminating codes per color, 27 makeups per
    color, 13 shared extended makeups; each full alphabet (plus EOL)
    prefix-free; Kraft sum < 1 with the deficit being exactly the
    reserved extension space."""
    assert len(WHITE_TERM) == 64 and len(BLACK_TERM) == 64
    assert len(WHITE_MAKEUP) == 27 and len(BLACK_MAKEUP) == 27
    assert len(EXT_MAKEUP) == 13
    assert sorted(WHITE_TERM) == list(range(64))
    assert sorted(WHITE_MAKEUP) == [64 * i for i in range(1, 28)]
    assert sorted(BLACK_MAKEUP) == [64 * i for i in range(1, 28)]
    assert sorted(EXT_MAKEUP) == [1792 + 64 * i for i in range(13)]
    w = list(WHITE_TERM.values()) + list(WHITE_MAKEUP.values()) + list(
        EXT_MAKEUP.values()
    ) + [EOL]
    b = list(BLACK_TERM.values()) + list(BLACK_MAKEUP.values()) + list(
        EXT_MAKEUP.values()
    ) + [EOL]
    assert _prefix_violation(w) is None
    assert _prefix_violation(b) is None
    assert _prefix_violation(list(MODE_CODES.keys())) is None
    assert len(set(w)) == len(w) and len(set(b)) == len(b)
    kw = sum(2.0 ** -len(c) for c in w)
    kb = sum(2.0 ** -len(c) for c in b)
    assert kw < 1 and kb < 1


def test_anchor_codewords():
    """Spot-pins against the published tables — the cells most often
    quoted in the public literature."""
    assert WHITE_TERM[0] == "00110101"
    assert WHITE_TERM[1] == "000111"
    assert WHITE_TERM[63] == "00110100"
    assert BLACK_TERM[0] == "0000110111"
    assert BLACK_TERM[1] == "010"
    assert BLACK_TERM[2] == "11"
    assert BLACK_TERM[3] == "10"
    assert WHITE_MAKEUP[64] == "11011"
    assert WHITE_MAKEUP[1664] == "011000"
    assert WHITE_MAKEUP[1728] == "010011011"
    assert BLACK_MAKEUP[64] == "0000001111"
    assert EXT_MAKEUP[1792] == "00000001000"
    assert EXT_MAKEUP[2560] == "000000011111"
    assert MODE_CODES["1"] == ("V", 0)
    assert MODE_CODES["0001"] == ("P", None)
    assert MODE_CODES["001"] == ("H", None)
    assert EOL == "000000000001"


def _bits_to_bytes(s: str) -> bytes:
    s += "0" * ((-len(s)) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


def test_golden_hand_composed_h_and_v_modes():
    """8x2 stream composed by hand (NOT via encode_g4). Row 1
    (00111000): H with white-2 ('0111') + black-3 ('10'), then V0
    closing the trailing white at b1=8. Row 2 (01111000) against
    ref=[2,5,8]: VL1 (a1=1), V0 (a1=5), V0 (a1=8)."""
    bits = "001" + "0111" + "10" + "1" + "010" + "1" + "1"
    out = decode_g4(_bits_to_bytes(bits), 8, 2)
    assert list(out[:8]) == [0, 0, 1, 1, 1, 0, 0, 0]
    assert list(out[8:]) == [0, 1, 1, 1, 1, 0, 0, 0]


def test_golden_hand_composed_pass_mode():
    """8x2 stream with Pass mode. Row 1 (11100111): H with white-0
    ('00110101') + black-3 ('10'), then H with white-2 ('0111') +
    black-3 ('10'). Row 2 all white against ref=[0,3,5,8]: Pass
    (a0->3), Pass (a0->8)."""
    bits = "001" + "00110101" + "10" + "001" + "0111" + "10" + "0001" + "0001"
    out = decode_g4(_bits_to_bytes(bits), 8, 2)
    assert list(out[:8]) == [1, 1, 1, 0, 0, 1, 1, 1]
    assert list(out[8:]) == [0] * 8


def test_golden_hand_composed_makeup_runs():
    """192x1: H with white 128 (makeup '10010' + term-0 '00110101')
    and black 64 (makeup '0000001111' + term-0 '0000110111')."""
    bits = "001" + "10010" + "00110101" + "0000001111" + "0000110111"
    out = decode_g4(_bits_to_bytes(bits), 192, 1)
    assert list(out) == [0] * 128 + [1] * 64


def test_eofb_tolerated_and_garbage_refused():
    px = bytes([0, 1] * 4)
    enc = encode_g4(px, 8, 1, with_eofb=True)
    assert decode_g4(enc, 8, 1) == px
    with pytest.raises(ValueError):
        decode_g4(b"\x00\x00\x00\x00\x00\x00", 8, 2)


def test_roundtrip_fuzz():
    rng = random.Random(1234)
    for trial in range(200):
        w = rng.choice([1, 2, 3, 5, 8, 17, 64, 100, 257])
        h = rng.choice([1, 2, 3, 7, 16])
        kind = trial % 5
        if kind == 0:
            px = bytes(rng.choice([0, 1]) for _ in range(w * h))
        elif kind == 1:
            px = bytes(w * h)
        elif kind == 2:
            px = bytes([1]) * (w * h)
        elif kind == 3:  # run-structured rows (makeup-code space)
            buf = bytearray()
            while len(buf) < w * h:
                buf += bytes([rng.choice([0, 1])]) * rng.randint(1, w)
            px = bytes(buf[: w * h])
        else:  # vertically correlated (V/P mode space)
            base = [rng.choice([0, 1]) for _ in range(w)]
            buf = bytearray()
            for _ in range(h):
                if rng.random() < 0.4:
                    base[rng.randrange(w)] ^= 1
                buf += bytes(base)
            px = bytes(buf)
        assert decode_g4(encode_g4(px, w, h), w, h) == px, (trial, w, h)


def test_roundtrip_extended_makeup_2560():
    """Runs beyond 2560 need chained extended makeups."""
    px = bytes([1]) * 2800 + bytes(2800) + bytes([1]) * 100 + bytes(2700)
    assert decode_g4(encode_g4(px, 8400, 1), 8400, 1) == px
    px2 = bytes(5700) + bytes([1]) * 2700
    assert decode_g4(encode_g4(px2, 8400, 1), 8400, 1) == px2


def test_tiff_g4_integration():
    """Compression=4 TIFF end-to-end through make_tiff/decode_tiff,
    both byte orders, multi-strip (strips restart the reference row)."""
    rng = np.random.RandomState(5)
    for w, h, rps, be in [(64, 9, None, False), (17, 8, 3, True), (130, 5, 2, False)]:
        bits = rng.randint(0, 2, (h, w)).astype(np.uint8)
        rgb = np.repeat(
            np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2
        )
        tif = make_tiff(
            w, h, rgb.tobytes(), compression="g4",
            rows_per_strip=rps, big_endian=be,
        )
        out = decode_tiff(tif)
        assert out.shape == (h, w, 3)
        assert (out == rgb).all()


def test_tiff_g4_refusals():
    with pytest.raises(ValueError):
        make_tiff(2, 1, bytes([1, 2, 3, 0, 0, 0]), compression="g4")
    with pytest.raises(ValueError):
        make_tiff(2, 1, bytes([0, 0, 0, 255, 255, 255]), compression="g4", predictor=True)


# --------------------------------------------------------------- Group 3 / MH


def test_golden_mh_byte_aligned_rows():
    """Hand-composed TIFF Compression=2 stream (NOT via encode_mh).
    8x2: row 1 (00111000) = white-2 '0111' + black-3 '10' + white-3
    '1000' (10 bits), row 2 (all black) starts at the NEXT BYTE
    boundary = white-0 '00110101' + black-8 '000101'."""
    from geo_db_spark.operators.ccitt import decode_mh

    bits = "0111" + "10" + "1000"
    bits += "0" * ((-len(bits)) % 8)
    bits += "00110101" + "000101"
    out = decode_mh(_bits_to_bytes(bits), 8, 2)
    assert list(out[:8]) == [0, 0, 1, 1, 1, 0, 0, 0]
    assert list(out[8:]) == [1] * 8


def test_golden_g3_1d_eol_and_fill():
    """Hand-composed Compression=3 1-D stream: EOL before each row,
    with five fill zeros jammed before the second EOL (T.4 fill =
    extra zeros absorbed by the EOL scan)."""
    from geo_db_spark.operators.ccitt import decode_g3

    row = "0111" + "10" + "1000"  # 00111000
    bits = EOL + row + "00000" + EOL + row
    out = decode_g3(_bits_to_bytes(bits), 8, 2)
    assert list(out[:8]) == [0, 0, 1, 1, 1, 0, 0, 0]
    assert list(out[8:]) == list(out[:8])


def test_golden_g3_2d_tag_bits():
    """Hand-composed Compression=3 2-D stream: EOL+tag=1 then a 1-D
    row (00111000), EOL+tag=0 then a 2-D row of three V0s copying it."""
    from geo_db_spark.operators.ccitt import decode_g3

    bits = EOL + "1" + "0111" + "10" + "1000" + EOL + "0" + "1" + "1" + "1"
    out = decode_g3(_bits_to_bytes(bits), 8, 2, two_d=True)
    assert list(out[:8]) == [0, 0, 1, 1, 1, 0, 0, 0]
    assert list(out[8:]) == list(out[:8])


def test_g3_missing_eol_refused():
    from geo_db_spark.operators.ccitt import decode_g3

    with pytest.raises(ValueError, match="EOL"):
        decode_g3(_bits_to_bytes("0111" + "10" + "1000"), 8, 1)


def test_mh_g3_roundtrip_fuzz():
    from geo_db_spark.operators.ccitt import (
        decode_g3,
        decode_mh,
        encode_g3,
        encode_mh,
    )

    rng = random.Random(99)
    for trial in range(60):
        w = rng.choice([1, 2, 5, 8, 17, 64, 257])
        h = rng.choice([1, 2, 3, 7])
        kind = trial % 4
        if kind == 0:
            px = bytes(rng.choice([0, 1]) for _ in range(w * h))
        elif kind == 1:
            px = bytes([0]) * (w * h)
        elif kind == 2:
            px = bytes([1]) * (w * h)
        else:  # run-structured rows
            px = bytearray()
            for _ in range(h):
                row, c = [], rng.choice([0, 1])
                while len(row) < w:
                    row += [c] * min(rng.randint(1, 40), w - len(row))
                    c ^= 1
                px += bytes(row)
            px = bytes(px)
        assert decode_mh(encode_mh(px, w, h), w, h) == px, (trial, "mh")
        assert decode_g3(encode_g3(px, w, h), w, h) == px, (trial, "g3")
        assert decode_g3(
            encode_g3(px, w, h, two_d=True), w, h, two_d=True
        ) == px, (trial, "g3_2d")


def test_tiff_g3_mh_integration():
    """Compression=2/3 TIFF end-to-end, multi-strip (each strip
    restarts: MH realigns, G3 re-EOLs, G3-2D re-opens with a 1-D row),
    byte orders, and a tiled G3 layout."""
    rng = np.random.RandomState(6)
    for comp in ("mh", "g3", "g3_2d"):
        for w, h, rps, be in [(64, 9, None, False), (17, 8, 3, True), (40, 6, 2, False)]:
            bits = rng.randint(0, 2, (h, w)).astype(np.uint8)
            rgb = np.repeat(
                np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2
            )
            tif = make_tiff(w, h, rgb.tobytes(), compression=comp,
                            rows_per_strip=rps, big_endian=be)
            out = decode_tiff(tif)
            assert (out == rgb).all(), (comp, w, h, rps, be)
        bits = rng.randint(0, 2, (23, 37)).astype(np.uint8)
        rgb = np.repeat(
            np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2
        )
        out = decode_tiff(make_tiff(37, 23, rgb.tobytes(), compression=comp,
                                    tile=(16, 16)))
        assert (out == rgb).all(), (comp, "tiled")


def test_tiff_g3_uncompressed_mode_refused():
    """T4Options bit 1 (uncompressed mode) must refuse loudly."""
    import struct

    rgb = bytes([0, 0, 0, 255, 255, 255])
    tif = bytearray(make_tiff(2, 1, rgb, compression="g3_2d"))
    n = struct.unpack_from("<H", tif, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", tif, off)[0] == 292:
            struct.pack_into("<H", tif, off + 8, 2)
    with pytest.raises(NotImplementedError, match="uncompressed"):
        decode_tiff(bytes(tif))


def test_golden_g3_2d_mixed_modes_and_first_row():
    """Hand-composed Compression=3 2-D stream exercising the tag-bit
    grammar beyond V0 copies (r10 verdict Next #6):

    row 0: EOL+tag=0 — a 2-D FIRST row, coded against the imaginary
           all-white reference (b1 = width): H(white-2 '0111',
           black-3 '10') then V0 -> 00111000;
    row 1: five fill zeros, EOL+tag=1 — 1-D MH row white-0
           ('00110101') + black-8 ('000101') -> all black;
    row 2: EOL+tag=0 — VR1 ('011', a1 = b1+1 = 1), VL1 ('010',
           a1 = b1-1 = 7), V0 -> 01111110;
    row 3: EOL+tag=0 — Pass ('0001', a0 jumps to b2 = 7 staying
           white), V0 -> all white.

    Each mode's a1/b1 geometry is worked by hand in the comments; a
    decoder that mis-seeds the first-row reference, mis-reads the tag
    bit after fill, or swaps VR/VL cannot reproduce all four rows."""
    from geo_db_spark.operators.ccitt import decode_g3

    bits = (
        EOL + "0" + "001" + "0111" + "10" + "1"
        + "00000" + EOL + "1" + "00110101" + "000101"
        + EOL + "0" + "011" + "010" + "1"
        + EOL + "0" + "0001" + "1"
    )
    out = decode_g3(_bits_to_bytes(bits), 8, 4, two_d=True)
    assert list(out[0:8]) == [0, 0, 1, 1, 1, 0, 0, 0]
    assert list(out[8:16]) == [1] * 8
    assert list(out[16:24]) == [0, 1, 1, 1, 1, 1, 1, 0]
    assert list(out[24:32]) == [0] * 8


def test_golden_g3_2d_chained_extended_makeups():
    """Hand-composed Compression=3 2-D stream whose H-mode runs need
    CHAINED >= 2560 extended makeups (r11 verdict Next #5 — the 2560+
    run space was previously exercised only through the encoder twin's
    G4 roundtrip). Width 5400, three rows, codewords written as
    literal ITU-T T.4 Table 1-3 strings:

    row 0: EOL+tag=0, first 2-D row against the imaginary all-white
           reference — H ('001') with white 5204 = ext-makeup 2560
           ('000000011111') x2 + white makeup 64 ('11011') + white
           term 20 ('0001000'), then black 196 = black makeup 192
           ('000011001001') + black term 4 ('011'); a2 = 5400 closes
           the row;
    row 1: EOL+tag=0 — V0, V0 copies both transitions (5204, 5400) of
           the monster reference row;
    row 2: EOL+tag=0 — H with white 100 = white makeup 64 + white
           term 36 ('00010101'), BLACK 5236 = ext-makeup 2560 x2 +
           black makeup 64 ('0000001111') + black term 52
           ('000000100100') (the chained space in the BLACK color
           table), then V0: b1 for white after a0=5336 skips ref
           transition 5400 (parity mismatch) and lands at width.

    A decoder that stops accumulating after one makeup, drops the
    color-independence of extended makeups, or mis-parities b1 after
    a huge H jump cannot reproduce all three rows."""
    from geo_db_spark.operators.ccitt import decode_g3

    ext2560 = "000000011111"
    assert EXT_MAKEUP[2560] == ext2560  # literal pinned to the table
    bits = (
        EOL + "0"
        + "001" + ext2560 + ext2560 + "11011" + "0001000"  # white 5204
        + "000011001001" + "011"  # black 196
        + EOL + "0" + "1" + "1"  # V0 V0
        + EOL + "0"
        + "001" + "11011" + "00010101"  # white 100
        + ext2560 + ext2560 + "0000001111" + "000000100100"  # black 5236
        + "1"  # V0 closes the trailing white 64
    )
    out = decode_g3(_bits_to_bytes(bits), 5400, 3, two_d=True)
    row0 = [0] * 5204 + [1] * 196
    assert list(out[0:5400]) == row0
    assert list(out[5400:10800]) == row0
    assert list(out[10800:]) == [0] * 100 + [1] * 5236 + [0] * 64


def test_ccitt_encoder_bytes_pinned():
    """The fax encoders' output bytes for a seeded 2700-wide raster:
    extended makeups past 2560, zero-length white runs, and rows that
    differ from their reference by small flips (Vertical, Pass and
    Horizontal modes). Pins the bit writer independently of the
    decoder."""
    import hashlib

    from geo_db_spark.operators.ccitt import encode_g3, encode_mh

    rng = np.random.RandomState(33)
    w, h = 2700, 7
    row = np.zeros(w, np.uint8)
    x, c = 0, 0
    for r in [5, 70, 1800, 3, 2, 600, 190]:
        row[x : x + r] = c
        x += r
        c ^= 1
    row[x:] = c
    rows = [row.copy()]
    for y in range(1, h):
        row = row.copy()
        for _ in range(6):
            a = rng.randint(0, w - 40)
            row[a : a + rng.randint(1, 40)] ^= 1
        if y == 3:
            row[:] = 1  # all black: the row opens with a zero-length white run
        rows.append(row.copy())
    px = np.stack(rows).tobytes()
    streams = {
        "g4": encode_g4(px, w, h),
        "g4_no_eofb": encode_g4(px, w, h, with_eofb=False),
        "mh": encode_mh(px, w, h),
        "g3_2d": encode_g3(px, w, h, two_d=True),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == {
        "g4": "6852938644385e93c4a12bf3015f2bb88f4860bcb3ce5ef19f5c5abe1571982c",
        "g4_no_eofb": "ef8ee7cec7f5407beca7a0709a2544a4a9c33a612b9f28942f858b5ae2396ade",
        "mh": "c06f8776cc757bb24cd9f3a85054bfacf97d3da945e11306fdecbb4bd6fa5cb1",
        "g3_2d": "be698ae4bf92df967a7e0f86890ed0667aa3efdf038d63810f459991359a7a3a",
    }
