"""Baseline TIFF decode + fixture encoder, pure stdlib+NumPy (the
public Adobe TIFF 6.0 specification) — the scanned-document corpus
format next to PNG/JPEG/WebP.

Scope: both byte orders (II/MM), stripped AND tiled images (§15 —
TileWidth/TileLength grids, overhanging edge tiles padded to full tile
size), planar configuration 1 (chunky) and 2 (separate component
planes, §14's "StripsPerImage strips per component, component 0
first" layout, tiles likewise), 8-bit samples, PhotometricInterpretation
1 (grayscale BlackIsZero, widened to RGB), 2 (RGB) and 3 (palette via
ColorMap), Compression 1 (none), 32773 (PackBits), 5 (TIFF-LZW —
MSB-first codes through operators/bitio.py, 256=Clear/257=EOI, the
spec's EarlyChange width bump one code early) and 4 (CCITT Group 4 via
operators/ccitt.py), Predictor 2 (horizontal differencing — restarting
per strip/tile row, which is why the undo runs per decompressed unit,
not on the assembled raster). Multi-strip images honored via RowsPerStrip.
Honest NotImplementedError: 1/4/16-bit non-G4 samples, JPEG-in-TIFF
compressions.

Citations: Adobe "TIFF Revision 6.0" (1992, public); the LZW variant
is §13 (note the MSB-first packing and EarlyChange — both DIFFER from
GIF's LZW, which is why operators/multimodal.py's GIF decoder is not
reused). No reference counterpart (SURVEY §2-H engine growth).
"""

from __future__ import annotations

import struct

from geo_db_spark.operators.bitio import MsbReader, MsbWriter

# FillOrder=2 (tag 266): bits within each byte are stored LSB-first —
# the common layout in scanned-fax TIFFs. Reversing every byte turns
# the stream back into the MSB-first order the bit readers assume.
_BITREV = bytes(
    ((i * 0x0202020202 & 0x010884422010) % 1023) for i in range(256)
)


def _unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF §9): n in [0,127] -> copy n+1 literal bytes;
    n in [-127,-1] (two's complement) -> repeat next byte 1-n times;
    -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError(f"PackBits strip truncated: {len(out)} < {expected}")
    return bytes(out[:expected])


def _lzw_decode_tiff(data: bytes, expected: int) -> bytes:
    """TIFF-LZW (§13): 9..12-bit codes packed MSB-first, Clear=256,
    EOI=257, table grows from 258, and the code width bumps when the
    NEXT entry would not fit (EarlyChange: at table size 510/1022/2046,
    one earlier than the GIF variant)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    rd = MsbReader(data)
    prev: bytes | None = None
    while True:
        try:
            code = rd.bits(width)
        except ValueError:
            break  # soft stop at end of data: the length check below decides
        if code == 256:  # Clear
            reset()
            prev = None
            continue
        if code == 257:  # EOI
            break
        if prev is None:
            if code > 255:
                raise ValueError("TIFF-LZW: first code after clear not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"TIFF-LZW: code {code} beyond table")
        out += entry
        prev = entry
        # EarlyChange (TIFF §13 / PDF's EarlyChange=1): the decoder
        # widens at table size 2^n - 2 (510/1022/2046) — one entry
        # EARLIER than its table fill implies, because its table lags
        # the encoder's by exactly one pending entry
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
        if len(out) >= expected:
            break
    if len(out) < expected:
        raise ValueError(f"TIFF-LZW strip truncated: {len(out)} < {expected}")
    return bytes(out[:expected])


def decode_tiff(payload: bytes):
    """TIFF payload -> (H, W, 3) uint8 RGB ndarray."""
    import numpy as np

    if payload[:4] == b"II*\x00":
        e = "<"
    elif payload[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")

    def unpack(fmt: str, off: int) -> tuple:
        if off + struct.calcsize(e + fmt) > len(payload):
            raise ValueError(f"TIFF IFD field at offset {off} runs past the payload")
        return struct.unpack_from(e + fmt, payload, off)

    (ifd_off,) = unpack("I", 4)
    (n_entries,) = unpack("H", ifd_off)
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = unpack("HHI", off)
        if typ not in type_size:
            continue  # rationals etc. (resolution tags) are irrelevant here
        total = type_size[typ] * cnt
        voff = off + 8 if total <= 4 else unpack("I", off + 8)[0]
        tags[tag] = list(unpack(f"{cnt}{type_fmt[typ]}", voff))

    def one(tag: int, default=None):
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"TIFF missing required tag {tag}")
        return default

    w = one(256)
    h = one(257)
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    rows_per_strip = one(278, h)
    predictor = one(317, 1)
    planar = one(284, 1)
    fill_order = one(266, 1)
    if fill_order not in (1, 2):
        raise ValueError(f"bad TIFF FillOrder {fill_order}")
    if planar not in (1, 2):
        raise ValueError(f"bad TIFF planar configuration {planar}")
    if planar == 2 and spp == 1:
        planar = 1  # §14: with one sample the two layouts coincide
    tiled = 322 in tags or 323 in tags
    if comp not in (1, 2, 3, 4, 5, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp} needs a codec library (1/2/3/4/5/32773 decode)"
        )
    fax = comp in (2, 3, 4)
    if fill_order == 2 and not fax:
        # spec restricts FillOrder=2 to 1-bit data in practice; the
        # byte-oriented codecs (LZW/PackBits/none) never use it
        raise NotImplementedError("FillOrder=2 only supported for fax TIFFs")
    g3_two_d = False
    if fax:
        # CCITT fax bilevel — G4 (T.6) r10, G3/MH (T.4) late r10
        if bits != [1]:
            raise ValueError(f"fax TIFF must be 1 bit/sample: {bits}")
        if spp != 1:
            raise ValueError("fax TIFF must be 1 sample per pixel")
        if photo not in (0, 1):
            raise ValueError(f"fax TIFF needs bilevel photometric: {photo}")
        if comp == 4 and one(293, 0) != 0:  # T6Options: uncompressed mode
            raise NotImplementedError("T.6 uncompressed mode not supported")
        if comp == 3:
            t4opts = one(292, 0)
            if t4opts & 2:
                raise NotImplementedError("T.4 uncompressed mode not supported")
            g3_two_d = bool(t4opts & 1)
    elif any(b != 8 for b in bits):
        raise NotImplementedError(f"only 8-bit TIFF samples supported: {bits}")
    if not fax and photo not in (1, 2, 3):
        raise NotImplementedError(f"TIFF photometric {photo} not supported")
    if photo == 2 and spp < 3:
        raise ValueError("RGB TIFF needs >= 3 samples per pixel")
    if photo in (1, 3) and spp != 1:
        raise ValueError("grayscale/palette TIFF must be 1 sample per pixel")

    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    # ---- unit geometry: one entry per strip/tile, in offset order ----
    # Each unit is (y0, x0, rows, cols, plane): where its decompressed
    # pixels land on the canvas. planar=2 stores all units of component
    # 0 first, then component 1, ... (§14); tiles go left-to-right,
    # top-to-bottom (§15), and EDGE tiles are encoded at FULL tile size
    # (the overhang is padding), so tile units always claim (tl, tw) —
    # the padded canvas is cropped to (h, w) at the end.
    unit_spp = 1 if planar == 2 else spp
    nplanes = spp if planar == 2 else 1
    unit_geom: list[tuple[int, int, int, int, int]] = []
    if tiled:
        tw, tl = one(322), one(323)
        offsets, counts = tags.get(324), tags.get(325)
        ta, td = -(-w // tw), -(-h // tl)
        for p in range(nplanes):
            for i in range(ta * td):
                ty, tx = divmod(i, ta)
                unit_geom.append((ty * tl, tx * tw, tl, tw, p))
        canvas_h, canvas_w = td * tl, ta * tw
    else:
        offsets, counts = tags.get(273), tags.get(279)
        for p in range(nplanes):
            y0 = 0
            while y0 < h:
                rows = min(rows_per_strip, h - y0)
                unit_geom.append((y0, 0, rows, w, p))
                y0 += rows
        canvas_h, canvas_w = h, w
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing/inconsistent strip/tile offsets or counts")
    if len(offsets) != len(unit_geom):
        raise ValueError(
            f"TIFF expects {len(unit_geom)} strips/tiles, IFD lists {len(offsets)}"
        )

    canvas = np.zeros((canvas_h, canvas_w, spp), np.uint8)
    for (y0, x0, rows, cols, p), so, sc in zip(unit_geom, offsets, counts):
        expected = rows * cols * unit_spp
        body = payload[so : so + sc]
        if len(body) < sc:
            raise ValueError("TIFF strip/tile data truncated")
        if comp == 1:
            if len(body) < expected:
                raise ValueError("TIFF uncompressed strip/tile truncated")
            data = body[:expected]
        elif comp == 32773:
            data = _unpackbits(body, expected)
        elif fax:
            # each strip/tile restarts the all-white reference line
            # (TIFF 6.0 §10-11); yields one 0/1 sample byte per pixel
            from geo_db_spark.operators.ccitt import decode_g3, decode_g4, decode_mh

            if fill_order == 2:
                body = body.translate(_BITREV)
            if comp == 4:
                data = decode_g4(body, cols, rows)
            elif comp == 3:
                data = decode_g3(body, cols, rows, two_d=g3_two_d)
            else:
                data = decode_mh(body, cols, rows)
        else:
            data = _lzw_decode_tiff(body, expected)
        unit = np.frombuffer(data, np.uint8).reshape(rows, cols, unit_spp)
        if predictor == 2 and not fax:
            # horizontal differencing restarts per strip/tile row per
            # sample: undo with a cumulative sum mod 256 inside the unit
            unit = np.cumsum(unit.astype(np.uint32), axis=1).astype(np.uint8)
        if planar == 2:
            canvas[y0 : y0 + rows, x0 : x0 + cols, p] = unit[:, :, 0]
        else:
            canvas[y0 : y0 + rows, x0 : x0 + cols, :] = unit
    arr = canvas[:h, :w]
    if fax:
        # photometric 0 (WhiteIsZero, the fax default) images 1-bits
        # as black
        bl = arr[:, :, 0]
        black = bl == 1 if photo == 0 else bl == 0
        gray = np.where(black, 0, 255).astype(np.uint8)
        return np.ascontiguousarray(np.repeat(gray[:, :, None], 3, axis=2))
    if photo == 2:
        return np.ascontiguousarray(arr[:, :, :3])
    if photo == 1:
        return np.ascontiguousarray(np.repeat(arr, 3, axis=2))
    # palette: ColorMap is 3 * 2^bits 16-bit values, R then G then B planes
    cmap = tags.get(320)
    if not cmap or len(cmap) != 3 * 256:
        raise ValueError("palette TIFF missing a 256-entry ColorMap")
    cm = (np.array(cmap, np.uint32).reshape(3, 256) >> 8).astype(np.uint8)
    idx = arr[:, :, 0]
    out = np.stack([cm[0][idx], cm[1][idx], cm[2][idx]], axis=2)
    return np.ascontiguousarray(out)


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------


def _packbits(row: bytes) -> bytes:
    """Greedy PackBits encoder: runs >= 3 become repeats, the rest are
    literal groups (<= 128 each)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit_start = i
        i += run
        # cap the literal group at 128 bytes: the next increment adds at
        # most 2, so stop extending at 126 (129 would make the header
        # byte 128 — the PackBits NO-OP — and silently drop the group)
        while i < n and i - lit_start <= 126:
            run = 1
            while i + run < n and run < 128 and row[i + run] == row[i]:
                run += 1
            if run >= 3:
                break
            i += run
        out += bytes([i - lit_start - 1]) + row[lit_start:i]
    return bytes(out)


def _lzw_encode_tiff(data: bytes) -> bytes:
    """TIFF-LZW compressor twin (string-table LZW with Clear/EOI and
    the EarlyChange width rule, mirroring _lzw_decode_tiff)."""
    bw = MsbWriter()
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    bw.write(256, width)  # spec: begin with a Clear
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        bw.write(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        # EarlyChange: the ENCODER widens as soon as next_code would
        # not fit in width bits MINUS the one-early rule
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # table nearly full: clear (spec practice)
            bw.write(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([byte])
    if cur:
        bw.write(table[cur], width)
    bw.write(257, width)  # EOI
    return bw.getvalue()


def make_tiff(
    width: int,
    height: int,
    rgb_bytes: bytes,
    compression: str = "none",
    predictor: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    tile: tuple[int, int] | None = None,
    planar: int = 1,
    fill_order: int = 1,
) -> bytes:
    """Assemble a real RGB TIFF from raw RGB bytes.
    ``compression``: 'none' / 'packbits' / 'lzw' / 'g4' / 'mh'
    (Compression=2 byte-aligned T.4 1-D) / 'g3' (Compression=3 with
    EOLs) / 'g3_2d' (Compression=3, T4Options bit 0) — the fax
    variants are bilevel, photometric 0, 1 bit/sample; input pixels
    must be pure black/white so decode ∘ make_tiff stays the identity;
    ``predictor`` applies horizontal differencing (LZW's usual
    companion); ``rows_per_strip`` splits the image into multiple
    strips; ``tile=(tw, tl)`` emits a tiled layout instead (§15:
    dimensions must be multiples of 16, edge tiles zero-padded to full
    size); ``planar=2`` stores separate component planes (§14).
    decode ∘ make_tiff is the identity — the roundtrip-oracle
    contract."""
    import numpy as np

    if len(rgb_bytes) != width * height * 3:
        raise ValueError("rgb byte count does not match dimensions")
    if compression not in ("none", "packbits", "lzw", "g4", "mh", "g3", "g3_2d"):
        raise ValueError(f"unknown compression {compression!r}")
    if planar not in (1, 2):
        raise ValueError(f"bad planar configuration {planar}")
    if fill_order not in (1, 2):
        raise ValueError(f"bad FillOrder {fill_order}")
    if fill_order == 2 and compression not in ("g4", "mh", "g3", "g3_2d"):
        raise ValueError("FillOrder=2 fixtures only for fax compressions")
    if tile is not None:
        if rows_per_strip is not None:
            raise ValueError("tile and rows_per_strip are exclusive")
        if tile[0] % 16 or tile[1] % 16 or tile[0] <= 0 or tile[1] <= 0:
            raise ValueError("TIFF §15: tile dimensions must be multiples of 16")
    e = ">" if big_endian else "<"
    rps = rows_per_strip or height
    arr = np.frombuffer(rgb_bytes, np.uint8).reshape(height, width, 3)

    def units_of(plane_arr):
        """Split one (H, W, c) array into strip/tile unit arrays, tiles
        zero-padded to full size (matching the decoder's crop)."""
        if tile is None:
            return [plane_arr[y0 : y0 + rps] for y0 in range(0, height, rps)]
        tw, tl = tile
        ta, td = -(-width // tw), -(-height // tl)
        padded = np.zeros((td * tl, ta * tw, plane_arr.shape[2]), np.uint8)
        padded[:height, :width] = plane_arr
        return [
            padded[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw]
            for ty in range(td)
            for tx in range(ta)
        ]

    if compression in ("g4", "mh", "g3", "g3_2d"):
        from geo_db_spark.operators.ccitt import encode_g3, encode_g4, encode_mh

        if predictor:
            raise ValueError(f"{compression} has no predictor")
        if planar == 2:
            raise ValueError(
                f"{compression} is single-sample; planar 2 is meaningless"
            )
        if not np.isin(arr, (0, 255)).all() or (arr != arr[:, :, :1]).any():
            raise ValueError(
                f"{compression} needs pure black/white pixels (lossless contract)"
            )
        bil = (arr[:, :, 0] == 0).astype(np.uint8)  # photometric 0: 1=black
        enc = {
            "g4": lambda u, w_, h_: encode_g4(u, w_, h_),
            "mh": lambda u, w_, h_: encode_mh(u, w_, h_),
            "g3": lambda u, w_, h_: encode_g3(u, w_, h_, two_d=False),
            "g3_2d": lambda u, w_, h_: encode_g3(u, w_, h_, two_d=True),
        }[compression]
        units = [
            enc(u.tobytes(), u.shape[1], u.shape[0])
            for u in units_of(bil[:, :, None])
        ]
        if fill_order == 2:
            units = [u.translate(_BITREV) for u in units]
        comp_tag = {"g4": 4, "mh": 2, "g3": 3, "g3_2d": 3}[compression]
        extra = [(292, 3, [1])] if compression == "g3_2d" else []
        if fill_order == 2:
            extra = extra + [(266, 3, [2])]
        return _assemble_tiff(
            width, height, units, e, rps,
            bits=[1], comp_tag=comp_tag, photo=0, spp=1, predictor=False,
            tile=tile, planar=1, extra_tags=extra,
        )
    plane_arrs = (
        [arr[:, :, c : c + 1] for c in range(3)] if planar == 2 else [arr]
    )
    units = []
    for pa in plane_arrs:
        for u in units_of(pa):
            if predictor:
                diffed = u.astype(np.int16)
                diffed[:, 1:, :] = diffed[:, 1:, :] - u[:, :-1, :].astype(np.int16)
                u = (diffed % 256).astype(np.uint8)
            body = u.tobytes()
            if compression == "packbits":
                body = _packbits(body)
            elif compression == "lzw":
                body = _lzw_encode_tiff(body)
            units.append(body)

    comp_tag = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    return _assemble_tiff(
        width, height, units, e, rps,
        bits=[8, 8, 8], comp_tag=comp_tag, photo=2, spp=3,
        predictor=predictor, tile=tile, planar=planar,
    )


def _assemble_tiff(
    width: int,
    height: int,
    strips: list[bytes],
    e: str,
    rps: int,
    bits: list[int],
    comp_tag: int,
    photo: int,
    spp: int,
    predictor: bool,
    tile: tuple[int, int] | None = None,
    planar: int = 1,
    extra_tags: list[tuple[int, int, list[int]]] | None = None,
) -> bytes:
    """Shared IFD/strip-or-tile-layout assembly for make_tiff's
    variants; ``strips`` is the encoded unit list in offset order."""
    n_strips = len(strips)
    offsets_tag = 324 if tile is not None else 273
    entries = []  # (tag, type, count, value_or_bytes)

    # layout: header(8) + IFD + external value areas + strip data
    def entry(tag, typ, vals):
        entries.append((tag, typ, vals))

    entry(256, 3, [width])
    entry(257, 3, [height])
    entry(258, 3, bits)
    entry(259, 3, [comp_tag])
    entry(262, 3, [photo])
    entry(277, 3, [spp])
    if tile is not None:
        entry(322, 3, [tile[0]])
        entry(323, 3, [tile[1]])
        entry(324, 4, [0] * n_strips)  # patched below
        entry(325, 4, [len(s) for s in strips])
    else:
        entry(273, 4, [0] * n_strips)  # patched below
        entry(278, 3, [rps])
        entry(279, 4, [len(s) for s in strips])
    if planar == 2:
        entry(284, 3, [2])
    if predictor:
        entry(317, 3, [2])
    for tag, typ, vals in extra_tags or []:
        entry(tag, typ, vals)
    entries.sort(key=lambda t: t[0])  # spec: ascending tag order

    type_fmt = {3: "H", 4: "I"}
    type_size = {3: 2, 4: 4}
    ifd_off = 8
    ifd_len = 2 + 12 * len(entries) + 4
    ext_off = ifd_off + ifd_len
    ext = bytearray()
    ext_pos: dict[int, int] = {}
    for tag, typ, vals in entries:
        if type_size[typ] * len(vals) > 4:
            ext_pos[tag] = ext_off + len(ext)
            ext += struct.pack(e + type_fmt[typ] * len(vals), *vals)
            if len(ext) & 1:
                ext += b"\x00"
    data_off = ext_off + len(ext)
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s) + (len(s) & 1)

    out = bytearray()
    out += (b"MM\x00*" if e == ">" else b"II*\x00") + struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", len(entries))
    for tag, typ, vals in entries:
        if tag == offsets_tag:
            vals = strip_offsets
        out += struct.pack(e + "HHI", tag, typ, len(vals))
        if type_size[typ] * len(vals) <= 4:
            packed = struct.pack(e + type_fmt[typ] * len(vals), *vals)
            out += packed + b"\x00" * (4 - len(packed))
        else:
            if tag == offsets_tag:
                # recompute the external slot with the real offsets
                p = ext_pos[tag] - ext_off
                ext[p : p + 4 * len(vals)] = struct.pack(
                    e + "I" * len(vals), *vals
                )
            out += struct.pack(e + "I", ext_pos[tag])
    out += struct.pack(e + "I", 0)  # no next IFD
    out += ext
    for s in strips:
        out += s + (b"\x00" if len(s) & 1 else b"")
    return bytes(out)
