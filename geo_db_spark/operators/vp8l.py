"""WebP-lossless (VP8L) decode + fixture encoder, pure stdlib+NumPy.

Written from the public "WebP Lossless Bitstream Specification"
(Google, RFC-style spec shipped with libwebp; also RIFF/WebP container
docs) — the r8 verdict's "most common remaining image format". Scope:

- DECODER ``decode_vp8l``: the full lossless feature set — simple and
  normal (code-length-coded) Huffman codes with the optional
  max-symbol short-circuit, color cache, LZ77 backward references with
  the 120-entry 2D distance mapping, meta-Huffman (huffman image), and
  all four transforms (predictor [14 modes], color, subtract-green,
  color-indexing incl. sub-byte pixel bundling), inverted in reverse
  read order. Output is (H, W, 3) uint8 RGB like the other decoders
  (alpha decoded but dropped at the dispatcher boundary).
- ENCODER ``make_webp``: fixture twin for roundtrip oracles (the
  make_flac/make_png convention): literal-only entropy images with
  all-length-8 canonical codes for the used 256-symbol alphabets
  (complete by construction) and 1-symbol simple codes for unused
  ones, optional subtract-green / left-predictor / color-indexing
  transforms, optional run-length LZ77 (distance 1) and color cache to
  exercise those decoder paths. Lossless, so decode(make_webp(x)) == x
  — which is what lets the workload query carry a full value oracle.

Bit order: LSB-first (operators/bitio.py), but each Huffman code is
stored most-significant code bit first (``_write_code``).

Honest boundaries (NotImplementedError): lossy VP8, and VP8X extended
containers whose image payload is lossy; a VP8X wrapping a VP8L chunk
decodes fine. No reference counterpart (SURVEY §2-H engine growth).
"""

from __future__ import annotations

import struct

from geo_db_spark.operators.bitio import LsbReader, LsbWriter

# code-length-code transmission order (spec §"Decoding the Code Lengths")
K_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# 2D offsets for distance codes 1..120 (spec §"Decoding of Distances"):
# (xoffset, yoffset) pairs, near-to-far
K_DISTANCE_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _write_code(bw: LsbWriter, code: int, length: int) -> None:
    """Huffman codes are walked MSB-first by the decoder (_Huffman.read),
    so the code goes out high bit first: bit-reverse it into one
    LSB-first write."""
    rev = 0
    for _ in range(length):
        rev = (rev << 1) | (code & 1)
        code >>= 1
    bw.write(rev, length)


class _Huffman:
    """Canonical Huffman decoder: (length, code-so-far) -> symbol dict,
    walked bit-by-bit MSB-first. ``lengths[i]`` = code length of symbol
    i (0 = absent). A single-symbol code reads ZERO bits."""

    def __init__(self, lengths: list[int]):
        present = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if not present:
            raise ValueError("VP8L: empty Huffman code")
        if len(present) == 1:
            self.single = present[0][1]
            self.table = None
            return
        self.single = None
        # canonical assignment: sort by (length, symbol)
        present.sort()
        kraft = sum(1 << (15 - ln) for ln, _ in present)
        if kraft != (1 << 15):
            raise ValueError("VP8L: Huffman code not complete")
        self.table = {}
        code = 0
        prev_len = present[0][0]
        for ln, sym in present:
            code <<= ln - prev_len
            prev_len = ln
            self.table[(ln, code)] = sym
            code += 1

    def read(self, br: LsbReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        while True:
            code = (code << 1) | br.bits(1)
            ln += 1
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
            if ln > 15:
                raise ValueError("VP8L: invalid Huffman code in stream")


def _read_huffman_code(br: LsbReader, alphabet_size: int) -> _Huffman:
    """Spec §"Decoding of Huffman Codes": simple (<=2 symbols) or
    normal (code-length-coded) form."""
    if br.bits(1):  # simple
        num_symbols = br.bits(1) + 1
        first_8 = br.bits(1)
        lengths = [0] * alphabet_size
        s0 = br.bits(8 if first_8 else 1)
        if s0 >= alphabet_size:
            raise ValueError("VP8L: simple-code symbol out of range")
        if num_symbols == 1:
            lengths[s0] = 1  # placeholder; single-symbol reads 0 bits
            return _Huffman(lengths)
        s1 = br.bits(8)
        if s1 >= alphabet_size or s1 == s0:
            raise ValueError("VP8L: bad simple-code symbols")
        lengths[s0] = 1
        lengths[s1] = 1
        return _Huffman(lengths)
    # normal: first the code-length code
    num_codes = br.bits(4) + 4
    if num_codes > len(K_CODE_LENGTH_ORDER):
        raise ValueError("VP8L: too many code length codes")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[K_CODE_LENGTH_ORDER[i]] = br.bits(3)
    cl_huff = _Huffman(cl_lengths) if sum(cl_lengths) else None
    if cl_huff is None:
        raise ValueError("VP8L: empty code-length code")
    # optional transmitted-symbol cap
    if br.bits(1):
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        sym = cl_huff.read(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if i >= alphabet_size:
                    raise ValueError("VP8L: code-length repeat overrun")
                lengths[i] = prev_len
                i += 1
        elif sym == 17:
            i += 3 + br.bits(3)
        else:  # 18
            i += 11 + br.bits(7)
        if i > alphabet_size:
            raise ValueError("VP8L: code-length zeros overrun")
    return _Huffman(lengths)


def _prefix_value(code: int, br: LsbReader) -> int:
    """LZ77 length/distance prefix coding (spec §"Decoding of
    Distances"): codes 0-3 are 1-4; beyond that, extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _cache_key(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _decode_entropy_image(
    br: LsbReader, w: int, h: int, level0: bool = False
) -> "object":
    """Decode one spatially-coded image (the main image when level0,
    otherwise transform/meta sub-images, which have no transforms of
    their own). Returns an (h, w) uint32 ARGB numpy array."""
    import numpy as np

    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError(f"VP8L: bad color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0

    # meta-Huffman only exists on the top-level image
    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.bits(1):
        meta_bits = br.bits(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_entropy_image(br, mw, mh)
        meta = (((meta_img >> 8) & 0xFFFF)).astype(np.int64)  # (red<<8)|green
        num_groups = int(meta.max()) + 1

    alphabet = [256 + 24 + cache_size, 256, 256, 256, 40]
    groups = []
    for _ in range(num_groups):
        groups.append([_read_huffman_code(br, alphabet[j]) for j in range(5)])

    cache = [0] * cache_size
    px = np.zeros(w * h, dtype=np.uint32)
    pos = 0
    total = w * h
    while pos < total:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        else:
            g = groups[0]
        sym = g[0].read(br)
        if sym < 256:
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            argb = (alpha << 24) | (red << 16) | (sym << 8) | blue
            px[pos] = argb
            if cache_bits:
                cache[_cache_key(argb, cache_bits)] = argb
            pos += 1
        elif sym < 256 + 24:
            length = _prefix_value(sym - 256, br)
            dist_code = _prefix_value(g[4].read(br), br)
            if dist_code <= 120:
                dx, dy = K_DISTANCE_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dist_code - 120
            if dist > pos or pos + length > total:
                raise ValueError("VP8L: backward reference out of range")
            for _ in range(length):
                argb = int(px[pos - dist])
                px[pos] = argb
                if cache_bits:
                    cache[_cache_key(argb, cache_bits)] = argb
                pos += 1
        else:
            if not cache_bits:
                raise ValueError("VP8L: cache symbol without color cache")
            px[pos] = cache[sym - 256 - 24]
            pos += 1
    return px.reshape(h, w)


def _sub_image_dims(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _avg2(x: int, y: int) -> int:
    return (x + y) >> 1


def _clamp255(v: int) -> int:
    return max(0, min(255, v))


def _add_sub_half(ave: int, tl: int) -> int:
    d = ave - tl
    half = abs(d) >> 1  # C truncation toward zero, not Python floor
    return _clamp255(ave + (half if d >= 0 else -half))


def _predict4(mode: int, lft, top, tl, tr):
    """One interior prediction, per-channel ARGB 4-tuples in/out —
    shared by the decoder's inverse and the fixture encoder's forward
    pass (spec §"Predictor Transform", modes 0-13)."""
    if mode == 0:
        return (0xFF, 0, 0, 0)
    if mode == 1:
        return lft
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return tuple(_avg2(_avg2(lft[i], tr[i]), top[i]) for i in range(4))
    if mode == 6:
        return tuple(_avg2(lft[i], tl[i]) for i in range(4))
    if mode == 7:
        return tuple(_avg2(lft[i], top[i]) for i in range(4))
    if mode == 8:
        return tuple(_avg2(tl[i], top[i]) for i in range(4))
    if mode == 9:
        return tuple(_avg2(top[i], tr[i]) for i in range(4))
    if mode == 10:
        return tuple(
            _avg2(_avg2(lft[i], tl[i]), _avg2(top[i], tr[i])) for i in range(4)
        )
    if mode == 11:  # Select: spec returns LEFT only when pL < pT; tie -> TOP.
        # With p = L + T - TL per channel, pL = sum|p-L| = sum|T-TL| and
        # pT = sum|p-T| = sum|L-TL|.
        pa = sum(abs(top[i] - tl[i]) for i in range(4))
        pb = sum(abs(lft[i] - tl[i]) for i in range(4))
        return lft if pa < pb else top
    if mode == 12:  # ClampAddSubtractFull
        return tuple(_clamp255(lft[i] + top[i] - tl[i]) for i in range(4))
    if mode == 13:  # ClampAddSubtractHalf
        return tuple(
            _add_sub_half(_avg2(lft[i], top[i]), tl[i]) for i in range(4)
        )
    raise ValueError(f"VP8L: bad predictor mode {mode}")


def _inv_predictor(img, modes, bits):
    """Inverse predictor transform (spec §"Predictor Transform"):
    residuals + per-channel uint8 prediction, mode per block from the
    GREEN channel of the transform image. Borders regardless of mode:
    (0,0) predicts 0xff000000, the rest of row 0 predicts LEFT, the
    rest of column 0 predicts TOP. The top-right pixel of the last
    column follows the spec's flat scan-order addressing
    data[(y-1)*w + x + 1], i.e. the CURRENT row's first pixel."""
    import numpy as np

    h, w = img.shape
    a = ((img >> 24) & 0xFF).astype(np.int64)
    r = ((img >> 16) & 0xFF).astype(np.int64)
    g = ((img >> 8) & 0xFF).astype(np.int64)
    b = (img & 0xFF).astype(np.int64)
    ch = [a, r, g, b]

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (0xFF, 0, 0, 0)
            elif y == 0:
                pred = tuple(int(c[0, x - 1]) for c in ch)  # left
            elif x == 0:
                pred = tuple(int(c[y - 1, 0]) for c in ch)  # top
            else:
                mode = (int(modes[y >> bits, x >> bits]) >> 8) & 0xFF
                lft = tuple(int(c[y, x - 1]) for c in ch)
                top = tuple(int(c[y - 1, x]) for c in ch)
                tl = tuple(int(c[y - 1, x - 1]) for c in ch)
                if x + 1 < w:
                    tr = tuple(int(c[y - 1, x + 1]) for c in ch)
                else:
                    tr = tuple(int(c[y, 0]) for c in ch)
                pred = _predict4(mode, lft, top, tl, tr)
            for i, c in enumerate(ch):
                c[y, x] = (c[y, x] + pred[i]) & 0xFF
    return (
        (ch[0].astype(np.uint32) << 24)
        | (ch[1].astype(np.uint32) << 16)
        | (ch[2].astype(np.uint32) << 8)
        | ch[3].astype(np.uint32)
    )


def _inv_color_transform(img, elems, bits):
    """Inverse color transform (spec §"Color Transform"): per-block
    (green_to_red, green_to_blue, red_to_blue) int8 multipliers,
    delta = (m * as_int8(v)) >> 5, ADDED back on decode."""
    import numpy as np

    h, w = img.shape
    out = img.copy()
    for y in range(h):
        for x in range(w):
            e = int(elems[y >> bits, x >> bits])
            # Spec ("Color Transform"): the transform-image pixel packs
            # red = red_to_blue, green = green_to_blue, blue = green_to_red.
            g2r = _int8(e & 0xFF)  # stored in BLUE channel
            g2b = _int8((e >> 8) & 0xFF)  # GREEN channel
            r2b = _int8((e >> 16) & 0xFF)  # RED channel
            v = int(out[y, x])
            a = (v >> 24) & 0xFF
            r = (v >> 16) & 0xFF
            g = (v >> 8) & 0xFF
            b = v & 0xFF
            g_s = _int8(g)
            r = (r + ((g2r * g_s) >> 5)) & 0xFF
            r_s = _int8(r)
            b = (b + ((g2b * g_s) >> 5)) & 0xFF
            b = (b + ((r2b * r_s) >> 5)) & 0xFF
            out[y, x] = (a << 24) | (r << 16) | (g << 8) | b
    return out


def _int8(v: int) -> int:
    return v - 256 if v >= 128 else v


def decode_vp8l(payload: bytes):
    """RIFF/WEBP container -> (H, W, 3) uint8 RGB. Lossy 'VP8 ' chunks
    are an honest NotImplementedError; VP8X extended headers are
    scanned for an inner VP8L chunk."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) payload")
    pos = 12
    data = None
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            data = body
            break
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 WebP needs a codec library; only VP8L "
                "(lossless) decodes here"
            )
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if data is None:
        raise ValueError("WebP: no VP8L chunk found")
    if not data or data[0] != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    br = LsbReader(data, 1)
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)  # alpha hint
    if br.bits(3) != 0:
        raise ValueError("VP8L: unsupported version")

    # transforms (top-level image only), remembered in read order
    transforms = []
    seen = set()
    main_w = w
    while br.bits(1):
        ttype = br.bits(2)
        if ttype in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bits = br.bits(3) + 2
            modes = _decode_entropy_image(
                br, _sub_image_dims(main_w, bits), _sub_image_dims(h, bits)
            )
            transforms.append(("predictor", bits, modes))
        elif ttype == 1:  # color transform
            bits = br.bits(3) + 2
            elems = _decode_entropy_image(
                br, _sub_image_dims(main_w, bits), _sub_image_dims(h, bits)
            )
            transforms.append(("color", bits, elems))
        elif ttype == 2:  # subtract green
            transforms.append(("subtract_green",))
        else:  # color indexing
            n_colors = br.bits(8) + 1
            pal_img = _decode_entropy_image(br, n_colors, 1)
            # palette entries are component-wise delta-coded
            pal = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                cur = int(pal_img[0, i])
                summed = (
                    ((((prev >> 24) + (cur >> 24)) & 0xFF) << 24)
                    | (((((prev >> 16) & 0xFF) + ((cur >> 16) & 0xFF)) & 0xFF) << 16)
                    | (((((prev >> 8) & 0xFF) + ((cur >> 8) & 0xFF)) & 0xFF) << 8)
                    | ((((prev & 0xFF) + (cur & 0xFF)) & 0xFF))
                )
                pal[i] = summed
                prev = summed
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append(("indexing", width_bits, pal))
            main_w = _sub_image_dims(main_w, width_bits)

    img = _decode_entropy_image(br, main_w, h, level0=True)

    for t in reversed(transforms):
        if t[0] == "indexing":
            width_bits, pal = t[1], t[2]
            if width_bits:
                ppp = 1 << width_bits  # pixels per packed green byte
                bits_per = 8 >> width_bits
                unpacked = np.zeros((h, w), dtype=np.uint32)
                for y in range(h):
                    for x in range(w):
                        packed = int(img[y, x >> width_bits])
                        green = (packed >> 8) & 0xFF
                        idx = (green >> ((x % ppp) * bits_per)) & (
                            (1 << bits_per) - 1
                        )
                        if idx >= len(pal):
                            raise ValueError("VP8L: palette index out of range")
                        unpacked[y, x] = pal[idx]
                img = unpacked
            else:
                lookup = np.zeros((h, w), dtype=np.uint32)
                for y in range(h):
                    for x in range(w):
                        idx = (int(img[y, x]) >> 8) & 0xFF
                        if idx >= len(pal):
                            raise ValueError("VP8L: palette index out of range")
                        lookup[y, x] = pal[idx]
                img = lookup
        elif t[0] == "subtract_green":
            g = (img >> 8) & 0xFF
            r = (((img >> 16) & 0xFF) + g) & 0xFF
            b = ((img & 0xFF) + g) & 0xFF
            img = (img & 0xFF00FF00) | (r << 16) | b
        elif t[0] == "predictor":
            img = _inv_predictor(img, t[2], t[1])
        elif t[0] == "color":
            img = _inv_color_transform(img, t[2], t[1])

    out = np.zeros((h, w, 3), dtype=np.uint8)
    out[:, :, 0] = (img >> 16) & 0xFF
    out[:, :, 1] = (img >> 8) & 0xFF
    out[:, :, 2] = img & 0xFF
    return out


# ---------------------------------------------------------------------------
# fixture encoder (make_flac/make_png convention): real VP8L streams for
# roundtrip oracles
# ---------------------------------------------------------------------------


def _uniform_lengths(n: int) -> list[int]:
    """Complete canonical code lengths for n >= 2 equally-weighted
    symbols: (2^k - n) codes of length k-1, the rest length k."""
    k = (n - 1).bit_length()
    short = (1 << k) - n
    return [k - 1] * short + [k] * (n - short)


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), same assignment as the decoder."""
    present = sorted((ln, s) for s, ln in enumerate(lengths) if ln > 0)
    out = {}
    code = 0
    prev_len = present[0][0]
    for ln, sym in present:
        code <<= ln - prev_len
        prev_len = ln
        out[sym] = (code, ln)
        code += 1
    return out


def _transmit_code(bw: LsbWriter, lengths: list[int], alphabet_size: int) -> None:
    """Write one 'normal'-form Huffman code: code-length code, exact
    max-symbol cap, then the code-length symbol stream (literals,
    16-repeats for runs of the same nonzero length, 17/18 zero runs)."""
    # build the CL symbol stream
    stream: list[tuple[int, int, int]] = []  # (cl_symbol, extra_value, extra_bits)
    i = 0
    n = len(lengths)
    last_nonzero = max((s for s, ln in enumerate(lengths) if ln > 0), default=-1)
    while i <= last_nonzero:
        ln = lengths[i]
        run = 1
        while i + run <= last_nonzero and lengths[i + run] == ln:
            run += 1
        if ln == 0:
            left = run
            while left >= 11:
                take = min(left, 138)
                stream.append((18, take - 11, 7))
                left -= take
            while left >= 3:
                take = min(left, 10)
                stream.append((17, take - 3, 3))
                left -= take
            for _ in range(left):
                stream.append((0, 0, 0))
        else:
            stream.append((ln, 0, 0))
            left = run - 1
            while left >= 3:
                take = min(left, 6)
                stream.append((16, take - 3, 2))
                left -= take
            for _ in range(left):
                stream.append((ln, 0, 0))
        i += run
    used_cl = sorted({s for s, _v, _b in stream})
    if len(used_cl) == 1:
        # _uniform_lengths needs >= 2 symbols; pad with an unused one
        used_cl = sorted(used_cl + [0 if used_cl[0] != 0 else 8])
    cl_lengths = [0] * 19
    for sym, ln in zip(used_cl, _uniform_lengths(len(used_cl))):
        cl_lengths[sym] = ln
    cl_codes = _canonical_codes(cl_lengths)

    bw.write(0, 1)  # not simple
    num_codes = max(K_CODE_LENGTH_ORDER.index(s) for s in used_cl) + 1
    num_codes = max(num_codes, 4)
    bw.write(num_codes - 4, 4)
    for idx in range(num_codes):
        bw.write(cl_lengths[K_CODE_LENGTH_ORDER[idx]], 3)
    # exact read-count cap (also lets trailing zeros stay untransmitted)
    reads = len(stream)
    cap = reads - 2
    nbits_k = 0
    while cap >= (1 << (2 + 2 * nbits_k)):
        nbits_k += 1
    bw.write(1, 1)
    bw.write(nbits_k, 3)
    bw.write(cap, 2 + 2 * nbits_k)
    for sym, extra_v, extra_b in stream:
        code, ln = cl_codes[sym]
        _write_code(bw, code, ln)
        if extra_b:
            bw.write(extra_v, extra_b)


def _write_huffman(bw: LsbWriter, used: list[int], alphabet_size: int):
    """Write the cheapest legal code for the used symbol set and return
    symbol -> (code, length). <=2 symbols use the simple form."""
    used = sorted(set(used))
    if not used:
        used = [0]
    if len(used) <= 2:
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(used[0], 8)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    lengths = [0] * alphabet_size
    for sym, ln in zip(used, _uniform_lengths(len(used))):
        lengths[sym] = ln
    _transmit_code(bw, lengths, alphabet_size)
    return _canonical_codes(lengths)


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """Inverse of _prefix_value: value -> (prefix_code, extra_value,
    extra_bits)."""
    u = value - 1
    if u < 4:
        return u, 0, 0
    e = u.bit_length() - 2
    if u < 3 << e:
        return 2 * e + 2, u - (2 << e), e
    return 2 * e + 3, u - (3 << e), e


def _write_entropy_image(
    bw: LsbWriter,
    px: list[int],
    w: int,
    level0: bool,
    use_lz77: bool = False,
    cache_bits: int = 0,
    meta_split: bool = False,
) -> None:
    """Encode one ARGB pixel stream as a spatially-coded image:
    optional run-length LZ77 (distance 1 -> 2D code 2), color cache,
    and (literal-only) 2-group meta-Huffman when ``meta_split``."""
    if meta_split:
        if use_lz77 or cache_bits:
            raise ValueError("meta_split fixture path is literal-only")
        bw.write(0, 1)  # no color cache
        meta_bits = 2
        bw.write(1, 1)  # meta-Huffman present
        bw.write(meta_bits - 2, 3)
        mw = _sub_image_dims(w, meta_bits)
        mh = _sub_image_dims(len(px) // w, meta_bits)
        group_of_block = [
            ((bx + by) & 1) for by in range(mh) for bx in range(mw)
        ]
        groups_n = max(group_of_block) + 1  # 1 on single-block images
        # meta image: group index in (red << 8) | green -> green only
        _write_entropy_image(
            bw,
            [(0xFF << 24) | (g << 8) for g in group_of_block],
            mw,
            level0=False,
        )

        def group_of_pixel(i: int) -> int:
            y, x = divmod(i, w)
            return group_of_block[(y >> meta_bits) * mw + (x >> meta_bits)]

        per_group = [[] for _ in range(groups_n)]
        for i, v in enumerate(px):
            per_group[group_of_pixel(i)].append(v)
        codes = []
        for g in range(groups_n):
            vals = per_group[g] or [0xFF000000]
            codes.append(
                (
                    _write_huffman(bw, [(v >> 8) & 0xFF for v in vals], 256 + 24),
                    _write_huffman(bw, [(v >> 16) & 0xFF for v in vals], 256),
                    _write_huffman(bw, [v & 0xFF for v in vals], 256),
                    _write_huffman(bw, [(v >> 24) & 0xFF for v in vals], 256),
                    _write_huffman(bw, [0], 40),
                )
            )
        for i, v in enumerate(px):
            gc, rc, bc, ac, _dc = codes[group_of_pixel(i)]
            _write_code(bw, *gc[(v >> 8) & 0xFF])
            _write_code(bw, *rc[(v >> 16) & 0xFF])
            _write_code(bw, *bc[v & 0xFF])
            _write_code(bw, *ac[(v >> 24) & 0xFF])
        return

    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if level0:
        bw.write(0, 1)  # no meta-Huffman
    cache_size = (1 << cache_bits) if cache_bits else 0

    # token pass: plan symbols so the code transmitters see the real
    # used sets (the cache must be simulated exactly as the decoder will)
    tokens = []  # ("lit", argb) | ("run", length) | ("cache", key)
    cache = [None] * cache_size
    i = 0
    n = len(px)
    while i < n:
        if use_lz77 and i > 0:
            run = 0
            while i + run < n and px[i + run] == px[i - 1] and run < 4000:
                run += 1
            if run >= 3:
                tokens.append(("run", run))
                for j in range(run):
                    if cache_size:
                        cache[_cache_key(px[i + j], cache_bits)] = px[i + j]
                i += run
                continue
        argb = px[i]
        if cache_size and cache[_cache_key(argb, cache_bits)] == argb:
            tokens.append(("cache", _cache_key(argb, cache_bits)))
        else:
            tokens.append(("lit", argb))
            if cache_size:
                cache[_cache_key(argb, cache_bits)] = argb
        i += 1

    greens, reds, blues, alphas, dists = [], [], [], [], []
    for t in tokens:
        if t[0] == "lit":
            argb = t[1]
            greens.append((argb >> 8) & 0xFF)
            reds.append((argb >> 16) & 0xFF)
            blues.append(argb & 0xFF)
            alphas.append((argb >> 24) & 0xFF)
        elif t[0] == "run":
            greens.append(256 + _prefix_encode(t[1])[0])
            dists.append(_prefix_encode(2)[0])  # 2D code 2 = (1, 0) = left
        else:
            greens.append(256 + 24 + t[1])
    g_code = _write_huffman(bw, greens or [0], 256 + 24 + cache_size)
    r_code = _write_huffman(bw, reds or [0], 256)
    b_code = _write_huffman(bw, blues or [0], 256)
    a_code = _write_huffman(bw, alphas or [0xFF], 256)
    d_code = _write_huffman(bw, dists or [0], 40)

    for t in tokens:
        if t[0] == "lit":
            argb = t[1]
            _write_code(bw, *g_code[(argb >> 8) & 0xFF])
            _write_code(bw, *r_code[(argb >> 16) & 0xFF])
            _write_code(bw, *b_code[argb & 0xFF])
            _write_code(bw, *a_code[(argb >> 24) & 0xFF])
        elif t[0] == "run":
            pc, ev, eb = _prefix_encode(t[1])
            _write_code(bw, *g_code[256 + pc])
            if eb:
                bw.write(ev, eb)
            dc, dv, db = _prefix_encode(2)
            _write_code(bw, *d_code[dc])
            if db:
                bw.write(dv, db)
        else:
            _write_code(bw, *g_code[256 + 24 + t[1]])


def make_webp(
    width: int,
    height: int,
    rgb_bytes: bytes,
    transforms: tuple = (),
    use_lz77: bool = False,
    cache_bits: int = 0,
    predictor_modes: list | None = None,
    color_elems: list | None = None,
    meta_split: bool = False,
) -> bytes:
    """Assemble a real lossless WebP (RIFF + VP8L) from raw RGB bytes.
    ``transforms``: any order of 'subtract_green' / 'predictor_left'
    (constant mode-1) / 'predictor' (per-4px-block modes from
    ``predictor_modes``) / 'color' (per-block (g2r, g2b, r2b) int8
    multipliers from ``color_elems``); 'palette' (color indexing, with
    sub-byte bundling when <= 16 colors) must be used alone.
    ``meta_split`` encodes the main image with a 2-group meta-Huffman
    (checkerboard of 4px blocks; literal-only). decode ∘ make_webp is
    the identity — the roundtrip-oracle contract."""
    if len(rgb_bytes) != width * height * 3:
        raise ValueError("rgb byte count does not match dimensions")
    if "palette" in transforms and len(transforms) > 1:
        raise ValueError("palette composes with no other fixture transform")
    px = [
        (0xFF << 24)
        | (rgb_bytes[i * 3] << 16)
        | (rgb_bytes[i * 3 + 1] << 8)
        | rgb_bytes[i * 3 + 2]
        for i in range(width * height)
    ]
    bw = LsbWriter()
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    main_w = width

    for t in transforms:
        bw.write(1, 1)
        if t == "subtract_green":
            bw.write(2, 2)
            out = []
            for v in px:
                g = (v >> 8) & 0xFF
                r = (((v >> 16) & 0xFF) - g) & 0xFF
                b = ((v & 0xFF) - g) & 0xFF
                out.append((v & 0xFF00FF00) | (r << 16) | b)
            px = out
        elif t in ("predictor_left", "predictor"):
            bw.write(0, 2)
            bits = 2
            bw.write(bits - 2, 3)
            mw = _sub_image_dims(main_w, bits)
            mh = _sub_image_dims(height, bits)
            if t == "predictor_left":
                modes = [1] * (mw * mh)
            else:
                if predictor_modes is None or len(predictor_modes) != mw * mh:
                    raise ValueError(
                        f"'predictor' needs predictor_modes of length {mw * mh}"
                    )
                modes = [int(m) for m in predictor_modes]
            _write_entropy_image(
                bw, [(0xFF << 24) | (m << 8) for m in modes], mw, level0=False
            )

            def tup(v):
                return ((v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)

            out = []
            for i, v in enumerate(px):
                y, x = divmod(i, main_w)
                if x == 0 and y == 0:
                    pred = (0xFF, 0, 0, 0)
                elif y == 0:
                    pred = tup(px[i - 1])  # left
                elif x == 0:
                    pred = tup(px[i - main_w])  # top
                else:
                    # flat addressing: i - main_w + 1 wraps to the current
                    # row's first pixel at the last column, matching the
                    # decoder's data[(y-1)*w + x + 1]
                    tr = px[i - main_w + 1]
                    pred = _predict4(
                        modes[(y >> bits) * mw + (x >> bits)],
                        tup(px[i - 1]),
                        tup(px[i - main_w]),
                        tup(px[i - main_w - 1]),
                        tup(tr),
                    )
                res = 0
                for j, shift in enumerate((24, 16, 8, 0)):
                    res |= ((((v >> shift) & 0xFF) - pred[j]) & 0xFF) << shift
                out.append(res)
            px = out
        elif t == "color":
            bw.write(1, 2)
            bits = 2
            bw.write(bits - 2, 3)
            mw = _sub_image_dims(main_w, bits)
            mh = _sub_image_dims(height, bits)
            if color_elems is None or len(color_elems) != mw * mh:
                raise ValueError(
                    f"'color' needs color_elems of length {mw * mh}"
                )
            # Spec packing: red channel = red_to_blue, green = green_to_blue,
            # blue = green_to_red.
            elem_px = [
                (0xFF << 24) | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8) | (g2r & 0xFF)
                for (g2r, g2b, r2b) in color_elems
            ]
            _write_entropy_image(bw, elem_px, mw, level0=False)
            out = []
            for i, v in enumerate(px):
                y, x = divmod(i, main_w)
                g2r, g2b, r2b = color_elems[(y >> bits) * mw + (x >> bits)]
                a = (v >> 24) & 0xFF
                r0 = (v >> 16) & 0xFF
                g = (v >> 8) & 0xFF
                b0 = v & 0xFF
                g_s = _int8(g)
                r = (r0 - ((_int8(g2r & 0xFF) * g_s) >> 5)) & 0xFF
                # the decoder adds r2b * int8(FINAL red) = int8(r0)
                b = (b0 - ((_int8(g2b & 0xFF) * g_s) >> 5)
                     - ((_int8(r2b & 0xFF) * _int8(r0)) >> 5)) & 0xFF
                out.append((a << 24) | (r << 16) | (g << 8) | b)
            px = out
        elif t == "palette":
            bw.write(3, 2)
            pal = sorted(set(px))
            if len(pal) > 256:
                raise ValueError("palette transform needs <= 256 distinct colors")
            bw.write(len(pal) - 1, 8)
            # delta-coded palette image (1 x n)
            deltas = []
            prev = 0
            for v in pal:
                d = 0
                for shift in (24, 16, 8, 0):
                    d |= ((((v >> shift) & 0xFF) - ((prev >> shift) & 0xFF)) & 0xFF) << shift
                deltas.append(d)
                prev = v
            _write_entropy_image(bw, deltas, len(pal), level0=False)
            index = {v: i for i, v in enumerate(pal)}
            idxs = [index[v] for v in px]
            if len(pal) <= 2:
                width_bits = 3
            elif len(pal) <= 4:
                width_bits = 2
            elif len(pal) <= 16:
                width_bits = 1
            else:
                width_bits = 0
            if width_bits:
                ppp = 1 << width_bits
                bits_per = 8 >> width_bits
                packed_w = _sub_image_dims(main_w, width_bits)
                packed = []
                for y in range(height):
                    for bx in range(packed_w):
                        green = 0
                        for sub in range(ppp):
                            x = bx * ppp + sub
                            if x < main_w:
                                green |= idxs[y * main_w + x] << (sub * bits_per)
                        packed.append((0xFF << 24) | (green << 8))
                px = packed
                main_w = packed_w
            else:
                px = [(0xFF << 24) | (i << 8) for i in idxs]
        else:
            raise ValueError(f"unknown fixture transform {t!r}")
    bw.write(0, 1)  # no more transforms

    _write_entropy_image(
        bw, px, main_w, level0=True, use_lz77=use_lz77, cache_bits=cache_bits
    )
    data = b"\x2f" + bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
