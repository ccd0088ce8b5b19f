"""JPEG (ITU-T T.81, public spec) — pure stdlib+NumPy codec.

Closes the r7 "codec surface" boundary for the single most common image
format a real training-data corpus contains. Scope: baseline sequential
DCT (SOF0) — 8-bit precision, grayscale or 3-component YCbCr with
sampling factors in {1, 2} (4:4:4 / 4:2:2 / 4:2:0) — AND progressive
(SOF2, r8): spectral selection + successive approximation with all four
scan kinds (DC initial/refinement, AC initial with EOBn runs, AC
refinement with newly-significant insertions and correction bits),
unsubsampled. Restart markers and byte stuffing everywhere. Late r10:
12-BIT grayscale via SOF1 extended sequential (T.81 restricts baseline
to 8-bit) — precision-parametric level shift/clamp, DC categories to
15, 16-bit DQT elements (Pq=1), uint16 output. Arithmetic coding,
hierarchical, subsampled-progressive, 12-bit color and 12-bit
progressive modes raise NotImplementedError — honest boundaries, the
same convention as the PNG/GIF/BMP/WAV decoders in multimodal.py.

Exactness contract: entropy decode, dequantization and dezigzag are
integer-exact; the IDCT is the spec's real-valued transform evaluated
in float64 (one matrix sandwich per block) with round-half-away
clamping. For DC-ONLY blocks the output is analytically exact — the
IDCT of a DC-only block is the constant DC/8, so quant=1 and
DC = 8·(v − 128) decodes to exactly v — which is what lets the
mm_image_decode_jpeg workload oracle reproduce decoded pixels from
text bytes in SQL (the lossy general path cannot be oracled that way;
it is pinned in pytest against an independently-written IDCT).

Bit order: MSB-first (operators/bitio.py, plus JPEG's byte stuffing).

Performance note: the entropy scan is a Python bit reader with a
16-bit-peek Huffman lookup table (O(1) per symbol, the standard libjpeg
technique); all per-block numeric work runs in NumPy once per component
— sparse coefficient scatter, ONE batched M.T @ F @ M IDCT, one
reshape/transpose block layout, one trailing-zero scan per encoder band
— so the bit reader/writer is what remains (DC-only workload roundtrip,
4-core host: jpeg 6.4 -> 2.6 ms/doc). Still fixture/thumbnail scale;
the Paeth-filter note applies verbatim: a real 100 TB image corpus
wants a native codec library behind the SAME mapInPandas seam; this
module exists so the plumbing above it is real and tested end to end.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

from geo_db_spark.operators.bitio import MsbReader, MsbWriter

# zigzag index -> (row, col): diagonals alternate direction (T.81 Fig. 5)
_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
)
_ZZ_ROWS = np.array([r for r, _ in _ZIGZAG])
_ZZ_COLS = np.array([c for _, c in _ZIGZAG])
_ZZ_INV = np.argsort(_ZZ_ROWS * 8 + _ZZ_COLS)  # natural position -> zigzag k

# IDCT basis: M[u, x] = C(u)/2 * cos((2x+1) u pi / 16); block = M.T @ F @ M
_IDCT_M = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0) / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class _ScanReader(MsbReader):
    """MsbReader over entropy-coded data: 0xFF00 de-stuffing, and any
    marker (RST or otherwise) ends the data."""

    __slots__ = ()

    def _fill(self) -> None:
        """Pull one more byte, de-stuffing 0xFF00; a marker or the end of
        the stream appends phantom 1-bits instead (not consumable)."""
        b = self.buf[self.pos] if self.pos + 1 < len(self.buf) else 0xFF
        if b != 0xFF:
            self.pos += 1
        elif self.pos + 1 < len(self.buf) and self.buf[self.pos + 1] == 0x00:
            self.pos += 2  # stuffed 0xFF data byte
        else:
            self.n_phantom += 8  # marker (not consumed) or end of stream
        self.acc = (self.acc << 8) | b
        self.n += 8

    def huff(self, lut) -> int:
        """One Huffman symbol via the 16-bit lookup table (peek 16,
        consume the code's true length)."""
        while self.n < 16:
            self._fill()
        sym_len = lut[(self.acc >> (self.n - 16)) & 0xFFFF]
        if sym_len < 0:
            raise ValueError("invalid Huffman code")
        self._consume(sym_len & 31)
        return sym_len >> 5

    def align_and_expect_rst(self, n: int) -> None:
        self.acc = 0
        self.n = 0
        self.n_phantom = 0
        if self.buf[self.pos : self.pos + 2] != bytes([0xFF, 0xD0 + (n & 7)]):
            raise ValueError(
                f"expected RST{n & 7} at offset {self.pos}, found "
                f"{self.buf[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


@functools.lru_cache(maxsize=64)
def _build_huff(bits: bytes, symbols: bytes) -> list:
    """Canonical Huffman per T.81 C.2, compiled to a 16-bit-peek lookup
    table: lut[next16bits] = (symbol << 5) | code_length, or -1 for an
    invalid prefix. O(1) per symbol instead of bit-by-bit. lru_cached on
    the DHT payload — a corpus decoded in one task shares tables, so
    the 64Ki-entry build happens once per distinct table, not per image."""
    lut = [-1] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = symbols[k]
            base = code << (16 - length)
            span = 1 << (16 - length)
            if base + span > 65536:
                # over-subscribed DHT: slice assignment past the end
                # would silently GROW the list into a corrupt table
                raise ValueError("malformed DHT: over-subscribed Huffman code")
            lut[base : base + span] = [(sym << 5) | length] * span
            code += 1
            k += 1
        code <<= 1
    return lut


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline or progressive JPEG to (H, W, 3) uint8 RGB
    (grayscale replicated), matching the other decoders' contract."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}, got {payload[pos]:#x}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        ln = struct.unpack_from(">H", payload, pos)[0]
        if ln < 2 or pos + ln > len(payload):
            raise ValueError(f"JPEG segment 0xFF{marker:02X} runs past the payload")
        seg = payload[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                tbl = np.zeros((8, 8), np.int64)
                if pq == 0:
                    if len(seg) < i + 65:
                        raise ValueError("truncated DQT (8-bit table)")
                    vals = np.frombuffer(seg[i + 1 : i + 65], np.uint8)
                    i += 65
                elif pq == 1:  # 16-bit table values (12-bit precision)
                    if len(seg) < i + 129:
                        raise ValueError("truncated DQT (16-bit table)")
                    vals = np.frombuffer(seg[i + 1 : i + 129], ">u2")
                    i += 129
                else:
                    raise ValueError(f"bad DQT element precision {pq}")
                tbl[_ZZ_ROWS, _ZZ_COLS] = vals
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = seg[i + 1 : i + 17]
                n = sum(bits)
                symbols = seg[i + 17 : i + 17 + n]
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huff(bits, symbols)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if marker == 0xC0 and prec != 8:
                raise ValueError(f"baseline JPEG must be 8-bit, got {prec}")
            if prec not in (8, 12) or (prec == 12 and marker == 0xC2):
                raise NotImplementedError(
                    f"{prec}-bit JPEG precision for SOF 0xFF{marker:02X}"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if prec == 12 and nc != 1:
                raise NotImplementedError("12-bit JPEG supported for grayscale")
            frame = {"w": w, "h": h, "comps": comps, "prog": marker == 0xC2,
                     "prec": prec}
            if frame["prog"]:
                if any(c["h"] != 1 or c["v"] != 1 for c in comps):
                    raise NotImplementedError(
                        "subsampled progressive JPEG not supported"
                    )
                bw_ = -(-w // 8)
                bh_ = -(-h // 8)
                # one flat list per component: block b's zigzag k is [64*b + k]
                prog_coefs = [[0] * (64 * bw_ * bh_) for _ in comps]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only sequential (SOF0/SOF1) and progressive (SOF2) JPEG "
                f"supported, got SOF marker 0xFF{marker:02X}"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = {}
            scan_order = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                scan[cs] = (tdta >> 4, tdta & 15)
                scan_order.append(cs)
            if not frame["prog"]:
                return _decode_scan(
                    payload, pos + ln, frame, scan, qt, huff_dc, huff_ac,
                    restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            _prog_scan(
                payload, pos + ln, frame, scan, scan_order, ss, se,
                ahal >> 4, ahal & 15, huff_dc, huff_ac, restart_interval,
                prog_coefs,
            )
            pos = _entropy_end(payload, pos + ln)
            continue
        # APPn / COM / others: skip
        pos += ln
    if frame is not None and frame.get("prog"):
        return _prog_finish(frame, prog_coefs, qt)
    raise ValueError("JPEG has no scan data")


def _entropy_end(buf: bytes, start: int) -> int:
    """Byte offset of the first REAL marker (not byte-stuffing, not a
    restart) after ``start`` — where the next segment begins."""
    i = start
    n = len(buf)
    while i + 1 < n:
        if buf[i] == 0xFF:
            nxt = buf[i + 1]
            if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
                return i
            i += 2
        else:
            i += 1
    return n


def _prog_scan(buf, pos, frame, scan, scan_order, ss, se, ah, al,
               huff_dc, huff_ac, restart_interval, prog_coefs):
    """One progressive scan (T.81 G.2): accumulate coefficient bits
    into ``prog_coefs`` (one flat zigzag-order list per component). Four scan
    kinds — DC initial (diff-coded, shifted by Al), DC refinement (one
    bit per block), AC initial (run/size with EOBn runs), AC refinement
    (newly-significant +-1<<Al insertions plus correction bits for
    already-significant coefficients, EOB runs carrying corrections).
    Sampling factors are all 1 (enforced at SOF2), so non-interleaved
    block order == MCU raster order."""
    comps = frame["comps"]
    ci_of = {c["id"]: i for i, c in enumerate(comps)}
    scan_cis = [ci_of[cs] for cs in scan_order]
    bw_ = -(-frame["w"] // 8)
    bh_ = -(-frame["h"] // 8)
    nblocks = bw_ * bh_
    rd = _ScanReader(buf, pos)
    if ss == 0:  # DC scan: interleaved over the scan's components
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        pred = {ci: 0 for ci in scan_cis}
        rst_n = 0
        for b in range(nblocks):
            if restart_interval and b and b % restart_interval == 0:
                rd.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) & 7
                pred = {ci: 0 for ci in scan_cis}
            for ci in scan_cis:
                coef = prog_coefs[ci]
                if ah == 0:
                    td = scan[comps[ci]["id"]][0]
                    s = rd.huff(huff_dc[td])
                    diff = _extend(rd.bits(s), s) if s else 0
                    pred[ci] += diff
                    coef[64 * b] = pred[ci] << al
                else:  # DC refinement: one bit
                    if rd.bits(1):
                        coef[64 * b] |= 1 << al
        return
    # AC scan: exactly one component (spec G.2)
    if len(scan_cis) != 1:
        raise ValueError("progressive AC scan must be single-component")
    ci = scan_cis[0]
    ta = scan[comps[ci]["id"]][1]
    ac_lut = huff_ac[ta]
    coef = prog_coefs[ci]
    eobrun = 0
    rst_n = 0
    for b in range(nblocks):
        if restart_interval and b and b % restart_interval == 0:
            rd.align_and_expect_rst(rst_n)
            rst_n = (rst_n + 1) & 7
            eobrun = 0
        if ah == 0:  # AC initial
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = rd.huff(ac_lut)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += rd.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                coef[64 * b + k] = _extend(rd.bits(s), s) << al
                k += 1
        else:  # AC refinement of block b's band, coef[64*b + ss .. 64*b + se]
            eobrun = _ac_refine_block(rd, ac_lut, coef, 64 * b + ss, 64 * b + se, al,
                                      eobrun)


def _ac_refine_block(rd, ac_lut, coef, ss, se, al, eobrun):
    """AC successive-approximation refinement for one block (T.81
    G.1.2.3 / the libjpeg decode_mcu_AC_refine logic): returns the
    updated EOB run."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.huff(ac_lut)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.bits(r)
                    break
                # ZRL: pass 16 zero-history positions (with corrections)
            else:
                if s != 1:
                    raise ValueError("AC refinement magnitude != 1")
                newval = p1 if rd.bits(1) else m1
            while k <= se:
                if coef[k] != 0:
                    if rd.bits(1) and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        eobrun -= 1
        if any(coef[k : se + 1]):  # an all-zero band carries no correction bits
            for j in range(k, se + 1):
                if coef[j] and not coef[j] & p1 and rd.bits(1):
                    coef[j] += p1 if coef[j] >= 0 else m1
    return eobrun


def _prog_finish(frame, prog_coefs, qt):
    """Dequantize + IDCT the accumulated progressive coefficients and
    assemble RGB — the same vectorized tail as the baseline path."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if w == 0 or h == 0:
        raise ValueError("zero-sized JPEG frame")
    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            raise ValueError(f"quant table {c['tq']} undefined")
        planes.append(_idct_plane(prog_coefs[ci], qt[c["tq"]], -(-h // 8), -(-w // 8)))
    return _planes_to_rgb(comps, planes, w, h, 1, 1)


def _idct_plane(zz, q, rows, cols, v=1, h=1, prec=8):
    """Dequantize + IDCT one component's flat zigzag coefficients (MCU
    raster over a rows x cols grid, v x h blocks per MCU) into its sample
    plane: one batched M.T @ (F * q) @ M and one reshape/transpose."""
    coefs = np.asarray(zz, np.float64).reshape(-1, 64)[:, _ZZ_INV].reshape(-1, 8, 8)
    px = _IDCT_M.T @ (coefs * q) @ _IDCT_M + float(1 << (prec - 1))
    px = np.clip(np.floor(px + 0.5), 0, (1 << prec) - 1)
    px = px.astype(np.uint8 if prec == 8 else np.uint16)
    px = px.reshape(rows, cols, v, h, 8, 8).transpose(0, 2, 4, 1, 3, 5)
    return px.reshape(rows * v * 8, cols * h * 8)


def _decode_scan(buf, pos, frame, scan, qt, huff_dc, huff_ac, restart_interval):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if w == 0 or h == 0:
        raise ValueError("zero-sized JPEG frame")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(c["h"] in (1, 2) and c["v"] in (1, 2) for c in comps):
        raise NotImplementedError("sampling factors beyond 1/2 not supported")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        if c["id"] not in scan:
            raise ValueError(f"component {c['id']} missing from scan")
        if c["tq"] not in qt:
            raise ValueError(f"quant table {c['tq']} undefined")
    rd = _ScanReader(buf, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    rst_n = 0
    # entropy-decode every block first, keeping only the NONZERO
    # coefficients as flat (64*block + zigzag k, value) pairs; the numeric
    # tail then runs once per component over all its blocks (_idct_plane)
    nz_at: list[list] = [[] for _ in comps]
    nz_val: list[list] = [[] for _ in comps]
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                rd.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) & 7
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan[c["id"]]
                dc_lut, ac_lut = huff_dc[td], huff_ac[ta]
                at, val, n64 = nz_at[ci], nz_val[ci], 64 * c["v"] * c["h"]
                for b0 in range(n64 * mcu_count, n64 * (mcu_count + 1), 64):
                    s = rd.huff(dc_lut)
                    pred[ci] += _extend(rd.bits(s), s) if s else 0
                    if pred[ci]:
                        at.append(b0)
                        val.append(pred[ci])
                    k = 1
                    while k < 64:
                        rs = rd.huff(ac_lut)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC run past block end")
                        at.append(b0 + k)
                        val.append(_extend(rd.bits(s), s))
                        k += 1
            mcu_count += 1
    planes = []
    for ci, c in enumerate(comps):
        zz = np.zeros(64 * mcuy * mcux * c["v"] * c["h"])
        zz[nz_at[ci]] = nz_val[ci]
        planes.append(
            _idct_plane(zz, qt[c["tq"]], mcuy, mcux, c["v"], c["h"], frame["prec"])
        )
    return _planes_to_rgb(comps, planes, w, h, hmax, vmax)


def _planes_to_rgb(comps, planes, w, h, hmax, vmax):
    """Upsample component planes to full resolution (sample
    replication), crop, and convert to (H, W, 3) RGB — shared by the
    baseline and progressive paths. 8-bit returns uint8; 12-bit
    grayscale returns uint16 with values 0..4095 (the caller hashes
    the wide samples; the other decoders' uint8 contract is unchanged
    for every 8-bit stream)."""
    full = [
        np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)[:h, :w]
        for c, p in zip(comps, planes)
    ]
    if len(comps) == 1:
        return np.repeat(full[0][:, :, None], 3, axis=2)
    if len(comps) != 3:
        raise NotImplementedError(f"{len(comps)}-component JPEG")
    y, cb, cr = (p.astype(np.float64) for p in full)
    cb, cr = cb - 128.0, cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# ------------------------------------------------------- fixture encoder

# compact custom Huffman tables (NOT Annex K — smaller, same decoder
# path): DC = 12 symbols at length 4; AC = all 162 baseline (run,size)
# symbols PLUS the 14 progressive EOBn symbols (r=1..14, s=0) at length
# 8. Canonical codes never reach all-ones of their length + 1.
_ENC_DC_BITS = bytes([0, 0, 0, 12] + [0] * 12)
_ENC_DC_SYMS = bytes(range(12))
# 12-bit precision: DC categories reach 15 (T.81 Table F.1 extends the
# magnitude range for 12-bit samples); 16 symbols at length 5 keeps the
# canonical codes clear of the all-ones word
_ENC_DC12_BITS = bytes([0, 0, 0, 0, 16] + [0] * 11)
_ENC_DC12_SYMS = bytes(range(16))
_AC_SYMBOLS = bytes(
    [0x00, 0xF0]
    + [(r << 4) for r in range(1, 15)]  # EOBn (progressive)
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_BITS = bytes([0, 0, 0, 0, 0, 0, 0, len(_AC_SYMBOLS)] + [0] * 8)


def _enc_codes(bits: bytes, symbols: bytes) -> dict:
    """Canonical code assignment for the ENCODER: symbol -> (len, code)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _ScanWriter(MsbWriter):
    """MsbWriter that byte-stuffs every emitted 0xFF as 0xFF00 and pads
    with 1-bits."""

    __slots__ = ()

    def _emit(self, chunk: bytes) -> None:
        self.out += chunk.replace(b"\xff", b"\xff\x00")

    def pad(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _mag(v: int) -> int:
    return abs(v).bit_length()


def _last_nonzero(a: np.ndarray) -> list:
    """Index of each row's last nonzero entry (-1 if none) in one NumPy
    pass, so the encoders' Python loops never walk trailing zeros."""
    nz = a != 0
    return np.where(nz.any(1), a.shape[1] - 1 - np.argmax(nz[:, ::-1], 1), -1).tolist()


def _write_block(bw, zz, last_nz, pred, dc_code, ac_code, dc_cat_max: int = 11) -> int:
    """One sequential block from its 64 zigzag ints and _last_nonzero."""
    diff = zz[0] - pred
    s = _mag(diff)
    if s > dc_cat_max:
        raise ValueError(f"DC difference {diff} exceeds category {dc_cat_max}")
    ln, code = dc_code[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_code[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _mag(v)
        if s > 10:
            raise ValueError(f"AC coefficient {v} exceeds baseline category 10")
        ln, code = ac_code[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        ln, code = ac_code[0x00]
        bw.write(code, ln)
    return zz[0]


def make_jpeg_gray_from_blocks(
    blocks_zz: np.ndarray,
    blocks_x: int,
    blocks_y: int,
    quant: "np.ndarray | None" = None,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Assemble a grayscale sequential JPEG straight from QUANTIZED
    zigzag-order coefficient blocks ((blocks_y*blocks_x, 64) int array)
    — the coefficient-domain fixture generator: the decoder's output
    must equal the reference IDCT of exactly these coefficients, so
    tests get value-exact assertions through the full entropy layer
    (categories, runs, ZRL, EOB, stuffing, restarts) with no lossy
    round-trip in the way. ``precision=12`` emits SOF1 (extended
    sequential — T.81 baseline is 8-bit only) with DC categories to 15
    and, when any quant value exceeds 255, a 16-bit DQT."""
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    q = np.ones((8, 8), np.int64) if quant is None else np.asarray(quant, np.int64)
    if precision == 12:
        dc_code = _enc_codes(_ENC_DC12_BITS, _ENC_DC12_SYMS)
        dc_bits, dc_syms, dc_cat_max, sof = _ENC_DC12_BITS, _ENC_DC12_SYMS, 15, 0xC1
    else:
        dc_code = _enc_codes(_ENC_DC_BITS, _ENC_DC_SYMS)
        dc_bits, dc_syms, dc_cat_max, sof = _ENC_DC_BITS, _ENC_DC_SYMS, 11, 0xC0
    ac_code = _enc_codes(_ENC_AC_BITS, _AC_SYMBOLS)
    blocks = np.asarray(blocks_zz, np.int64)[: blocks_y * blocks_x]
    zz, last = blocks.tolist(), _last_nonzero(blocks)
    bw = _ScanWriter()
    pred = 0
    rst_n = 0
    for i in range(blocks_y * blocks_x):
        if restart_interval and i and i % restart_interval == 0:
            bw.pad()
            bw.out += bytes([0xFF, 0xD0 + (rst_n & 7)])
            rst_n += 1
            pred = 0
        pred = _write_block(bw, zz[i], last[i], pred, dc_code, ac_code, dc_cat_max)
    bw.pad()

    if int(q.max()) > 255:
        qzz = bytes([0x10]) + b"".join(
            struct.pack(">H", int(q[r, c])) for r, c in _ZIGZAG
        )
    else:
        qzz = bytes([0]) + bytes(int(q[r, c]) for r, c in _ZIGZAG)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, qzz)
    out += _seg(sof, struct.pack(">BHHB", precision, blocks_y * 8, blocks_x * 8, 1)
                + bytes([1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x00]) + dc_bits + dc_syms)
    out += _seg(0xC4, bytes([0x10]) + _ENC_AC_BITS + _AC_SYMBOLS)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Forward DCT + quantization of one component plane (dims multiples
    of 8) -> (n_blocks, 64) zigzag int64."""
    bh, bw_ = plane.shape[0] // 8, plane.shape[1] // 8
    out = np.zeros((bh * bw_, 64), np.int64)
    # forward = inverse of the IDCT sandwich
    fwd_l, fwd_r = np.linalg.inv(_IDCT_M.T), np.linalg.inv(_IDCT_M)
    i = 0
    for by in range(bh):
        for bx in range(bw_):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(np.float64)
            coef = fwd_l @ (blk - 128.0) @ fwd_r
            qc = np.floor(coef / q + 0.5).astype(np.int64)
            out[i] = qc[_ZZ_ROWS, _ZZ_COLS]
            i += 1
    return out


def make_jpeg(
    width: int,
    height: int,
    rgb_bytes: bytes,
    subsample: bool = False,
    quant: "np.ndarray | None" = None,
) -> bytes:
    """Assemble a 3-component YCbCr baseline JPEG from raw RGB bytes —
    the pixel-domain fixture encoder (JFIF color transform, edge
    replication to MCU multiples, optional 4:2:0 via 2x2 chroma
    averaging). Lossy by nature; tests bound the roundtrip error
    instead of asserting identity."""
    if len(rgb_bytes) != width * height * 3:
        raise ValueError(f"need {width * height * 3} bytes, got {len(rgb_bytes)}")
    q = np.ones((8, 8), np.int64) if quant is None else np.asarray(quant, np.int64)
    rgb = np.frombuffer(rgb_bytes, np.uint8).reshape(height, width, 3).astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    hmax = 2 if subsample else 1
    mcu = 8 * hmax

    def pad(p, mult):
        ph = -(-p.shape[0] // mult) * mult
        pw = -(-p.shape[1] // mult) * mult
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")

    yp = pad(np.clip(np.floor(y + 0.5), 0, 255), mcu)
    if subsample:
        cbp = pad(np.clip(np.floor(cb + 0.5), 0, 255), mcu)
        crp = pad(np.clip(np.floor(cr + 0.5), 0, 255), mcu)
        cbp = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
        crp = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
        cbp = np.clip(np.floor(cbp + 0.5), 0, 255)
        crp = np.clip(np.floor(crp + 0.5), 0, 255)
    else:
        cbp = pad(np.clip(np.floor(cb + 0.5), 0, 255), 8)
        crp = pad(np.clip(np.floor(cr + 0.5), 0, 255), 8)

    zz = [_fdct_quant(p, q) for p in (yp, cbp, crp)]
    zz = [(z.tolist(), _last_nonzero(z)) for z in zz]
    dc_code = _enc_codes(_ENC_DC_BITS, _ENC_DC_SYMS)
    ac_code = _enc_codes(_ENC_AC_BITS, _AC_SYMBOLS)
    bw = _ScanWriter()
    preds = [0, 0, 0]
    mcux = yp.shape[1] // mcu
    mcuy = yp.shape[0] // mcu
    ybw = yp.shape[1] // 8
    cbw = cbp.shape[1] // 8
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (blocks, last) in enumerate(zz):
                n = hmax if ci == 0 else 1
                for by in range(n):
                    for bx in range(n):
                        if ci == 0:
                            bi = (my * n + by) * ybw + mx * n + bx
                        else:
                            bi = my * cbw + mx
                        preds[ci] = _write_block(
                            bw, blocks[bi], last[bi], preds[ci], dc_code, ac_code
                        )
    bw.pad()

    qzz = bytes([0]) + bytes(int(q[r_, c_]) for r_, c_ in _ZIGZAG)
    sf_y = (hmax << 4) | hmax
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, qzz)
    out += _seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, sf_y, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += _seg(0xC4, bytes([0x00]) + _ENC_DC_BITS + _ENC_DC_SYMS)
    out += _seg(0xC4, bytes([0x10]) + _ENC_AC_BITS + _AC_SYMBOLS)
    out += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


_PROG_SCRIPT = (
    (0, 0, 0, 1),   # DC initial at Al=1
    (1, 5, 0, 1),   # AC band 1-5 initial
    (6, 63, 0, 1),  # AC band 6-63 initial
    (0, 0, 1, 0),   # DC refinement
    (1, 5, 1, 0),   # AC band 1-5 refinement
    (6, 63, 1, 0),  # AC band 6-63 refinement
)


def _emit_eobn(bw: _ScanWriter, ac_code: dict, eobrun: int) -> int:
    """Flush an accumulated EOB run as one EOBn symbol (r = floor(log2),
    r extension bits). Returns 0."""
    if eobrun <= 0:
        return 0
    r = eobrun.bit_length() - 1
    if r > 14:
        raise ValueError("EOB run exceeds EOB14 range")
    ln, code = ac_code[r << 4]
    bw.write(code, ln)
    if r:
        bw.write(eobrun - (1 << r), r)
    return 0


def make_jpeg_gray_progressive_from_blocks(
    blocks_zz: np.ndarray,
    blocks_x: int,
    blocks_y: int,
    quant: "np.ndarray | None" = None,
    scans: "tuple | None" = None,
    restart_interval: int = 0,
) -> bytes:
    """Assemble a grayscale PROGRESSIVE (SOF2) JPEG from quantized
    zigzag coefficient blocks — the coefficient-domain fixture for the
    progressive decode path. Default scan script: DC at Al=1, two AC
    spectral bands at Al=1, then the three successive-approximation
    refinement scans down to Al=0, so every decoder scan kind (DC
    initial/refine, AC initial with EOBn runs and ZRL, AC refine with
    newly-significant insertions + correction bits + EOB corrections)
    runs on encoder output. Reconstruction is coefficient-EXACT: the
    scans partition the bits of each coefficient, so decode equals the
    reference IDCT of exactly these blocks."""
    q = np.ones((8, 8), np.int64) if quant is None else np.asarray(quant, np.int64)
    script = _PROG_SCRIPT if scans is None else scans
    dc_code = _enc_codes(_ENC_DC_BITS, _ENC_DC_SYMS)
    ac_code = _enc_codes(_ENC_AC_BITS, _AC_SYMBOLS)
    nblocks = blocks_y * blocks_x
    blocks = np.asarray(blocks_zz, np.int64)[:nblocks]
    zz = blocks.tolist()

    out = bytearray(b"\xff\xd8")
    qzz = bytes([0]) + bytes(int(q[r, c]) for r, c in _ZIGZAG)
    out += _seg(0xDB, qzz)
    out += _seg(0xC2, struct.pack(">BHHB", 8, blocks_y * 8, blocks_x * 8, 1)
                + bytes([1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x00]) + _ENC_DC_BITS + _ENC_DC_SYMS)
    out += _seg(0xC4, bytes([0x10]) + _ENC_AC_BITS + _AC_SYMBOLS)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))

    for ss, se, ah, al in script:
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        bw = _ScanWriter()
        rst_n = 0

        def _rst(bw):
            nonlocal rst_n
            bw.pad()
            bw.out += bytes([0xFF, 0xD0 + (rst_n & 7)])
            rst_n += 1

        if ss == 0 and ah == 0:  # DC initial
            pred = 0
            for b in range(nblocks):
                if restart_interval and b and b % restart_interval == 0:
                    _rst(bw)
                    pred = 0
                v = zz[b][0] >> al  # arithmetic shift (T.81 G.1.2.1)
                diff = v - pred
                pred = v
                s = _mag(diff)
                ln, code = dc_code[s]
                bw.write(code, ln)
                if s:
                    bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        elif ss == 0:  # DC refinement: one bit per block
            for b in range(nblocks):
                if restart_interval and b and b % restart_interval == 0:
                    _rst(bw)
                bw.write((zz[b][0] >> al) & 1, 1)
        elif ah == 0:  # AC initial with cross-block EOB runs
            band = blocks[:, ss : se + 1]
            band = np.sign(band) * (np.abs(band) >> al)  # T.81 G.1.2.2 shift
            bands, lasts = band.tolist(), _last_nonzero(band)
            eobrun = 0
            for b in range(nblocks):
                if restart_interval and b and b % restart_interval == 0:
                    eobrun = _emit_eobn(bw, ac_code, eobrun)
                    _rst(bw)
                vals, last_nz = bands[b], lasts[b]
                if last_nz < 0:
                    eobrun += 1
                    if eobrun == 32767:
                        eobrun = _emit_eobn(bw, ac_code, eobrun)
                    continue
                eobrun = _emit_eobn(bw, ac_code, eobrun)
                r = 0
                for i in range(last_nz + 1):
                    v = vals[i]
                    if v == 0:
                        r += 1
                        continue
                    while r > 15:
                        ln, code = ac_code[0xF0]
                        bw.write(code, ln)
                        r -= 16
                    s = _mag(v)
                    if s > 10:
                        raise ValueError(f"AC coefficient {v} exceeds category 10")
                    ln, code = ac_code[(r << 4) | s]
                    bw.write(code, ln)
                    bw.write(v if v > 0 else v + (1 << s) - 1, s)
                    r = 0
                if last_nz < se - ss:
                    eobrun += 1
        else:  # AC refinement: per-block EOB flush (valid, uncompressed-er)
            band = np.abs(blocks[:, ss : se + 1]) >> al
            bands, lasts = band.tolist(), _last_nonzero(band)
            for b in range(nblocks):
                if restart_interval and b and b % restart_interval == 0:
                    _rst(bw)
                r = 0
                br: list[int] = []
                for i in range(lasts[b] + 1):
                    t = bands[b][i]
                    if t == 0:
                        r += 1
                        continue
                    if t > 1:  # already significant: correction bit
                        br.append(t & 1)
                        continue
                    while r > 15:
                        ln, code = ac_code[0xF0]
                        bw.write(code, ln)
                        for bit in br:
                            bw.write(bit, 1)
                        br = []
                        r -= 16
                    ln, code = ac_code[(r << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if zz[b][ss + i] > 0 else 0, 1)
                    for bit in br:
                        bw.write(bit, 1)
                    br = []
                    r = 0
                if r > 0 or br or lasts[b] < se - ss:
                    ln, code = ac_code[0x00]  # EOB (run 1)
                    bw.write(code, ln)
                    for bit in br:
                        bw.write(bit, 1)
        if ss > 0 and ah == 0:
            eobrun = _emit_eobn(bw, ac_code, eobrun)
        bw.pad()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
