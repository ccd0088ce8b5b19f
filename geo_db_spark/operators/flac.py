"""FLAC decode/encode (the public xiph.org FLAC format spec) — pure
stdlib+NumPy, no codec library.

Closes the r7 "codec surface" audio boundary next to WAV: FLAC is the
lossless compressed format real speech/music corpora actually ship, and
losslessness is what makes it oracle-able — decode(encode(pcm)) is the
IDENTITY, so the workload query's DuckDB oracle reproduces decoded
sample sums straight from text bytes, exactly like the WAV path.

Scope: 8/16/24-bit PCM (r9 closed the non-16-bit boundary), 1-8
independent channels plus the stereo left/side, right/side and
mid/side decorrelations, CONSTANT / VERBATIM / FIXED (orders 0-4) /
LPC (any order) subframes, Rice residual methods 0 and 1 with
partitioning and escape codes, wasted bits, UTF-8 frame/sample
numbers, fixed AND variable blocking strategies (r9: variable-block
sample numbers validated against the stream position), CRC-8 header
and CRC-16 frame checks. Out of scope (explicit NotImplementedError):
12/20/32-bit sample sizes and unknown-total streams — honest
boundaries per the repo convention.

Performance note: the entropy layer is a Python MSB-first bit reader
(operators/bitio.py; Rice codes are data-dependent, no batch kernel
without a native library); the
prediction recurrences run per subframe in numpy where order allows.
Fixture/corpus-demo scale — the mapInPandas seam above is the real,
tested contract, as with JPEG/PNG/GIF.
"""

from __future__ import annotations

import struct

import numpy as np

from geo_db_spark.operators.bitio import MsbReader, MsbWriter

_FIXED_COEF = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _signed(rd: MsbReader, k: int) -> int:
    v = rd.bits(k)
    return v - (1 << k) if v >> (k - 1) else v


def _unary(rd: MsbReader) -> int:
    """Zero bits before the next 1 (consumed with it), 16 per peek."""
    n = 0
    while not rd.peek(16):
        rd.skip(16)
        n += 16
        if n > 1 << 20:
            raise ValueError("runaway unary code")
    z = 16 - rd.peek(16).bit_length()
    rd.skip(z + 1)
    return n + z


def _read_utf8_number(rd: MsbReader) -> int:
    b0 = rd.bits(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    if n < 2 or n > 7:
        raise ValueError("invalid UTF-8-coded frame number")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = rd.bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid UTF-8 continuation in frame number")
        v = (v << 6) | (c & 0x3F)
    return v


_BLOCKSIZE_TBL = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192, 14: 16384, 15: 32768,
}


def _decode_residual(rd: MsbReader, n: int, pred_order: int) -> list:
    method = rd.bits(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = rd.bits(4)
    nparts = 1 << porder
    if n % nparts:
        raise ValueError("partition count does not divide block size")
    out = []
    for p in range(nparts):
        cnt = n // nparts - (pred_order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("predictor order exceeds first partition")
        param = rd.bits(pbits)
        if param == escape:
            raw = rd.bits(5)
            for _ in range(cnt):
                out.append(_signed(rd, raw) if raw else 0)
        else:
            for _ in range(cnt):
                q = _unary(rd)
                u = (q << param) | rd.bits(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _decode_subframe(rd: MsbReader, n: int, bps: int) -> np.ndarray:
    if rd.bits(1):
        raise ValueError("subframe padding bit set")
    ftype = rd.bits(6)
    wasted = 0
    if rd.bits(1):
        wasted = 1 + _unary(rd)
        bps -= wasted
    if ftype == 0:  # CONSTANT
        v = _signed(rd, bps)
        out = np.full(n, v, np.int64)
    elif ftype == 1:  # VERBATIM
        out = np.array([_signed(rd, bps) for _ in range(n)], np.int64)
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        warm = [_signed(rd, bps) for _ in range(order)]
        res = _decode_residual(rd, n, order)
        coef = _FIXED_COEF[order]
        s = warm[:]
        for r in res:
            pred = sum(c * s[-i - 1] for i, c in enumerate(coef)) if order else 0
            s.append(pred + r)
        out = np.array(s, np.int64)
    elif ftype >= 32:  # LPC, order = (type & 31) + 1
        order = (ftype & 31) + 1
        warm = [_signed(rd, bps) for _ in range(order)]
        prec = rd.bits(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision escape")
        shift = _signed(rd, 5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coef = [_signed(rd, prec) for _ in range(order)]
        res = _decode_residual(rd, n, order)
        s = warm[:]
        for r in res:
            acc = sum(c * s[-i - 1] for i, c in enumerate(coef))
            s.append((acc >> shift) + r)
        out = np.array(s, np.int64)
    else:
        raise ValueError(f"reserved subframe type {ftype}")
    return out << wasted


def decode_flac(payload: bytes):
    """Decode a FLAC payload to (samples (n_frames, n_channels) int32,
    sample_rate) — the decode_audio contract."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    info = None
    while True:
        hdr = payload[pos : pos + 4]
        if len(hdr) < 4:
            raise ValueError("FLAC metadata truncated")
        last = hdr[0] >> 7
        btype = hdr[0] & 0x7F
        ln = int.from_bytes(hdr[1:4], "big")
        body = payload[pos + 4 : pos + 4 + ln]
        if btype == 0:  # STREAMINFO
            b = MsbReader(body)
            b.skip(80)  # min/max blocksize, min/max frame size
            rate = b.bits(20)
            nch = b.bits(3) + 1
            bps = b.bits(5) + 1
            total = b.bits(36)
            info = {"rate": rate, "nch": nch, "bps": bps, "total": total}
        pos += 4 + ln
        if last:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    if info["bps"] not in (8, 16, 24):
        raise NotImplementedError(f"{info['bps']}-bit FLAC not supported (8/16/24 decode)")
    if info["total"] == 0 and pos < len(payload):
        # total_samples=0 is legal FLAC for "unknown length" (streamed
        # encodes); the sample-count-driven frame loop below would
        # silently decode ZERO samples despite frames being present —
        # fail loudly instead. total=0 with NO bytes after the metadata
        # is a genuinely empty stream and decodes to zero samples.
        raise NotImplementedError("FLAC with unknown total_samples (STREAMINFO total=0)")
    bps, nch = info["bps"], info["nch"]
    chans = [[] for _ in range(nch)]
    got = 0
    while got < info["total"]:
        rd = MsbReader(payload, pos)
        sync = rd.bits(14)
        if sync != 0b11111111111110:
            raise ValueError(f"bad frame sync at byte {pos}")
        rd.bits(1)  # reserved
        variable = rd.bits(1)  # 0 = fixed, 1 = variable blocking
        bs_code = rd.bits(4)
        sr_code = rd.bits(4)
        ch_code = rd.bits(4)
        ss_code = rd.bits(3)
        rd.bits(1)  # reserved
        coded_no = _read_utf8_number(rd)
        if variable and coded_no != got:
            # variable blocking codes the frame's FIRST SAMPLE index
            raise ValueError(
                f"variable-block sample number {coded_no} != stream position {got}"
            )
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 6:
            n = rd.bits(8) + 1
        elif bs_code == 7:
            n = rd.bits(16) + 1
        else:
            n = _BLOCKSIZE_TBL[bs_code]
        if sr_code == 12:
            rd.bits(8)
        elif sr_code in (13, 14):
            rd.bits(16)
        elif sr_code == 15:
            raise ValueError("invalid sample rate code")
        # sample-size code: 0 = from STREAMINFO, else must match it
        # (8 -> 0b001, 16 -> 0b100, 24 -> 0b110)
        if ss_code not in (0, {8: 0b001, 16: 0b100, 24: 0b110}[bps]):
            raise NotImplementedError(
                f"frame sample-size code {ss_code} != STREAMINFO {bps}-bit"
            )
        crc_end = rd.bytepos()
        if _crc8(payload[pos : crc_end + 1]) != 0:
            # crc byte itself: crc8(header || crc) == 0 iff crc matches
            raise ValueError("frame header CRC-8 mismatch")
        rd.bits(8)  # the CRC-8 byte
        if ch_code < 8:
            if ch_code + 1 != nch:
                raise ValueError("frame channel count != STREAMINFO")
            sub = [_decode_subframe(rd, n, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            if nch != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            b0 = bps + (1 if ch_code == 9 else 0)
            b1 = bps + (1 if ch_code in (8, 10) else 0)
            c0 = _decode_subframe(rd, n, b0)
            c1 = _decode_subframe(rd, n, b1)
            if ch_code == 8:  # left/side: right = left - side
                sub = [c0, c0 - c1]
            elif ch_code == 9:  # right/side: ch0 = SIDE, ch1 = right
                sub = [c0 + c1, c1]  # left = side + right
            else:  # mid/side
                side = c1
                mid = (c0 << 1) | (side & 1)
                sub = [(mid + side) >> 1, (mid - side) >> 1]
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        rd.align()
        fend = rd.bytepos()
        if _crc16(payload[pos : fend + 2]) != 0:
            raise ValueError("frame CRC-16 mismatch")
        pos = fend + 2
        for c in range(nch):
            chans[c].extend(sub[c].tolist())
        got += n
    if got != info["total"]:
        raise ValueError(f"decoded {got} samples, STREAMINFO says {info['total']}")
    out = np.array(chans, np.int64).T.astype(np.int32)
    return np.ascontiguousarray(out), info["rate"]


# ------------------------------------------------------- fixture encoder


def _write_unary(bw: MsbWriter, q: int) -> None:
    while q >= 32:
        bw.write(0, 32)
        q -= 32
    bw.write(1, q + 1)


def _utf8_number(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    seq = []
    nbytes = 2
    while v >= (1 << (6 * (nbytes - 1) + (7 - nbytes))):
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    seq.append(lead | (v >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        seq.append(0x80 | ((v >> shift) & 0x3F))
    return bytes(seq)


def _write_residual(bw: MsbWriter, res: list) -> None:
    """Rice method 0, partition order 0. Param chosen from the mean
    magnitude; falls back to the ESCAPE raw encoding when residuals are
    too hot for Rice (param would exceed 14) — so both decode paths run
    on encoder output."""
    bw.write(0, 2)
    bw.write(0, 4)
    mx = max((abs(r) for r in res), default=0)
    mean = (sum(abs(r) for r in res) / len(res)) if res else 0.0
    param = 0
    while (1 << param) < mean + 1 and param < 14:
        param += 1
    if mx >= (1 << 20):  # unary quotient would explode: escape to raw
        raw = max(2, (2 * mx).bit_length() + 1)
        if raw > 31:
            raise ValueError("residuals exceed 31-bit escape range")
        bw.write(15, 4)
        bw.write(raw, 5)
        for r in res:
            bw.write(r & ((1 << raw) - 1), raw)
        return
    bw.write(param, 4)
    for r in res:
        u = (-2 * r - 1) if r < 0 else 2 * r  # zigzag
        _write_unary(bw, u >> param)
        bw.write(u & ((1 << param) - 1), param)


def _write_subframe(bw: MsbWriter, x: np.ndarray, bps: int, order: int = 2) -> None:
    vals = x.tolist()
    bw.write(0, 1)
    if len(set(vals)) == 1:  # CONSTANT
        bw.write(0, 6)
        bw.write(0, 1)
        bw.write(vals[0] & ((1 << bps) - 1), bps)
        return
    order = min(order, len(vals) - 1, 4)
    bw.write(8 | order, 6)  # FIXED
    bw.write(0, 1)  # no wasted bits
    for v in vals[:order]:
        bw.write(v & ((1 << bps) - 1), bps)
    coef = _FIXED_COEF[order]
    res = [
        vals[i] - sum(c * vals[i - 1 - j] for j, c in enumerate(coef))
        for i in range(order, len(vals))
    ]
    _write_residual(bw, res)


def make_flac(
    sample_rate: int,
    n_channels: int,
    pcm_int16: bytes,
    block_size: int = 256,
    stereo_mode: str = "independent",
    bits: int = 16,
    variable_block: bool = False,
) -> bytes:
    """Assemble a real FLAC payload from interleaved little-endian
    signed PCM (``bits`` = 8/16/24, r9) — STREAMINFO, fixed-predictor
    subframes with Rice (or escape) residuals, real CRC-8/CRC-16.
    ``stereo_mode`` picks the channel decorrelation for 2-channel
    input: 'independent', 'left_side', 'right_side' or 'mid_side' (all
    lossless, so decode output is identical — the workload exercises
    them by doc parity). ``variable_block`` emits a VARIABLE blocking
    stream: frame sizes alternate block_size / block_size//2, the
    strategy bit is set, and the UTF-8 number codes each frame's first
    SAMPLE index (validated by the decoder)."""
    if bits not in (8, 16, 24):
        raise ValueError(f"bits must be 8, 16 or 24: got {bits}")
    step = bits // 8
    if len(pcm_int16) % (step * n_channels):
        raise ValueError("PCM length not a multiple of the frame size")
    if bits == 8:
        samples = np.frombuffer(pcm_int16, "i1").astype(np.int64)
    elif bits == 16:
        samples = np.frombuffer(pcm_int16, "<i2").astype(np.int64)
    else:  # 24-bit: 3-byte little-endian two's complement
        raw = np.frombuffer(pcm_int16, np.uint8).reshape(-1, 3).astype(np.int64)
        samples = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        samples = np.where(samples >= 1 << 23, samples - (1 << 24), samples)
    frames = samples.reshape(-1, n_channels)
    total = frames.shape[0]
    bps = bits

    out = bytearray(b"fLaC")
    si = MsbWriter()
    # min == max signals fixed blocking per the spec
    si.write(max(block_size // 2, 1) if variable_block else block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(n_channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    body = si.getvalue() + b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body  # last block

    chunks = []
    off = 0
    while off < total:
        size = block_size
        if variable_block and (len(chunks) % 2 == 1):
            size = max(block_size // 2, 1)
        chunks.append((off, min(size, total - off)))
        off += size
    if total == 0:
        chunks = []
    for frame_idx, (fi, n) in enumerate(chunks):
        blk = frames[fi : fi + n]
        hdr = MsbWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)
        hdr.write(1 if variable_block else 0, 1)
        hdr.write(7, 4)  # blocksize: 16-bit at end of header
        hdr.write(0, 4)  # sample rate: from STREAMINFO
        if n_channels == 2 and stereo_mode == "left_side":
            hdr.write(8, 4)
        elif n_channels == 2 and stereo_mode == "right_side":
            hdr.write(9, 4)
        elif n_channels == 2 and stereo_mode == "mid_side":
            hdr.write(10, 4)
        else:
            hdr.write(n_channels - 1, 4)
        hdr.write({8: 0b001, 16: 0b100, 24: 0b110}[bps], 3)
        hdr.write(0, 1)
        coded = fi if variable_block else frame_idx
        hdr_bytes = hdr.getvalue() + _utf8_number(coded)
        hdr_bytes += struct.pack(">H", n - 1)
        hdr_bytes += bytes([_crc8(hdr_bytes)])

        bw = MsbWriter()
        if n_channels == 2 and stereo_mode == "left_side":
            left, right = blk[:, 0], blk[:, 1]
            _write_subframe(bw, left, bps)
            _write_subframe(bw, left - right, bps + 1)
        elif n_channels == 2 and stereo_mode == "right_side":
            left, right = blk[:, 0], blk[:, 1]
            _write_subframe(bw, left - right, bps + 1)  # ch0 = side
            _write_subframe(bw, right, bps)
        elif n_channels == 2 and stereo_mode == "mid_side":
            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            mid = (left + right) >> 1
            _write_subframe(bw, mid, bps)
            _write_subframe(bw, side, bps + 1)
        else:
            for c in range(n_channels):
                _write_subframe(bw, blk[:, c], bps)
        frame = hdr_bytes + bw.getvalue()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)
