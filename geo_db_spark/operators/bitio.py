"""Bit-level I/O shared by the in-repo codecs.

MSB-first (``MsbReader``/``MsbWriter``): JPEG entropy data, FLAC, CCITT
fax and TIFF-LZW. LSB-first (``LsbReader``/``LsbWriter``): VP8L and
GIF-LZW; they reuse the MSB classes and override only the bit-order
steps.

Readers fill an integer accumulator one byte at a time on demand and
mask off consumed bits, so it stays a few bytes wide and a long stream
reads in O(N). ``peek`` may look past the end of the data and sees
1-bits there (a Huffman look-ahead near the end needs this); consuming
such a phantom bit raises ValueError. Writers move each finished byte
to ``out`` at once. JPEG's 0xFF00 stuffing overrides ``_fill`` and
``_emit`` (operators/jpeg.py).
"""

from __future__ import annotations


class MsbReader:
    """MSB-first bit reader over ``buf`` from byte ``pos``."""

    __slots__ = ("buf", "pos", "acc", "n", "n_phantom")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0  # bits in acc
        self.n_phantom = 0  # of those, 1-bits appended past the end

    def _fill(self) -> None:
        if self.pos < len(self.buf):
            self.acc = (self.acc << 8) | self.buf[self.pos]
            self.pos += 1
        else:
            self.acc = (self.acc << 8) | 0xFF
            self.n_phantom += 8
        self.n += 8

    def _consume(self, k: int) -> int:
        n = self.n - k
        if n < self.n_phantom:
            raise ValueError("bit stream truncated")
        out = self.acc >> n
        self.acc &= (1 << n) - 1
        self.n = n
        return out

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        return self._consume(k)

    def peek(self, k: int) -> int:
        while self.n < k:
            self._fill()
        return (self.acc >> (self.n - k)) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        self.bits(k)

    def align(self) -> None:
        """Drop the rest of the current byte."""
        self._consume(self.n & 7)

    def bytepos(self) -> int:
        """Offset of the next unread byte (on a byte boundary)."""
        return self.pos - ((self.n - self.n_phantom) >> 3)


class LsbReader(MsbReader):
    """LSB-first bit reader: the next bit is the accumulator's lowest."""

    __slots__ = ()

    def _fill(self) -> None:
        if self.pos < len(self.buf):
            self.acc |= self.buf[self.pos] << self.n
            self.pos += 1
        else:
            self.acc |= 0xFF << self.n
            self.n_phantom += 8
        self.n += 8

    def _consume(self, k: int) -> int:
        if self.n - k < self.n_phantom:
            raise ValueError("bit stream truncated")
        out = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return out

    def peek(self, k: int) -> int:
        while self.n < k:
            self._fill()
        return self.acc & ((1 << k) - 1)


class MsbWriter:
    """MSB-first bit writer; finished bytes go to ``out``."""

    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0  # pending bits, fewer than 8 between writes

    def write(self, value: int, k: int) -> None:
        acc = (self.acc << k) | (value & ((1 << k) - 1))
        n = self.n + k
        if n >= 8:
            self._emit((acc >> (n & 7)).to_bytes(n >> 3, "big"))
            acc &= (1 << (n & 7)) - 1
            n &= 7
        self.acc, self.n = acc, n

    def _emit(self, chunk: bytes) -> None:
        self.out += chunk

    def align(self) -> None:
        """Zero-pad to a byte boundary."""
        if self.n:
            self.write(0, 8 - self.n)

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.out)


class LsbWriter(MsbWriter):
    """LSB-first bit writer: values fill each byte from its low bit."""

    __slots__ = ()

    def write(self, value: int, k: int) -> None:
        acc = self.acc | ((value & ((1 << k) - 1)) << self.n)
        n = self.n + k
        while n >= 8:
            self.out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
        self.acc, self.n = acc, n
