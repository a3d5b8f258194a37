"""MSB-first bit-level I/O shared by the codecs.

``BitWriter`` and ``BitReader`` are plain accumulators over a byte
string. A format that keeps marker bytes out of its entropy-coded data
subclasses them and overrides only the per-byte hook (``_byte`` when
writing, ``_fill`` when reading):

- ``JpegBitWriter`` / ``JpegBitReader`` (T.81 B.1.1.5): a 0xFF data
  byte is followed by a stuffed 0x00; any other byte after 0xFF is a
  marker, which cannot occur inside a scan.
- ``T87BitWriter`` / ``T87BitReader`` (T.87 A.1): the byte after a 0xFF
  carries only 7 payload bits (its MSB is 0), so no marker can form.

A reader that runs out of bytes raises ``CodecError``, from one place
(``BitReader._next``), so a payload cut short fails with one typed
error whatever field the cut lands in.
"""

from __future__ import annotations


class CodecError(ValueError):
    """A payload is cut short or otherwise not decodable."""


class BitWriter:
    _cap = 8  # payload bits in the next output byte

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0  # pending bits in _acc

    def _byte(self, b: int) -> None:
        self.out.append(b)

    def write(self, value: int, n: int) -> None:
        """Append the low ``n`` bits of ``value``, most significant first."""
        acc = (self._acc << n) | (value & ((1 << n) - 1))
        n += self._n
        while n >= self._cap:
            n -= self._cap
            self._byte((acc >> n) & ((1 << self._cap) - 1))
        self._acc = acc & ((1 << n) - 1)
        self._n = n

    def unary(self, q: int) -> None:
        """``q`` 0-bits then a 1-bit."""
        while q >= 32:  # keeps the accumulator a small int
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def flush(self) -> None:
        """Pad the last partial byte with 0-bits."""
        if self._n:
            self.write(0, self._cap - self._n)


class BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # next unread byte
        self._acc = 0
        self._n = 0  # unread bits in the low end of _acc

    def _next(self) -> int:
        pos = self.pos
        if pos >= len(self.data):
            raise CodecError(f"bit stream ends at byte {pos}")
        self.pos = pos + 1
        return self.data[pos]

    def _fill(self) -> None:
        """Append the next byte's payload bits below the unread ones."""
        self._acc = ((self._acc & ((1 << self._n) - 1)) << 8) | self._next()
        self._n += 8

    def bit(self) -> int:
        if not self._n:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        while self._n < n:
            self._fill()
        self._n -= n
        return (self._acc >> self._n) & ((1 << n) - 1)

    def unary(self) -> int:
        """Count the 0-bits before the next 1-bit, consuming both."""
        q = 0
        while True:
            n = self._n
            v = self._acc & ((1 << n) - 1)
            if v:
                top = v.bit_length()
                self._n = top - 1
                return q + n - top
            q += n
            self._n = 0
            self._fill()

    def align(self) -> None:
        """Drop the unread bits of the current byte."""
        self._n = 0


class JpegBitWriter(BitWriter):
    def _byte(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)


class JpegBitReader(BitReader):
    def _fill(self) -> None:
        b = self._next()
        if b == 0xFF and self._next() != 0x00:
            raise CodecError("corrupt JPEG: marker inside scan")
        self._acc = ((self._acc & ((1 << self._n) - 1)) << 8) | b
        self._n += 8


class T87BitWriter(BitWriter):
    def _byte(self, b: int) -> None:
        self.out.append(b)
        self._cap = 7 if b == 0xFF else 8


class T87BitReader(BitReader):
    _w = 8  # payload bits in the next byte

    def _fill(self) -> None:
        b = self._next()
        w = self._w
        self._acc = ((self._acc & ((1 << self._n) - 1)) << w) | (b & ((1 << w) - 1))
        self._n += w
        self._w = 7 if b == 0xFF else 8
