"""MSB-first bit I/O and canonical prefix codes, shared by the JPEG and
MPEG-1 audio (Layer I and Layer III) codecs.

* ``BitWriter`` packs fixed-width fields MSB-first; ``pad_to_byte(fill)``
  closes the last byte with 1-bits (JPEG, T.81 F.1.2.3) or 0-bits (MPEG).
* ``BitReader`` reads fixed-width fields and prefix-coded symbols from
  plain bytes (a JPEG caller un-stuffs 0xFF00 first). Every overrun and
  every unassigned codeword raises ``ValueError``, which the decode stage
  turns into a NULL-feature row.
* ``canonical_codes`` is the T.81 Annex C assignment (``counts[l - 1]``
  symbols of length ``l`` take consecutive codes), and ``PrefixCode``
  turns its result into a flat lookup over a ``max_len``-bit peek, so a
  codeword costs one peek and one list index instead of a walk per bit.
"""

from __future__ import annotations


def canonical_codes(counts, symbols) -> dict[int, tuple[int, int]]:
    """symbol → (code, length): ``counts[l - 1]`` symbols of length ``l``
    take consecutive codes in ``symbols`` order. The caller checks that
    ``symbols`` holds ``sum(counts)`` entries."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length, count in enumerate(counts, 1):
        for _ in range(count):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class PrefixCode:
    """Decode table of a prefix code given as symbol → (code, length):
    entry ``v`` of ``table`` is the (symbol, length) whose code prefixes
    the ``max_len``-bit value ``v``, or None. A code that does not fit its
    length (over-full counts) can never be read and takes no entry."""

    def __init__(self, codes: dict[int, tuple[int, int]]) -> None:
        self.max_len = max((ln for _, ln in codes.values()), default=0)
        self.table: list[tuple[int, int] | None] = [None] * (1 << self.max_len)
        for sym, (code, ln) in codes.items():
            if code >> ln:
                continue
            shift = self.max_len - ln
            self.table[code << shift : (code + 1) << shift] = [(sym, ln)] * (1 << shift)


class BitReader:
    """MSB-first reader over ``data`` from byte ``pos``; ``pos`` holds
    the bit position afterwards."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos * 8
        self.end = len(data) * 8

    def read(self, nbits: int) -> int:
        end = self.pos + nbits
        if end > self.end:
            raise ValueError("truncated bitstream")
        # one int.from_bytes per field, not a loop per bit
        first = self.pos >> 3
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.data[first:last], "big")
        self.pos = end
        return (chunk >> ((last << 3) - end)) & ((1 << nbits) - 1)

    def symbol(self, code: PrefixCode) -> int:
        """Read one codeword of ``code``: peek ``max_len`` bits (zeros
        past the data), look the peek up, consume the codeword's bits."""
        n = code.max_len
        first = self.pos >> 3
        last = (self.pos + n + 7) >> 3
        chunk = int.from_bytes(self.data[first:last], "big")
        if last > len(self.data):
            chunk <<= (last - len(self.data)) * 8
        entry = code.table[(chunk >> ((last << 3) - self.pos - n)) & ((1 << n) - 1)]
        if entry is None:
            raise ValueError("invalid Huffman code")
        sym, length = entry
        if self.pos + length > self.end:
            raise ValueError("truncated bitstream")
        self.pos += length
        return sym


class BitWriter:
    """MSB-first writer; ``buf`` holds the completed bytes."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._nbits = 0

    @property
    def n_bits(self) -> int:
        """Bits written so far, the pending partial byte included."""
        return 8 * len(self.buf) + self._nbits

    def write(self, value: int, nbits: int) -> None:
        if value < 0 or value >= (1 << nbits):
            raise ValueError("value out of range for field width")
        self._acc = (self._acc << nbits) | value
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self.buf.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def pad_to_byte(self, fill: int) -> None:
        """Complete the pending byte with ``fill`` (0 or 1) bits."""
        if self._nbits:
            n = 8 - self._nbits
            self.write((1 << n) - 1 if fill else 0, n)
