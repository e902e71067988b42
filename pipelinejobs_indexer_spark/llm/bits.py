"""Bit-level primitives shared by the pure-Python codecs.

This module is the one home for how the codecs under ``llm/`` pack
bits, assign canonical prefix codes, compute their framing CRCs and
run-length encode PackBits. Two bit orders exist:

- MSB-first (FLAC, CCITT fax, JPEG entropy data, TIFF sub-byte
  samples): a field's first bit is the high bit of the current byte.
- LSB-first (VP8L, GIF LZW): a field's first bit is the low bit of the
  current byte, so multi-bit fields are little-endian across bytes.

Readers raise ValueError when a read runs past the end of the data.
Writers keep the partial byte in an accumulator; ``flush()`` pads it
with zero bits and returns every byte written.

Prefix-code decode tables map ``(length, code)`` to the symbol, and
``read_symbol`` resolves a code word shortest-first, one bit at a time.

Codec framing stays in the codecs: JPEG's 0xFF00 stuffing and marker
stops, the two PackBits decoders (128 means EOD in PDF and a no-op in
TIFF) and the two LZW codecs (GIF is LSB-first without EarlyChange,
PDF/TIFF are MSB-first with it).
"""

from __future__ import annotations

import functools


class _Reader:
    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # bit position
        self.end = 8 * len(data)

    def eof(self) -> bool:
        return self.pos >= self.end

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.pos = (self.pos + 7) & ~7


class MsbReader(_Reader):
    """MSB-first bit reader."""

    __slots__ = ()

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.end:
            raise ValueError("truncated bitstream")
        self.pos = end
        last = (end + 7) >> 3
        v = int.from_bytes(self.data[pos >> 3 : last], "big")
        return (v >> ((last << 3) - end)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.end:
            raise ValueError("truncated bitstream")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1

    def read_signed(self, n: int) -> int:
        """An n-bit two's-complement field (n >= 1)."""
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count 0 bits up to the terminating 1 bit, which is consumed."""
        data, pos, end = self.data, self.pos, self.end
        start = pos
        while pos < end and not (data[pos >> 3] >> (7 - (pos & 7))) & 1:
            pos += 1
        if pos >= end:
            raise ValueError("truncated bitstream")
        self.pos = pos + 1
        return pos - start

    def peek(self, n: int) -> tuple[int, int]:
        """Up to n bits without consuming them: (bits, how many)."""
        got = min(n, self.end - self.pos)
        v = self.read(got)
        self.pos -= got
        return v, got


class LsbReader(_Reader):
    """LSB-first bit reader."""

    __slots__ = ()

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.end:
            raise ValueError("truncated bitstream")
        self.pos = end
        v = int.from_bytes(self.data[pos >> 3 : (end + 7) >> 3], "little")
        return (v >> (pos & 7)) & ((1 << n) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self.end:
            raise ValueError("truncated bitstream")
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (pos & 7)) & 1


class _Writer:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0  # bits held in acc, always < 8 between writes

    def align(self) -> None:
        """Zero-pad to the next byte boundary."""
        self.write(0, -self.nbits % 8)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class MsbWriter(_Writer):
    """MSB-first bit packer."""

    def write(self, value: int, n: int) -> None:
        """The low n bits of value, high bit first; a negative value
        goes out as its n-bit two's complement."""
        acc = (self.acc << n) | (value & ((1 << n) - 1))
        nbits = self.nbits + n
        while nbits >= 8:
            nbits -= 8
            self.out.append((acc >> nbits) & 0xFF)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def write_unary(self, n: int) -> None:
        """n 0 bits, then a 1 bit."""
        self.write(1, n + 1)


class LsbWriter(_Writer):
    """LSB-first bit packer."""

    def write(self, value: int, n: int) -> None:
        """The low n bits of value, low bit first."""
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """A prefix code word: its bits go out MSB-first, the order
        `read_symbol` consumes them in."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)


def canonical_codes(pairs) -> tuple[dict, dict]:
    """Canonical prefix codes for ``(length, symbol)`` pairs in
    assignment order (non-decreasing length): each code word is the
    previous one plus one, shifted left by the growth in length (T.81
    Annex C, RFC 9649 §3.7.2.1.1). Returns ``(decode, encode)``: decode
    maps ``(length, code)`` to the symbol, encode maps the symbol to
    ``(code, length)``."""
    decode: dict[tuple[int, int], int] = {}
    encode: dict[int, tuple[int, int]] = {}
    code = prev = 0
    for length, sym in pairs:
        code <<= length - prev
        prev = length
        decode[(length, code)] = sym
        encode[sym] = (code, length)
        code += 1
    return decode, encode


def read_symbol(br, decode: dict, max_len: int):
    """Resolve one code word, read MSB-first through ``br.read_bit()``,
    against a ``(length, code) -> symbol`` table, shortest match first.
    No match within max_len bits means corrupt data."""
    read_bit = br.read_bit
    code = 0
    for length in range(1, max_len + 1):
        code = (code << 1) | read_bit()
        sym = decode.get((length, code))
        if sym is not None:
            return sym
    raise ValueError(f"no prefix code word matches {code:0{max_len}b}")


@functools.cache
def _crc_table(poly: int, width: int) -> tuple[int, ...]:
    top, mask = 1 << (width - 1), (1 << width) - 1
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return tuple(table)


def crc_msb(data: bytes, poly: int, width: int) -> int:
    """Non-reflected CRC of ``width`` >= 8 bits with init 0 and no final
    xor: FLAC's CRC-8 (0x07, 8) and CRC-16 (0x8005, 16), and the Ogg
    page CRC-32 (0x04C11DB7, 32). Table-driven, one lookup per byte."""
    table = _crc_table(poly, width)
    shift, mask = width - 8, (1 << width) - 1
    crc = 0
    for b in data:
        crc = ((crc << 8) & mask) ^ table[(crc >> shift) ^ b]
    return crc


def packbits_encode(data: bytes) -> bytes:
    """PackBits runs: a repeat run (header 257 - n) for 3..128 equal
    bytes, a literal run (header n - 1) of up to 128 bytes otherwise.
    No terminator: TIFF strips are length-framed, and PDF's
    RunLengthDecode appends its own EOD byte (128)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i
        while (
            j < n
            and j - i < 128
            and not (j + 2 < n and data[j] == data[j + 1] == data[j + 2])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)
