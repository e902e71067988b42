"""bits.py primitives: MSB- and LSB-first round trips of random field
sequences (unsigned, signed, unary and prefix-coded), each also checked
against the bit layout spelled out as a string of '0'/'1' characters,
and the canonical code assignment against JPEG Annex K's published
DC-luminance codes."""

from __future__ import annotations

import os
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm.bits import (  # noqa: E402
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    read_symbol,
)
from pipelinejobs_indexer_spark.llm.jpeg import (  # noqa: E402
    STD_DC_LUM_BITS,
    STD_DC_LUM_VALS,
    _huffman,
)

#: ITU-T T.81 Table K.3: luminance DC difference category -> code word
ANNEX_K_DC = {
    0: "00", 1: "010", 2: "011", 3: "100", 4: "101", 5: "110",
    6: "1110", 7: "11110", 8: "111110", 9: "1111110", 10: "11111110",
    11: "111111110",
}
_DC_DECODE, _DC_ENCODE = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)


@st.composite
def _field(draw):
    kind = draw(st.sampled_from(["u", "s", "unary", "sym"]))
    if kind == "u":
        width = draw(st.integers(0, 40))
        return kind, width, draw(st.integers(0, (1 << width) - 1))
    if kind == "s":
        width = draw(st.integers(1, 40))
        half = 1 << (width - 1)
        return kind, width, draw(st.integers(-half, half - 1))
    if kind == "unary":
        return kind, 0, draw(st.integers(0, 70))
    return kind, 0, draw(st.integers(0, 11))


def _layout(bits: str, lsb_first: bool) -> bytes:
    bits += "0" * (-len(bits) % 8)
    groups = [bits[i : i + 8] for i in range(0, len(bits), 8)]
    return bytes(int(g[::-1] if lsb_first else g, 2) for g in groups)


@settings(max_examples=150, deadline=None)
@given(fields=st.lists(_field(), max_size=40))
def test_bit_io_round_trips_and_layout(fields):
    assert {s: f"{c:0{n}b}" for s, (c, n) in _DC_ENCODE.items()} == ANNEX_K_DC
    msb, lsb = MsbWriter(), LsbWriter()
    msb_bits = lsb_bits = ""
    for kind, width, value in fields:
        if kind == "sym":
            code, n = _DC_ENCODE[value]
            msb.write(code, n)
            lsb.write_code(code, n)
            msb_bits += f"{code:0{n}b}"
            lsb_bits += f"{code:0{n}b}"  # prefix codes go out MSB-first
        elif kind == "unary":
            msb.write_unary(value)
            msb_bits += "0" * value + "1"
        else:
            msb.write(value, width)
            lsb.write(value, width)
            raw = f"{value & ((1 << width) - 1):0{width}b}" if width else ""
            msb_bits += raw
            lsb_bits += raw[::-1]
    msb_out, lsb_out = msb.flush(), lsb.flush()
    assert msb_out == _layout(msb_bits, False)
    assert lsb_out == _layout(lsb_bits, True)

    mr, lr = MsbReader(msb_out), LsbReader(lsb_out)
    for kind, width, value in fields:
        if kind == "sym":
            assert read_symbol(mr, _DC_DECODE, 16) == value
            assert read_symbol(lr, _DC_DECODE, 16) == value
        elif kind == "unary":
            assert mr.read_unary() == value
        else:
            assert mr.peek(width) == (value & ((1 << width) - 1), width)
            got = mr.read_signed(width) if kind == "s" else mr.read(width)
            assert got == value
            assert lr.read(width) == value & ((1 << width) - 1)
    mr.align()
    lr.align()
    assert mr.eof() and lr.eof()
