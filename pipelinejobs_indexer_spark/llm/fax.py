"""CCITT Group 3 / Group 4 fax codecs (ITU-T T.4 / T.6) — pure stdlib.

Bilevel fax compression is the codec family of the scanned-document
TIFFs a corpus ingest actually meets (office scanners default to G4).
Three TIFF compression schemes share the machinery:

- Compression 2 ("CCITT RLE"): T.4 one-dimensional Modified Huffman
  run-length coding, each line starting on a byte boundary, no EOLs.
- Compression 3 (Group 3 / T.4): lines prefixed with EOL
  (000000000001); T4Options bit 0 turns on 2D coding where each EOL
  carries a 1D/2D flag bit; bit 2 means EOLs are byte-aligned with
  fill bits.
- Compression 4 (Group 4 / T.6): pure two-dimensional MMR coding
  against a reference line, starting from an imaginary all-white
  line; no EOLs (an optional EOFB terminates).

The run-length code tables (ITU-T T.4 Tables 2, 3 and 3a: white and
black terminating codes 0..63, makeup codes 64..1728, and the shared
extended makeups 1792..2560) are arbitrary published constants. Their
transcription here is pinned EXTERNALLY by the conformance
fixtures: tests/fixtures/conformance/fax_*.tif are written by the
JDK's independent TIFFFaxCompressor (com.sun.imageio), with the JDK
reader's decoded pixels committed alongside — a transcription error
in any code would fail those decodes loudly (wrong run sums never
silently re-align: every line must sum exactly to the row width).

The 2D (MMR) coder follows T.4 §4.2.1.3 changing-element semantics:
vertical modes V(0)/VR(1..3)/VL(1..3), horizontal mode (001 + two MH
runs), and pass mode (0001), with b1/b2 located on the reference line
relative to a0's colour. The mode words, like the run codes, are one
published table that both sides read.

The writer side (encode_g4 / encode_mh / encode_g3) exists so the
registered query can synthesize fax payloads at scale and so round
trips cross-check the coding logic. Encoder and decoder share only the
published tables and bits.py's MSB-first bit I/O.

Reference parity: the reference pipeline (SD2E/pipelinejobs-indexer,
reactor.py:16-213) catalogs uploads as opaque blobs; fax decode is
part of the multimodal ingest surface a training-data pipeline adds.
"""

from __future__ import annotations

from .bits import MsbReader, MsbWriter, read_symbol

# ---------------------------------------------------------------- tables
# ITU-T T.4 Table 2 — white run codes (run -> bit string)
_WHITE_CODES = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    # makeup codes
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

# ITU-T T.4 Table 3 — black run codes
_BLACK_CODES = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
    # makeup codes
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# ITU-T T.4 Table 3a — extended makeups, shared by both colours
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# 2D coding mode words (T.4 §4.2.1.3.4, Table 4): pass, horizontal,
# and vertical a1 - b1 offsets
_MODE_WORDS = {"P": "0001", "H": "001", 0: "1", 1: "011", -1: "010",
               2: "000011", -2: "000010", 3: "0000011", -3: "0000010"}


def _writer_table(*tables: dict) -> dict:
    """Merge key -> bit-string tables into key -> (code, length), the
    form MsbWriter.write takes; converted once at import."""
    return {k: (int(b, 2), len(b)) for t in tables for k, b in t.items()}


def _reader_table(codes: dict) -> dict:
    """(length, code) -> key, the table read_symbol resolves against."""
    return {(ln, code): k for k, (code, ln) in codes.items()}


_WHITE = _writer_table(_WHITE_CODES, _EXT_MAKEUP)
_BLACK = _writer_table(_BLACK_CODES, _EXT_MAKEUP)
_MODE = _writer_table(_MODE_WORDS)
_WHITE_DECODE = _reader_table(_WHITE)
_BLACK_DECODE = _reader_table(_BLACK)
_MODE_DECODE = _reader_table(_MODE)
_MAX_CODE_LEN = 13  # longest code word in any run table
EOL = (0b000000000001, 12)
_EOFB = (0b000000000001_000000000001, 24)  # two EOLs


def _read_run(bits: MsbReader, table: dict) -> int:
    """One full run length: zero or more makeup codes (>= 64) then a
    terminating code (< 64). Every code word is resolved shortest-first
    against the published tables; an unmatched 13-bit window is
    corruption."""
    total = 0
    while True:
        run = read_symbol(bits, table, _MAX_CODE_LEN)
        total += run
        if run < 64:
            return total


def _decode_mh_line(bits: MsbReader, width: int) -> list[int]:
    """One 1D (Modified Huffman) line -> changing-element positions
    (the pixel index where each colour transition happens), always
    starting with a white run (a black first pixel is a white run of
    length 0)."""
    changes = []
    pos = 0
    white = True
    while pos < width:
        run = _read_run(bits, _WHITE_DECODE if white else _BLACK_DECODE)
        pos += run
        if pos > width:
            raise ValueError(
                f"fax 1D run overflows the row ({pos} > {width})"
            )
        changes.append(pos)
        white = not white
    return changes


def _b1_b2(ref: list[int], a0: int, a0_white: bool, width: int):
    """Locate b1 (first changing element on the reference line right of
    a0 with colour opposite a0's colour — i.e. marking a transition TO
    a0's opposite colour) and b2 (the next one after b1). The reference
    line is its changes list; even indices are white->black transitions
    (the line starts white)."""
    # changes[i] is a transition at pixel changes[i]; the colour BEFORE
    # transition i is white if i is even. b1 must be > a0 and have the
    # same "parity colour" as a0's colour (transition out of a0 colour).
    i = 0
    n = len(ref)
    while i < n and (ref[i] <= a0 or ((i % 2 == 0) != a0_white)):
        i += 1
    b1 = ref[i] if i < n else width
    b2 = ref[i + 1] if i + 1 < n else width
    return b1, b2


def _decode_2d_line(
    bits: MsbReader, ref: list[int], width: int
) -> list[int]:
    """One 2D-coded line against reference changes -> changes list."""
    changes: list[int] = []
    a0 = -1
    white = True
    while True:
        b1, b2 = _b1_b2(ref, a0, white, width)
        # an extension or EOL word (0000001 / 0000000) matches no mode
        mode = read_symbol(bits, _MODE_DECODE, 7)
        if mode == "P":
            a0 = b2  # colour unchanged, no transition recorded
        elif mode == "H":
            start = a0 if a0 > 0 else 0
            r1 = _read_run(bits, _WHITE_DECODE if white else _BLACK_DECODE)
            r2 = _read_run(bits, _BLACK_DECODE if white else _WHITE_DECODE)
            a1 = start + r1
            a2 = a1 + r2
            if a2 > width:
                raise ValueError("fax horizontal runs overflow the row")
            changes.append(a1)
            changes.append(a2)
            a0 = a2
        else:
            a1 = b1 + mode
            if not (0 <= a1 <= width):
                raise ValueError("fax vertical mode lands outside the row")
            changes.append(a1)
            a0 = a1
            white = not white
        if a0 >= width:
            break
    return changes


def _changes_to_bits(changes: list[int], width: int) -> bytearray:
    """Changes list -> one row of 0 (white) / 1 (black) samples."""
    row = bytearray(width)
    white = True
    prev = 0
    for c in changes:
        if not white:
            for x in range(prev, min(c, width)):
                row[x] = 1
        prev = c
        white = not white
    if not white:
        for x in range(prev, width):
            row[x] = 1
    return row


def _find_eol(bits: MsbReader) -> bool:
    """Consume fill bits (zeros) up to and including the next EOL.
    Returns False cleanly at end of data."""
    zeros = 0
    while True:
        if bits.eof():
            return False
        b = bits.read_bit()
        if b == 0:
            zeros += 1
            if zeros > 64 * 8:
                raise ValueError("fax EOL hunt ran away (fill flood)")
        else:
            if zeros >= 11:
                return True
            raise ValueError(
                f"expected fax EOL, found a 1 bit after {zeros} zeros"
            )


def decode_fax(
    data: bytes,
    width: int,
    height: int,
    compression: int,
    t4_options: int = 0,
    t6_options: int = 0,
) -> list[bytearray]:
    """Decode one fax-coded TIFF strip to `height` rows of 0/1 samples
    (0 = white run, 1 = black run — the photometric mapping is the
    caller's job). compression: 2 = MH byte-aligned lines, 3 = T.4
    with EOLs (T4Options bit 0 adds the 2D flag bit), 4 = T.6 MMR."""
    if width <= 0 or height <= 0:
        raise ValueError("fax strip with zero dimension")
    if compression == 3 and t4_options & 0b10:
        raise NotImplementedError("T.4 uncompressed mode (bit 1)")
    if compression == 4 and t6_options & 0b10:
        raise NotImplementedError("T.6 uncompressed mode")
    bits = MsbReader(data)
    rows: list[bytearray] = []
    ref: list[int] = [width, width]  # imaginary all-white reference
    two_d = bool(t4_options & 0b1)
    for y in range(height):
        if compression == 2:
            if y:
                bits.align()
            changes = _decode_mh_line(bits, width)
        elif compression == 3:
            # an EOL precedes every line per T.4; tolerate a missing
            # LEADING EOL (writers disagree — libtiff accepts both).
            # >= 11 zero bits unambiguously mean EOL-or-fill: no code
            # word in any table has more than 7 leading zeros.
            head, got = bits.peek(12)
            has_eol = got >= 12 and (head >> 1) == 0
            line_is_1d = True
            if y == 0 and not has_eol:
                # first line starts directly with code data — and the
                # 1D/2D flag is a SUFFIX of the EOL (T.4 §4.2.1.2), so
                # with no EOL there is no flag bit: assume a 1D first
                # line rather than eating the first data bit
                pass
            else:
                if not _find_eol(bits):
                    raise ValueError(
                        f"fax strip ends after {y} of {height} rows"
                    )
                if two_d:
                    line_is_1d = bool(bits.read_bit())
            if line_is_1d:
                changes = _decode_mh_line(bits, width)
            else:
                changes = _decode_2d_line(bits, ref, width)
        else:  # T.6
            changes = _decode_2d_line(bits, ref, width)
        rows.append(_changes_to_bits(changes, width))
        ref = changes if changes else [width, width]
    return rows


# ------------------------------------------------------------- encoders
def _put_run(w: MsbWriter, run: int, white: bool) -> None:
    table = _WHITE if white else _BLACK
    while run >= 2624:  # wider-than-2560+63 runs repeat the largest makeup
        w.write(*table[2560])
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        w.write(*table[mk])
        run -= mk
    w.write(*table[run])


def _row_changes(row, width: int) -> list[int]:
    changes = []
    prev = 0  # white before the line
    for x in range(width):
        v = 1 if row[x] else 0
        if v != prev:
            changes.append(x)
            prev = v
    return changes


def encode_mh(rows, width: int) -> bytes:
    """Compression 2: MH lines, each starting on a byte boundary."""
    w = MsbWriter()
    for row in rows:
        w.align()
        pos = 0
        white = True
        for c in _row_changes(row, width) + [width]:
            _put_run(w, c - pos, white)
            pos = c
            white = not white
            if pos >= width:
                break
    return w.flush()


def _encode_1d_line(w: MsbWriter, changes: list[int], width: int) -> None:
    pos = 0
    white = True
    for c in changes + [width]:
        _put_run(w, c - pos, white)
        pos = c
        white = not white
        if pos >= width:
            break


def _encode_2d_line(
    w: MsbWriter, changes: list[int], ref: list[int], width: int
) -> None:
    cl = changes + [width, width]
    a0 = -1
    white = True
    ci = 0
    while True:
        b1, b2 = _b1_b2(ref, a0, white, width)
        a1 = cl[ci] if ci < len(cl) else width
        if b2 < a1:
            w.write(*_MODE["P"])
            a0 = b2
        elif abs(a1 - b1) <= 3:
            w.write(*_MODE[a1 - b1])
            a0 = a1
            white = not white
            ci += 1
        else:
            a2 = cl[ci + 1] if ci + 1 < len(cl) else width
            start = a0 if a0 > 0 else 0
            w.write(*_MODE["H"])
            _put_run(w, a1 - start, white)
            _put_run(w, a2 - a1, not white)
            a0 = a2
            ci += 2
        if a0 >= width:
            break


def encode_g4(rows, width: int) -> bytes:
    """Compression 4 (T.6 MMR) with a trailing EOFB."""
    w = MsbWriter()
    ref = [width, width]
    for row in rows:
        changes = _row_changes(row, width)
        _encode_2d_line(w, changes, ref, width)
        ref = changes if changes else [width, width]
    w.write(*_EOFB)
    return w.flush()


def encode_g3(rows, width: int, two_d: bool = False) -> bytes:
    """Compression 3: EOL-prefixed T.4 lines. 1D-only by default; with
    two_d set (T4Options bit 0), the first line is 1D and subsequent
    lines are 2D-coded against the previous line, each EOL carrying
    the 1D/2D flag bit."""
    w = MsbWriter()
    ref: list[int] | None = None
    for row in rows:
        changes = _row_changes(row, width)
        w.write(*EOL)
        if two_d:
            line_1d = ref is None
            w.write(int(line_1d), 1)
            if line_1d:
                _encode_1d_line(w, changes, width)
            else:
                _encode_2d_line(w, changes, ref, width)
            ref = changes if changes else [width, width]
        else:
            _encode_1d_line(w, changes, width)
    return w.flush()


# --------------------------------------------- PDF CCITTFaxDecode layer
def _rest_is_zero_fill(bits: MsbReader) -> bool:
    """True when every bit from the current position to the end of the
    data is zero — i.e. what remains is pad/fill, not another line (no
    fax line can be all zero bits: every code table entry contains a
    1)."""
    rem = 8 * len(bits.data) - bits.pos
    if rem <= 0:
        return True
    partial = min((-bits.pos) % 8, rem)
    if partial:
        v, _ = bits.peek(partial)
        if v:
            return False
    return not any(bits.data[(bits.pos + partial) >> 3 :])


def decode_fax_pdf(
    data: bytes,
    columns: int,
    rows: int | None,
    k: int,
    byte_align: bool = False,
) -> list[bytearray]:
    """ISO 32000 §7.4.6 CCITTFaxDecode parameter semantics over the
    same T.4/T.6 machinery as `decode_fax`: /K < 0 is pure T.6 MMR
    (what real scanners emit), /K == 0 is one-dimensional MH coding —
    contiguous code lines by default, each line starting on a byte
    boundary under /EncodedByteAlign, with any writer-emitted EOLs
    (/EndOfLine) consumed where found — and /K > 0 is mixed
    two-dimensional T.4 (EOL per line carrying the 1D/2D flag bit,
    fill tolerated). ``rows=None`` (/Rows absent or 0) decodes until
    the data ends, an EOFB (two EOLs back-to-back) is met, or only
    zero-fill remains. Returns rows of 0/1 samples with 1 = black —
    /BlackIs1 mapping and bit packing are the caller's (pdf.py's) job.
    """
    if columns <= 0:
        raise ValueError("CCITTFax image with zero width")
    if rows is not None and rows <= 0:
        raise ValueError("CCITTFax image with zero height")
    bits = MsbReader(data)
    out: list[bytearray] = []
    ref: list[int] = [columns, columns]
    # a hard backstop so a hostile stream with rows=None cannot spin:
    # each decoded line consumes >= 1 bit, but bound rows anyway
    max_rows = rows if rows is not None else 8 * len(data) + 1
    while len(out) < max_rows:
        if k <= 0 and byte_align and out:
            # align BEFORE the end checks: a trailing EOFB (or zero
            # pad) sits on the byte boundary in aligned streams, and
            # peeking it from mid-byte would mistake it for line data
            # (soak-found)
            bits.align()
        if rows is None:
            rem = 8 * len(data) - bits.pos
            if rem <= 0:
                break
            head, got = bits.peek(24)
            if got == 24 and head == _EOFB[0]:
                break  # EOFB
            if _rest_is_zero_fill(bits):
                break  # zero pad tail, not a line
        if k < 0:
            changes = _decode_2d_line(bits, ref, columns)
        elif k == 0:
            # consume a writer-emitted EOL (optionally fill-prefixed)
            head, got = bits.peek(12)
            if got == 12 and (head == 1 or head == 0):
                if not _find_eol(bits):
                    break  # nothing but fill remained
            changes = _decode_mh_line(bits, columns)
        else:
            # K > 0: EOL-prefixed lines with the 1D/2D flag bit;
            # tolerate a missing leading EOL like decode_fax does —
            # and since the flag is a SUFFIX of the EOL (T.4
            # §4.2.1.2), a first line with no EOL has no flag bit
            # either: assume 1D instead of eating the first data bit
            head, got = bits.peek(12)
            has_eol = got >= 12 and (head >> 1) == 0
            if out == [] and not has_eol:
                changes = _decode_mh_line(bits, columns)
            else:
                if not _find_eol(bits):
                    if rows is None:
                        break
                    raise ValueError(
                        f"fax stream ends after {len(out)} of {rows} rows"
                    )
                if bits.read_bit():
                    changes = _decode_mh_line(bits, columns)
                else:
                    changes = _decode_2d_line(bits, ref, columns)
        out.append(_changes_to_bits(changes, columns))
        ref = changes if changes else [columns, columns]
    if rows is not None and len(out) < rows:
        raise ValueError(
            f"fax stream ends after {len(out)} of {rows} rows"
        )
    return out


def encode_ccitt_pdf(
    rows, width: int, k: int, byte_align: bool = False
) -> bytes:
    """Writer-side mate of `decode_fax_pdf`: /K < 0 encodes T.6 MMR
    with a trailing EOFB, /K > 0 the mixed-2D T.4 EOL stream, /K == 0
    plain MH lines (contiguous, or byte-aligned per line when the
    stream will be declared /EncodedByteAlign). Encoder and decoder
    share only the published code tables — the gif.py discipline."""
    if k < 0:
        if not byte_align:
            return encode_g4(rows, width)
        # /EncodedByteAlign with MMR: each coded line begins on a byte
        # boundary (rare but legal — §7.4.6 Table 11)
        w = MsbWriter()
        ref = [width, width]
        for i, row in enumerate(rows):
            if i:
                w.align()
            changes = _row_changes(row, width)
            _encode_2d_line(w, changes, ref, width)
            ref = changes if changes else [width, width]
        w.align()
        w.write(*_EOFB)
        return w.flush()
    if k > 0:
        return encode_g3(rows, width, two_d=True)
    if byte_align:
        return encode_mh(rows, width)
    w = MsbWriter()
    for row in rows:
        _encode_1d_line(w, _row_changes(row, width), width)
    return w.flush()
