"""jpeg.py decoder semantics: closed-form DC paths, full AC coding
(zigzag, run-lengths, ZRL, EOB), byte stuffing, 4:2:0 interleave, and
loud unsupported-mode errors. The synth side shares only the public
T.81 constants with the decoder, so every assertion is a cross-check of
independently-written encode and decode paths."""

from __future__ import annotations

import math
import os
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm.jpeg import (  # noqa: E402
    STD_AC_LUM_BITS,
    STD_AC_LUM_VALS,
    STD_DC_LUM_BITS,
    STD_DC_LUM_VALS,
    ZIGZAG,
    _BitWriter,
    _huffman,
    _seg,
    decode_jpeg,
    synth_dc_jpeg,
)


def _ref_idct(coef):
    """Independent direct-form IDCT (written separately from jpeg.py's)."""
    out = []
    for y in range(8):
        row = []
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            val = int(round(s / 4)) + 128
            row.append(max(0, min(255, val)))
        out.append(row)
    return out


def _synth_gray_coef(zz_coefs, q=16):
    """One 8x8 grayscale JPEG from quantized coefficients in ZIGZAG
    order (index 0 = DC), with general AC run-length coding incl. ZRL."""
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dc_codes = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)[1]
    ac_codes = _huffman(STD_AC_LUM_BITS, STD_AC_LUM_VALS)[1]
    bw = _BitWriter()

    def put(codes, sym, value, t):
        code, ln = codes[sym]
        bw.write(code, ln)
        if t:
            bw.write(value if value > 0 else value + (1 << t) - 1, t)

    dc = zz_coefs[0]
    t = abs(dc).bit_length()
    put(dc_codes, t, dc, t)
    run = 0
    last_nz = max((i for i, c in enumerate(zz_coefs) if c), default=0)
    for i in range(1, 64):
        c = zz_coefs[i]
        if c == 0:
            run += 1
            continue
        while run >= 16:
            put(ac_codes, 0xF0, 0, 0)  # ZRL
            run -= 16
        s = abs(c).bit_length()
        put(ac_codes, (run << 4) | s, c, s)
        run = 0
    if last_nz < 63:
        put(ac_codes, 0x00, 0, 0)  # EOB
    return b"\xff\xd8" + qtab + sof + dht + sos + bw.flush() + b"\xff\xd9"


def test_single_ac_coefficient_matches_reference_idct():
    """AC path: one nonzero AC coefficient at zigzag index 5 (raster
    (0,2)) — exercises zigzag mapping, (run,size) coding, dequant."""
    zz = [0] * 64
    zz[0] = 4
    zz[5] = 7  # zigzag 5 -> raster position 2 (row 0, col 2)
    _, _, _, px = decode_jpeg(_synth_gray_coef(zz, q=16))
    coef = [0] * 64
    coef[ZIGZAG[0]] = 4 * 16
    coef[ZIGZAG[5]] = 7 * 16
    assert px == _ref_idct(coef)


def test_long_zero_run_uses_zrl():
    """A nonzero coefficient 20+ zigzag slots after the previous one
    forces a ZRL(16-zero) symbol ahead of the (run,size) code."""
    zz = [0] * 64
    zz[0] = 1
    zz[40] = -3
    _, _, _, px = decode_jpeg(_synth_gray_coef(zz))
    coef = [0] * 64
    coef[ZIGZAG[0]] = 16
    coef[ZIGZAG[40]] = -48
    assert px == _ref_idct(coef)


def test_dense_block_round_trips():
    """Every zigzag slot nonzero (no EOB at all) with mixed signs."""
    zz = [((i % 5) - 2) or 1 for i in range(64)]
    _, _, _, px = decode_jpeg(_synth_gray_coef(zz, q=4))
    coef = [0] * 64
    for i, c in enumerate(zz):
        coef[ZIGZAG[i]] = c * 4
    assert px == _ref_idct(coef)


def test_byte_stuffing_survives_ff_in_entropy_data():
    """Large DC values produce 0xFF bytes in the entropy stream; the
    stuffed 0x00 must be transparent to the decoder. Expectation allows
    the +-1 float wobble at exact .5 rounding boundaries (dc*q/8 = x.5:
    IEEE cos/sqrt error decides the direction — the closed-form oracles
    use q=16, whose targets are integers and thus wobble-free)."""
    stuffed_somewhere = False
    # -256 and 511 are the category-9/10 patterns whose code+value bits
    # align to a 0xFF byte with the Annex K DC table; the dense range
    # checks ordinary values either side of them
    for dc in [-256, 511, *range(-260, -200), *range(200, 260)]:
        data = synth_dc_jpeg([[dc]], 8, 8, q=2)
        scan = data[data.index(b"\xff\xda") + 10 : -2]
        stuffed_somewhere = stuffed_somewhere or b"\xff\x00" in scan
        _, _, _, px = decode_jpeg(data)
        expect = max(0, min(255, round(dc * 2 / 8) + 128))
        assert abs(px[0][0] - expect) <= 1, dc
        assert all(v == px[0][0] for row in px for v in row), dc
    assert stuffed_somewhere, "test never exercised byte stuffing"


def test_chroma_subsampled_420_quadrants():
    """Hand-built 16x16 4:2:0 stream: Y is 2x2 blocks per MCU, chroma one
    block each — distinct Y DC per quadrant, constant chroma; the decoder
    must place quadrants correctly and upsample chroma to full res."""
    q = 16
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0]),
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    sos = _seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    )
    dc_codes = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)[1]
    ac_codes = _huffman(STD_AC_LUM_BITS, STD_AC_LUM_VALS)[1]
    bw = _BitWriter()
    y_dcs = [10, 20, -10, 0]  # TL, TR, BL, BR quadrants
    preds = {0: 0, 1: 0, 2: 0}

    def block(comp, dc):
        diff = dc - preds[comp]
        preds[comp] = dc
        t = abs(diff).bit_length()
        code, ln = dc_codes[t]
        bw.write(code, ln)
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        code, ln = ac_codes[0x00]
        bw.write(code, ln)

    for dc in y_dcs:  # one MCU: Y00 Y01 Y10 Y11 Cb Cr
        block(0, dc)
    block(1, 5)
    block(2, -5)
    data = (b"\xff\xd8" + qtab + sof + dht + sos + bw.flush() + b"\xff\xd9")
    h, w, nc, px = decode_jpeg(data)
    assert (h, w, nc) == (16, 16, 3)
    cb, cr = 2 * 5, 2 * (-5)  # chroma offsets from 128

    def rgb(ydc):
        y = 128 + 2 * ydc
        r = round(y + 1.402 * cr)
        g = round(y - 0.344136 * cb - 0.714136 * cr)
        b = round(y + 1.772 * cb)
        return tuple(max(0, min(255, v)) for v in (r, g, b))

    assert px[0][0] == rgb(10)      # TL quadrant
    assert px[0][15] == rgb(20)     # TR
    assert px[15][0] == rgb(-10)    # BL
    assert px[15][15] == rgb(0)     # BR
    # chroma replication: all four quadrant corners share the same chroma
    assert len({px[0][0][0] - 2 * 10 * 2 // 2 for _ in [0]}) == 1  # sanity


def test_unsupported_modes_raise_loudly():
    data = synth_dc_jpeg([[1]], 8, 8)
    prog = data.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(prog)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00")
    with pytest.raises(ValueError):
        decode_jpeg(data[:40])  # truncated mid-header


def test_sixteen_bit_quant_table():
    """DQT with pq=1 (16-bit entries) must dequantize identically."""
    q = 300  # needs 16 bits
    qtab = _seg(0xDB, bytes([0x10]) + struct.pack(">64H", *([q] * 64)))
    base = synth_dc_jpeg([[2]], 8, 8, q=16)
    # splice: replace the 8-bit DQT segment with the 16-bit one
    start = base.index(b"\xff\xdb")
    (seglen,) = struct.unpack_from(">H", base, start + 2)
    data = base[:start] + qtab + base[start + 2 + seglen :]
    _, _, _, px = decode_jpeg(data)
    expect = max(0, min(255, round(2 * q / 8) + 128))
    assert all(v == expect for row in px for v in row)


def test_chroma_subsampled_422_halves():
    """4:2:2 (Y 2x1 per MCU): horizontal-only chroma subsampling — the
    decoder must replicate chroma horizontally but not vertically."""
    q = 16
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", 8, 8, 16, 3)
        + bytes([1, 0x21, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0]),
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    dc_codes = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)[1]
    ac_codes = _huffman(STD_AC_LUM_BITS, STD_AC_LUM_VALS)[1]
    bw = _BitWriter()
    preds = {0: 0, 1: 0, 2: 0}

    def block(comp, dc):
        diff = dc - preds[comp]
        preds[comp] = dc
        t = abs(diff).bit_length()
        code, ln = dc_codes[t]
        bw.write(code, ln)
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        code, ln = ac_codes[0x00]
        bw.write(code, ln)

    block(0, 15)   # Y left half
    block(0, -15)  # Y right half
    block(1, 8)    # Cb
    block(2, 0)    # Cr
    data = b"\xff\xd8" + qtab + sof + dht + sos + bw.flush() + b"\xff\xd9"
    h, w, nc, px = decode_jpeg(data)
    assert (h, w, nc) == (8, 16, 3)
    cb = 2 * 8

    def rgb(ydc):
        y = 128 + 2 * ydc
        r = round(y)
        g = round(y - 0.344136 * cb)
        b = round(y + 1.772 * cb)
        return tuple(max(0, min(255, v)) for v in (r, g, b))

    assert px[0][0] == rgb(15) and px[7][0] == rgb(15)     # left half
    assert px[0][15] == rgb(-15) and px[7][15] == rgb(-15)  # right half


# ---------------------------------------------------- property coverage
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    zz=st.lists(st.integers(min_value=-40, max_value=40), min_size=64, max_size=64),
    q=st.sampled_from([1, 2, 4, 16, 24]),
)
def test_random_coefficient_blocks_round_trip(zz, q):
    """Any quantized coefficient block must decode to the reference IDCT
    of its dequantized raster layout — randomized sweep over the whole
    run-length coding space (random zero runs, signs, magnitudes)."""
    px = decode_jpeg(_synth_gray_coef(zz, q=q))[3]
    coef = [0] * 64
    for i, c in enumerate(zz):
        coef[ZIGZAG[i]] = c * q
    assert px == _ref_idct(coef)


@settings(max_examples=25, deadline=None)
@given(
    dcs=st.lists(st.integers(min_value=-500, max_value=500), min_size=1, max_size=12),
)
def test_random_dc_sequences_chain_prediction(dcs):
    """Multi-block images with random DC sequences: every block must land
    its own flat value (prediction differences span sign changes and
    category sizes); width grows with the block count."""
    w = 8 * len(dcs)
    px = decode_jpeg(synth_dc_jpeg([list(dcs)], w, 8, q=16))[3]
    for b, dc in enumerate(dcs):
        expect = max(0, min(255, 2 * dc + 128))
        got = {px[y][x] for y in range(8) for x in range(8 * b, 8 * b + 8)}
        assert got == {expect}, (b, dc, got)


def _build_dri_stream(sep: bytes, dcs=(10, 20, 30, 40)):
    """4-MCU grayscale stream with DRI=2: two restart intervals joined by
    `sep` (the bytes standing where RST0 belongs)."""
    q = 16
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, 8, 32, 1) + bytes([1, 0x11, 0]))
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    dri = _seg(0xDD, struct.pack(">H", 2))  # restart every 2 MCUs
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dc_codes = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)[1]
    ac_codes = _huffman(STD_AC_LUM_BITS, STD_AC_LUM_VALS)[1]

    def interval(vals):
        bw = _BitWriter()
        pred = 0
        for dc in vals:
            diff = dc - pred
            pred = dc
            t = abs(diff).bit_length()
            code, ln = dc_codes[t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
            code, ln = ac_codes[0x00]
            bw.write(code, ln)
        return bw.flush()

    dcs = list(dcs)
    scan = interval(dcs[:2]) + sep + interval(dcs[2:])
    return b"\xff\xd8" + qtab + dri + sof + dht + sos + scan + b"\xff\xd9"


def test_restart_markers_reset_dc_prediction():
    """DRI + RSTn: entropy data split into restart intervals — the
    decoder must byte-align at each marker and reset the DC predictors,
    so block 3's DC is absolute, not a diff from block 2."""
    dcs = [10, 20, 30, 40]  # 4 blocks = 4 MCUs, restart after 2
    h, w, nc, px = decode_jpeg(_build_dri_stream(b"\xff\xd0", dcs))
    assert (h, w) == (8, 32)
    for b, dc in enumerate(dcs):
        assert px[0][8 * b] == 2 * dc + 128, (b, dc, px[0][8 * b])


def test_missing_rst_at_interval_boundary_raises():
    """T.81 E.1.4: with DRI active, a missing RSTn at the interval
    boundary is stream corruption — decode must fail loudly (the old
    behavior decoded on with unreset predictors: silent wrong pixels)."""
    with pytest.raises(ValueError, match="expected RST0"):
        decode_jpeg(_build_dri_stream(b""))  # no marker at all


def test_out_of_sequence_rst_raises():
    """RSTn must cycle RST0..RST7 from RST0; an out-of-sequence RST3
    where RST0 belongs indicates dropped data and must raise."""
    with pytest.raises(ValueError, match="expected RST0"):
        decode_jpeg(_build_dri_stream(b"\xff\xd3"))


def test_fill_bytes_before_rst_are_skipped():
    """B.1.1.2: 0xFF fill bytes may pad ahead of any marker, including
    RSTn inside the entropy stream."""
    dcs = [10, 20, 30, 40]
    h, w, nc, px = decode_jpeg(_build_dri_stream(b"\xff\xff\xff\xd0", dcs))
    assert (h, w) == (8, 32)
    for b, dc in enumerate(dcs):
        assert px[0][8 * b] == 2 * dc + 128, (b, dc, px[0][8 * b])


def test_fill_bytes_before_segment_marker_are_skipped():
    """B.1.1.2: fill bytes before a table/frame segment marker (here the
    DQT of a stock stream) must not be misread as marker 0xFF."""
    base = synth_dc_jpeg([[7]], 8, 8, q=16)
    at = base.index(b"\xff\xdb")
    padded = base[:at] + b"\xff\xff" + base[at:]
    assert decode_jpeg(padded) == decode_jpeg(base)


def test_corrupt_payload_classes_all_raise_valueerror():
    """Every corrupt-payload class must surface as ValueError (the
    documented data-error contract), never TypeError/KeyError/etc."""
    base = synth_dc_jpeg([[1]], 8, 8)
    # entropy stream truncated so it ends in a lone 0xFF (mid-stuffing)
    scan_at = base.index(b"\xff\xda") + 10
    lone_ff = base[:scan_at] + b"\x6a\xff"
    with pytest.raises(ValueError, match="lone trailing 0xFF|truncated"):
        decode_jpeg(lone_ff)
    # SOS layout: FF DA len(2) ns(1) cs(1) tables(1) ss se ah/al
    sos_at = base.index(b"\xff\xda")
    # scan references an undefined Huffman table id (no DHT for id 3)
    bad_tables = base[: sos_at + 6] + b"\x33" + base[sos_at + 7 :]
    with pytest.raises(ValueError):
        decode_jpeg(bad_tables)
    # scan references a component id absent from the frame
    bad_comp = base[: sos_at + 5] + b"\x09" + base[sos_at + 6 :]
    with pytest.raises(ValueError):
        decode_jpeg(bad_comp)


def test_non_interleaved_scan_raises_not_garbage():
    """A 3-component frame whose first SOS covers only component 1
    (legal non-interleaved baseline) must raise loudly — silently
    returning zero chroma planes would violate the module contract."""
    q = 16
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", 8, 8, 8, 3)
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0]),
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    sos_y_only = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dc_codes = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)[1]
    ac_codes = _huffman(STD_AC_LUM_BITS, STD_AC_LUM_VALS)[1]
    bw = _BitWriter()
    code, ln = dc_codes[0]
    bw.write(code, ln)
    code, ln = ac_codes[0x00]
    bw.write(code, ln)
    data = b"\xff\xd8" + qtab + sof + dht + sos_y_only + bw.flush() + b"\xff\xd9"
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(data)


# ---------------------- synth_ac_jpeg + Parseval bands (L5m)
def test_ac_blocks_parseval_energy_all_frequencies():
    """One AC coefficient at (0,u) must reconstruct to centered block
    energy (q*ac)^2 within the L5m band, for every u=1..7 (u=6,7 route
    through ZRL), both signs, with the DC mean riding untouched."""
    from pipelinejobs_indexer_spark.llm.jpeg import decode_jpeg, synth_ac_jpeg

    q = 16
    for u in range(1, 8):
        for ac in (6, -17, 30):
            dc = 9 if ac > 0 else -9
            _, _, _, px = decode_jpeg(synth_ac_jpeg([(dc, u, ac)], 8, 8, q=q))
            flat = [p for row in px for p in row]
            mean = sum(flat) / 64.0
            energy = sum((p - mean) ** 2 for p in flat)
            assert abs(mean - (128 + q * dc / 8.0)) <= 1.0, (u, ac)
            assert abs(energy - (q * ac) ** 2) <= 16 * q * abs(ac) + 64, (
                u, ac, energy,
            )


def test_ac_band_discriminates_adjacent_quantization_levels():
    """The certification band must be NARROWER than the energy gap to
    the next representable coefficient — a decode that lands on ac±1
    (or a ~2x energy error from a dropped C_u factor) fails the band."""
    q = 16
    for ac in (6, 12, 30):
        gap = q * q * (2 * ac - 1)  # (q*ac)^2 - (q*(ac-1))^2
        band = 16 * q * ac + 64
        assert band < gap, (ac, band, gap)


def test_ac_multiblock_dc_chain_and_errors():
    from pipelinejobs_indexer_spark.llm.jpeg import decode_jpeg, synth_ac_jpeg

    q = 16
    blocks = [(10, 1, 15), (-5, 6, -10), (3, 3, 7), (0, 7, 22)]
    _, w, _, px = decode_jpeg(synth_ac_jpeg(blocks, 32, 8, q=q))
    assert w == 32
    for b, (dc, u, ac) in enumerate(blocks):
        pix = [px[y][8 * b + x] for y in range(8) for x in range(8)]
        mean = sum(pix) / 64.0
        energy = sum((p - mean) ** 2 for p in pix)
        assert abs(mean - (128 + q * dc / 8.0)) <= 1.0, b
        assert abs(energy - (q * ac) ** 2) <= 16 * q * abs(ac) + 64, b
    import pytest

    with pytest.raises(ValueError, match="frequency index"):
        synth_ac_jpeg([(0, 8, 5)], 8, 8)
    with pytest.raises(ValueError, match="not codable"):
        synth_ac_jpeg([(0, 1, 0)], 8, 8)
    with pytest.raises(ValueError, match="blocks"):
        synth_ac_jpeg([(0, 1, 5)], 16, 8)


# ----------------------------------------------------- progressive mode
def test_progressive_dc_closed_form_and_differential():
    """SOF2: DC-only progressive (with and without successive
    approximation) equals the baseline closed form; full random
    DC+AC content equals the baseline decoder pixel-for-pixel —
    exact, no float tolerance (same coefficients, same IDCT)."""
    import random

    from pipelinejobs_indexer_spark.llm.jpeg import (
        synth_ac_jpeg,
        synth_progressive_jpeg,
    )

    dcs = [5, -10, 3, 7]
    base = decode_jpeg(synth_dc_jpeg([dcs], 16, 16, q=16))[3]
    for refine in (False, True):
        px = decode_jpeg(
            synth_progressive_jpeg([(d, 1, 0) for d in dcs], 16, 16,
                                   q=16, refine_dc=refine)
        )[3]
        assert px == base, refine
    rng = random.Random(41)
    for trial in range(25):
        blocks = [
            (rng.randrange(-20, 21), rng.randrange(1, 8),
             rng.choice([x for x in range(-40, 41) if x]))
            for _ in range(4)
        ]
        prog = decode_jpeg(
            synth_progressive_jpeg(blocks, 16, 16, q=16,
                                   refine_dc=trial % 2 == 0)
        )
        assert prog[3] == decode_jpeg(
            synth_ac_jpeg(blocks, 16, 16, q=16)
        )[3], trial


def test_progressive_ac_refinement_hand_built():
    """The AC-refinement scan algebra (T.81 G.1.2.3), hand-assembled
    bit by bit: an AC-first scan at Al=1 plants coef=2; the refinement
    scan at Al=0 corrects it to 3 AND places a newly-significant -1,
    then EOB-runs out. Expected pixels computed from the coefficient
    matrix directly — the claim under test is the scan algebra."""
    import struct as _struct

    from pipelinejobs_indexer_spark.llm.jpeg import (
        _BitWriter,
        _huffman,
        _idct_block,
    )

    q = 16
    qtab = b"\xff\xdb" + _struct.pack(">H", 67) + bytes([0]) + bytes([q] * 64)
    sof = (
        b"\xff\xc2" + _struct.pack(">H", 11)
        + _struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    )
    dc_bits = [0] * 16
    dc_bits[7] = 12
    dc_syms = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 4
    ac_syms = [0x00, 0x01, 0x11, 0xF0]
    dht = (
        b"\xff\xc4" + _struct.pack(">H", 2 + (17 + 12) + (17 + 4))
        + bytes([0x00]) + bytes(dc_bits) + bytes(dc_syms)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms)
    )
    dcc = _huffman(dc_bits, dc_syms)[1]
    acc = _huffman(ac_bits, ac_syms)[1]

    def sos(ss, se, ah, al):
        return (
            b"\xff\xda" + _struct.pack(">H", 8)
            + bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        )

    out = bytearray(b"\xff\xd8" + qtab + sof + dht)
    # scan 1: DC first, Al=0, dc = 6
    out += sos(0, 0, 0, 0)
    bw = _BitWriter()
    code, ln = dcc[3]
    bw.write(code, ln)
    bw.write(6, 3)
    out += bw.flush()
    # scan 2: AC first Ss=1..63, Al=1 — coef[zz(1)] = 1 << 1 = 2,
    # then EOB (run of 1)
    out += sos(1, 63, 0, 1)
    bw = _BitWriter()
    code, ln = acc[0x01]  # r=0, s=1
    bw.write(code, ln)
    bw.write(1, 1)  # value +1
    code, ln = acc[0x00]  # EOB
    bw.write(code, ln)
    out += bw.flush()
    # scan 3: AC refinement Ah=1, Al=0 — walk: k=1 nonzero -> correction
    # bit 1 (2 -> 3); k=2 zero-history with r=0 -> place new -1; EOB run
    out += sos(1, 63, 1, 0)
    bw = _BitWriter()
    code, ln = acc[0x01]
    bw.write(code, ln)
    bw.write(0, 1)  # sign bit: negative -> newval = -1
    bw.write(1, 1)  # correction bit for existing coef at k=1
    code, ln = acc[0x00]  # EOB run of 1: refine any remaining (none)
    bw.write(code, ln)
    out += bw.flush()
    out += b"\xff\xd9"
    h, w, nc, px = decode_jpeg(bytes(out))
    assert (h, w, nc) == (8, 8, 1)
    coef = [0] * 64
    coef[0] = 6 * q
    coef[ZIGZAG[1]] = 3 * q
    coef[ZIGZAG[2]] = -1 * q
    want = _idct_block(coef)
    assert [v for row in px for v in row] == want


def test_progressive_error_classes():
    from pipelinejobs_indexer_spark.llm.jpeg import synth_progressive_jpeg

    blocks = [(5, 1, 0)] * 4
    data = synth_progressive_jpeg(blocks, 16, 16, q=16)
    # an AC scan claiming two components is corrupt
    at = data.rindex(b"\xff\xda")
    bad = bytearray(data)
    bad[at + 4] = 2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # truncated mid-scan (the cut may land anywhere; any ValueError is
    # the contract — never wrong pixels, never a crash)
    with pytest.raises(ValueError):
        decode_jpeg(data[:-6] + b"\xff\xd9")


def test_progressive_ac_refinement_zrl_and_eobrun():
    """The two hairiest AC-refinement paths, hand-assembled: ZRL inside
    a refinement scan (skip 16 ZERO-HISTORY positions while emitting
    correction bits for nonzeros passed), a run-length symbol whose
    walk crosses a nonzero-history coefficient (correction bit mid-run,
    placement after), and an EOB run covering MULTIPLE blocks whose
    remaining in-band nonzeros get refined. Expected pixels from the
    coefficient matrix directly."""
    import struct as _struct

    from pipelinejobs_indexer_spark.llm.jpeg import (
        _BitWriter,
        _huffman,
        _idct_block,
    )

    q = 16
    qtab = b"\xff\xdb" + _struct.pack(">H", 67) + bytes([0]) + bytes([q] * 64)
    # 24x8 grayscale: three blocks in raster order
    sof = (
        b"\xff\xc2" + _struct.pack(">H", 11)
        + _struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0])
    )
    dc_bits = [0] * 16
    dc_bits[7] = 12
    dc_syms = list(range(12))
    ac_syms = [0x00, 0x01, 0x10, 0xC1, 0xF0]
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_syms)
    dht = (
        b"\xff\xc4"
        + _struct.pack(">H", 2 + (17 + 12) + (17 + len(ac_syms)))
        + bytes([0x00]) + bytes(dc_bits) + bytes(dc_syms)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms)
    )
    dcc = _huffman(dc_bits, dc_syms)[1]
    acc = _huffman(ac_bits, ac_syms)[1]

    def sos(ss, se, ah, al):
        return (
            b"\xff\xda" + _struct.pack(">H", 8)
            + bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        )

    def wsym(bw, sym):
        code, ln = acc[sym]
        bw.write(code, ln)

    out = bytearray(b"\xff\xd8" + qtab + sof + dht)
    # scan 1: DC first Al=0, dcs 4, 8, -4 (diffs 4, 4, -12)
    out += sos(0, 0, 0, 0)
    bw = _BitWriter()
    for diff in (4, 4, -12):
        t = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, ln = dcc[t]
        bw.write(code, ln)
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    out += bw.flush()
    # scan 2: AC first Ss=1..63 Al=1 — block0 gets +1@k1 and -1@k30
    # (coef values 2 and -2 after the Al shift), blocks 1-2 an EOB run
    bw = _BitWriter()
    out += sos(1, 63, 0, 1)
    wsym(bw, 0x01)           # r=0, s=1 at k=1
    bw.write(1, 1)           # +1
    wsym(bw, 0xF0)           # ZRL: 16 zeros (k=2..17)
    wsym(bw, 0xC1)           # r=12, s=1: 12 more zeros (k=18..29), k=30
    bw.write(0, 1)           # -1
    wsym(bw, 0x00)           # EOB for block 0
    wsym(bw, 0x10)           # EOBn r=1 for blocks 1-2
    bw.write(0, 1)           # extra bit: eobrun = 2
    out += bw.flush()
    # scan 3: AC refinement Ah=1 Al=0
    bw = _BitWriter()
    out += sos(1, 63, 1, 0)
    wsym(bw, 0xF0)           # ZRL in refinement
    bw.write(1, 1)           # correction for k=1: 2 -> 3
    # r=12: zero-history positions k=18..29 (11 decrements + the break
    # slot is NOT how refinement counts — the placement slot is the
    # (r+1)-th zero-history coef, so 12 skips land placement at k=31
    # after the nonzero k=30 is passed with a correction bit)
    wsym(bw, 0xC1)           # r=12, s=1
    bw.write(1, 1)           # sign: newval = +1
    bw.write(0, 1)           # correction for k=30 passed mid-run: stays -2
    wsym(bw, 0x00)           # EOB (run of 1) for block 0
    wsym(bw, 0x10)           # EOBn r=1: blocks 1-2 refined by the run
    bw.write(0, 1)
    out += bw.flush()
    out += b"\xff\xd9"
    h, w, nc, px = decode_jpeg(bytes(out))
    assert (h, w, nc) == (8, 24, 1)
    want_blocks = []
    for dc, extra in ((4, {1: 3, 30: -2, 31: 1}), (8, {}), (-4, {})):
        coef = [0] * 64
        coef[0] = dc * q
        for k, v in extra.items():
            coef[ZIGZAG[k]] = v * q
        want_blocks.append(_idct_block(coef))
    for b, want in enumerate(want_blocks):
        got = [px[y][b * 8 + x] for y in range(8) for x in range(8)]
        assert got == want, b


def test_progressive_three_component_interleaved_dc():
    """The interleaved multi-component progressive DC path (plus one
    AC band scan per component): a 3-component DC-only SOF2 stream,
    hand-assembled, must decode pixel-identical to the baseline
    3-component DC synth — the YCbCr conversion and per-component
    predictors riding the coefficient store."""
    import struct as _struct

    from pipelinejobs_indexer_spark.llm.jpeg import (
        _BitWriter,
        _huffman,
    )

    q = 16
    dcs = [[5, -7], [3, 2], [-4, 6]]  # per component, 2 blocks (16x8)
    base = decode_jpeg(synth_dc_jpeg(dcs, 16, 8, q=q))
    qtab = b"\xff\xdb" + _struct.pack(">H", 67) + bytes([0]) + bytes([q] * 64)
    sof = (
        b"\xff\xc2" + _struct.pack(">H", 17)
        + _struct.pack(">BHHB", 8, 8, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    dc_bits = [0] * 16
    dc_bits[7] = 12
    dc_syms = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 2
    ac_syms = [0x00, 0x10]
    dht = (
        b"\xff\xc4"
        + _struct.pack(">H", 2 + (17 + 12) + (17 + 2))
        + bytes([0x00]) + bytes(dc_bits) + bytes(dc_syms)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms)
    )
    dcc = _huffman(dc_bits, dc_syms)[1]
    acc = _huffman(ac_bits, ac_syms)[1]
    out = bytearray(b"\xff\xd8" + qtab + sof + dht)
    # interleaved DC-first scan over all three components, MCU order:
    # (c1,c2,c3) for block 0, then block 1 — per-component predictors
    out += (
        b"\xff\xda" + _struct.pack(">H", 12)
        + bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0])
    )
    bw = _BitWriter()
    pred = [0, 0, 0]
    for b in range(2):
        for ci in range(3):
            diff = dcs[ci][b] - pred[ci]
            pred[ci] = dcs[ci][b]
            t = diff.bit_length() if diff > 0 else (-diff).bit_length()
            code, ln = dcc[t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    out += bw.flush()
    # one AC band scan per component: all zero via an EOB run of 2
    for comp_id in (1, 2, 3):
        out += (
            b"\xff\xda" + _struct.pack(">H", 8)
            + bytes([1, comp_id, 0x00, 1, 63, 0x00])
        )
        bw = _BitWriter()
        code, ln = acc[0x10]  # EOBn r=1
        bw.write(code, ln)
        bw.write(0, 1)  # eobrun = 2 (both blocks)
        out += bw.flush()
    out += b"\xff\xd9"
    h, w, nc, px = decode_jpeg(bytes(out))
    assert (h, w, nc) == (8, 16, 3)
    assert px == base[3]
