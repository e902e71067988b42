"""webp.py (VP8L lossless) codec semantics: encode→decode round trips
over every transform / cache / LZ77 combination (hypothesis-driven),
a hand-built meta-prefix (entropy image) stream the encoder never
emits, the corrupt-container error classes, and the memory bound. The
encoder and decoder share the published bitstream constants and
bits.py's LSB-first bit I/O; the hand-authored fixtures below, packed
by a test-local writer, derive the bit layout a second time."""

from __future__ import annotations

import os
import struct
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm.bits import LsbWriter  # noqa: E402
from pipelinejobs_indexer_spark.llm.webp import (  # noqa: E402
    MAX_PIXELS,
    decode_vp8l,
    decode_webp,
    encode_webp,
)


def _rt(img: np.ndarray, **kw) -> None:
    out = decode_webp(encode_webp(img, **kw))
    assert out.dtype == np.uint8 and out.shape == img.shape
    assert np.array_equal(out, img)


def _rand(rng: np.random.RandomState, h: int, w: int) -> np.ndarray:
    return rng.randint(0, 256, (h, w, 4), dtype=np.uint8)


# ------------------------------------------------------------ round trips
def test_roundtrip_every_predictor_mode():
    rng = np.random.RandomState(7)
    img = _rand(rng, 13, 11)
    for mode in range(14):
        _rt(img, predictor_mode=mode)


def test_roundtrip_transform_combo():
    rng = np.random.RandomState(8)
    img = _rand(rng, 9, 17)
    _rt(img, predictor_mode=12, color_transform=(5, 250, 7),
        subtract_green=True, cache_bits=5)


def test_roundtrip_palette_every_bundling_width():
    rng = np.random.RandomState(9)
    for n_colors in (2, 3, 4, 5, 16, 17, 256):
        pal = rng.randint(0, 256, (n_colors, 4), dtype=np.uint8)
        img = pal[rng.randint(0, n_colors, (10, 13))]
        _rt(img, palette=True)


def test_roundtrip_lz77_and_cache_heavy():
    # long runs force backrefs (incl. the 2D-mapped distance codes for
    # row-above copies) and repeated colors force cache hits
    rng = np.random.RandomState(10)
    img = np.tile(rng.randint(0, 256, (1, 1, 4), dtype=np.uint8), (24, 24, 1))
    img[3:7, 3:7] = [9, 8, 7, 255]
    img[15:19, 15:19] = [9, 8, 7, 255]
    _rt(img, use_lz77=True, cache_bits=6)
    _rt(img, use_lz77=False, cache_bits=3)
    _rt(img, use_lz77=True, cache_bits=0)


def test_roundtrip_degenerate_shapes():
    rng = np.random.RandomState(11)
    for h, w in ((1, 1), (1, 9), (9, 1), (2, 2)):
        _rt(_rand(rng, h, w))


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
    use_lz77=st.booleans(),
    cache_bits=st.sampled_from([0, 1, 4, 11]),
    subtract_green=st.booleans(),
    predictor_mode=st.sampled_from([None, 0, 2, 5, 11, 13]),
    n_colors=st.integers(1, 5),
)
def test_roundtrip_hypothesis(
    h, w, seed, use_lz77, cache_bits, subtract_green, predictor_mode, n_colors
):
    rng = np.random.RandomState(seed)
    # low-cardinality images maximize LZ77/cache/simple-code coverage
    pal = rng.randint(0, 256, (n_colors, 4), dtype=np.uint8)
    img = pal[rng.randint(0, n_colors, (h, w))]
    _rt(img, use_lz77=use_lz77, cache_bits=cache_bits,
        subtract_green=subtract_green, predictor_mode=predictor_mode)
    if n_colors <= 4:  # and the same pixels through the palette path
        _rt(img, palette=True, use_lz77=use_lz77, cache_bits=cache_bits)


@settings(max_examples=15, deadline=None)
@given(h=st.integers(1, 10), w=st.integers(1, 10), seed=st.integers(0, 2**31 - 1))
def test_roundtrip_hypothesis_full_random(h, w, seed):
    rng = np.random.RandomState(seed)
    _rt(_rand(rng, h, w))


# --------------------------------------------- hand-built meta-prefix stream
def _simple_code(bw: LsbWriter, symbols: list[int]) -> None:
    """Emit a 1- or 2-symbol simple prefix code (spec §: simple code)."""
    bw.write(1, 1)
    bw.write(len(symbols) - 1, 1)
    s0 = symbols[0]
    if s0 > 1:
        bw.write(1, 1)
        bw.write(s0, 8)
    else:
        bw.write(0, 1)
        bw.write(s0, 1)
    if len(symbols) == 2:
        bw.write(symbols[1], 8)


def test_meta_prefix_entropy_image():
    """The decoder's one branch the encoder never emits: a meta prefix
    (entropy image) selecting different code groups per 4-px block. An
    8x4 image is built by hand: block (0,0) decodes constant pixel A via
    group 0, block (1,0) constant pixel B via group 1. Every code is a
    simple code, so each group's literals cost zero bits — exactly the
    degenerate-code semantics the spec allows."""
    w, h = 8, 4
    bw = LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta prefix present
    meta_bits = 2  # 4-px blocks -> entropy image is 2x1
    bw.write(meta_bits - 2, 3)
    # entropy image stream (sub-image): no cache; 5 simple codes; meta
    # index rides (red << 8) | green, so green carries {0, 1}
    bw.write(0, 1)  # sub-image: no color cache
    _simple_code(bw, [0, 1])  # green: two symbols -> 1 bit each
    _simple_code(bw, [0])     # red
    _simple_code(bw, [0])     # blue
    _simple_code(bw, [0])     # alpha
    _simple_code(bw, [0])     # distance
    bw.write(0, 1)  # entropy px (0,0): green symbol 0 -> group 0
    bw.write(1, 1)  # entropy px (1,0): green symbol 1 -> group 1
    # group 0: constant ARGB (255, 10, 20, 30); group 1: (255, 40, 50, 60)
    for r, g, b in ((10, 20, 30), (40, 50, 60)):
        _simple_code(bw, [g])    # green
        _simple_code(bw, [r])    # red
        _simple_code(bw, [b])    # blue
        _simple_code(bw, [255])  # alpha
        _simple_code(bw, [0])    # distance
    # 32 literal pixels: every read is zero bits (degenerate codes), the
    # group switch at x == 4 is driven purely by the entropy image
    out = decode_vp8l(bytes([0x2F]) + bw.flush())
    assert out.shape == (h, w, 4)
    assert np.array_equal(out[:, :4], np.tile([10, 20, 30, 255], (h, 4, 1)))
    assert np.array_equal(out[:, 4:], np.tile([40, 50, 60, 255], (h, 4, 1)))


# ------------------------------------------------------- corrupt containers
def _valid_webp() -> bytes:
    img = np.full((4, 4, 4), 128, dtype=np.uint8)
    return encode_webp(img)


def test_corrupt_container_classes():
    good = _valid_webp()
    with pytest.raises(ValueError, match="RIFF"):
        decode_webp(b"JUNK" + good[4:])
    with pytest.raises(ValueError, match="WebP RIFF"):
        decode_webp(good[:8] + b"WAVE" + good[12:])
    with pytest.raises(ValueError, match="RIFF size"):
        decode_webp(good[:4] + struct.pack("<I", 10**6) + good[8:])
    with pytest.raises(ValueError, match="truncated WebP chunk"):
        # inflate the VP8L chunk's declared size past the actual payload
        decode_webp(good[:16] + struct.pack("<I", len(good)) + good[20:])
    with pytest.raises(ValueError, match="no VP8L chunk"):
        decode_webp(good[:12] + b"META" + good[16:])
    with pytest.raises(ValueError, match="signature"):
        bad = bytearray(good)
        bad[20] ^= 0xFF  # VP8L payload byte 0
        decode_webp(bytes(bad))


def test_lossy_vp8_keeps_stub_contract():
    good = _valid_webp()
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_webp(good[:12] + b"VP8 " + good[16:])


def test_corrupt_bitstream_classes():
    with pytest.raises(ValueError, match="version"):
        bw = LsbWriter()
        bw.write(0, 14)
        bw.write(0, 14)
        bw.write(0, 1)
        bw.write(5, 3)  # bad version
        decode_vp8l(bytes([0x2F]) + bw.flush())
    with pytest.raises(ValueError, match="truncated"):
        decode_vp8l(bytes([0x2F, 0x00]))
    with pytest.raises(ValueError, match="duplicate VP8L transform"):
        bw = LsbWriter()
        bw.write(0, 14)
        bw.write(0, 14)
        bw.write(0, 4)
        for _ in range(2):  # subtract-green twice
            bw.write(1, 1)
            bw.write(2, 2)
        decode_vp8l(bytes([0x2F]) + bw.flush())
    with pytest.raises(ValueError, match="Kraft"):
        # normal code whose lengths are over-subscribed: three 1-bit codes
        bw = LsbWriter()
        bw.write(0, 14)  # 1x1
        bw.write(0, 14)
        bw.write(0, 4)  # alpha+version
        bw.write(0, 1)  # no transforms
        bw.write(0, 1)  # no cache
        bw.write(0, 1)  # no meta
        bw.write(0, 1)  # green: normal code
        bw.write(15, 4)  # 19 code-length slots
        # cl code: symbol 1 has length 1 -> degenerate single-symbol cl,
        # every cl read yields length 1 for all 280 symbols
        for slot in (17, 18, 0):
            bw.write(0, 3)
        bw.write(1, 3)  # slot order index 3 is symbol 1
        for _ in range(15):
            bw.write(0, 3)
        bw.write(0, 1)  # no explicit max-symbol
        decode_vp8l(bytes([0x2F]) + bw.flush())


def test_memory_bound_refused_before_allocation():
    bw = LsbWriter()
    bw.write((1 << 14) - 1, 14)  # 16384 x 16384 = 268M px > MAX_PIXELS
    bw.write((1 << 14) - 1, 14)
    bw.write(0, 4)
    with pytest.raises(ValueError, match="pixel bound"):
        decode_vp8l(bytes([0x2F]) + bw.flush())
    assert (1 << 28) > MAX_PIXELS


def test_backref_before_start_rejected():
    # hand stream: green code {256} (length sym 0 -> length 1) forces an
    # immediate backref at pos 0 -> "before image start"
    bw = LsbWriter()
    bw.write(3, 14)  # 4x1
    bw.write(0, 14)
    bw.write(0, 4)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    # green: symbol 256 (a backref) can't ride a simple code (8-bit
    # symbol field), so build the normal code lengths[0]=1, lengths[256]=1
    # through a 3-symbol code-length code {1: len 2, 17: len 1, 18: len 2}
    # (canonical: 17 -> 0, 1 -> 10, 18 -> 11; Kraft-complete)
    bw.write(0, 1)  # normal
    bw.write(15, 4)
    cl_lens = {1: 2, 17: 1, 18: 2}
    for slot in (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
                 14, 15):
        bw.write(cl_lens.get(slot, 0), 3)
    bw.write(0, 1)  # no max-symbol
    bw.write_code(0b10, 2)  # cl-symbol 1: green symbol 0 gets length 1
    # 255 zeros (green symbols 1..255): 18 (rep 138), 18 (rep 117)
    bw.write_code(0b11, 2)
    bw.write(138 - 11, 7)
    bw.write_code(0b11, 2)
    bw.write(117 - 11, 7)
    bw.write_code(0b10, 2)  # cl-symbol 1: green symbol 256 gets length 1
    # remaining symbols (257..279) zero: 18 (rep 23)
    bw.write_code(0b11, 2)
    bw.write(23 - 11, 7)
    for _ in range(4):  # red, blue, alpha, distance: single-symbol codes
        _simple_code(bw, [0])
    # pixel stream: green symbol 256 (canonical 1-bit code: sym 0 -> 0,
    # sym 256 -> 1), length prefix 0 -> length 1; distance via simple {0}
    bw.write(1, 1)
    with pytest.raises(ValueError, match="before image start"):
        decode_vp8l(bytes([0x2F]) + bw.flush())


def test_encoder_input_validation():
    rng = np.random.RandomState(1)
    with pytest.raises(ValueError, match="RGBA"):
        encode_webp(np.zeros((4, 4, 3), dtype=np.uint8))
    img = rng.randint(0, 256, (20, 20, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="256 colors"):
        encode_webp(img, palette=True)
    with pytest.raises(ValueError, match="palette excludes"):
        encode_webp(img[:2, :2], palette=True, subtract_green=True)


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 8))
def test_mutation_robustness(seed, n_flips):
    """Bit-flip fuzz: a mutated container must either decode to SOME
    image of the declared shape or raise ValueError /
    NotImplementedError — never crash, hang, or allocate unboundedly
    (the codec is driven by untrusted bytes inside a mapInPandas
    stage; an IndexError or MemoryError there kills the executor)."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (6, 7, 4), dtype=np.uint8)
    data = bytearray(encode_webp(img, use_lz77=True, cache_bits=3,
                                 subtract_green=True))
    for _ in range(n_flips):
        i = rng.randint(0, len(data))
        data[i] ^= 1 << rng.randint(0, 8)
    try:
        out = decode_webp(bytes(data))
        assert out.ndim == 3 and out.shape[2] == 4
        assert out.shape[0] * out.shape[1] <= MAX_PIXELS
    except (ValueError, NotImplementedError):
        pass


def test_decode_image_dispatches_webp():
    from pipelinejobs_indexer_spark.llm.multimodal import decode_image

    img = np.arange(64, dtype=np.uint8).reshape(4, 4, 4)
    out = decode_image(encode_webp(img), "image/webp")
    assert np.array_equal(out, img)


# --------------------------- hand-authored spec fixtures (RFC 9649)
class _LsbWriter:
    """Test-local LSB-first bit packer, written straight off RFC 9649
    §4 — deliberately NOT bits.py's LsbWriter, so these fixtures are a
    second, independent derivation of the bit layout (the container has
    no reference cwebp to generate goldens with)."""

    def __init__(self):
        self.bits = []

    def w(self, value, n):
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _vp8l_container(payload: bytes) -> bytes:
    import struct

    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _simple_code_lsb(bw, symbols):
    """RFC 9649 §5.6.1 simple code length code: 1-2 symbols."""
    bw.w(1, 1)                      # simple
    bw.w(len(symbols) - 1, 1)       # num_symbols - 1
    if symbols[0] < 2 and len(symbols) == 1:
        bw.w(0, 1)                  # first symbol fits in 1 bit
        bw.w(symbols[0], 1)
    else:
        bw.w(1, 1)                  # first symbol in 8 bits
        bw.w(symbols[0], 8)
    if len(symbols) == 2:
        bw.w(symbols[1], 8)


def test_hand_authored_1x1_fixture():
    """A 1x1 VP8L image written bit-by-bit from the RFC, never touching
    encode_webp: five single-symbol simple codes, zero pixel bits. Any
    symmetric encoder/decoder misreading of the header/code layout
    breaks this while round trips stay green."""
    from pipelinejobs_indexer_spark.llm.webp import decode_webp

    bw = _LsbWriter()
    bw.w(0, 14)   # width - 1
    bw.w(0, 14)   # height - 1
    bw.w(0, 1)    # alpha hint
    bw.w(0, 3)    # version
    bw.w(0, 1)    # no transforms
    bw.w(0, 1)    # no color cache
    bw.w(0, 1)    # no meta prefix
    _simple_code_lsb(bw, [7])     # green literal 7
    _simple_code_lsb(bw, [200])   # red 200
    _simple_code_lsb(bw, [1])     # blue 1 (1-bit form)
    _simple_code_lsb(bw, [255])   # alpha 255
    _simple_code_lsb(bw, [0])     # distance (unused but mandatory)
    img = decode_webp(_vp8l_container(b"\x2f" + bw.bytes()))
    assert img.shape == (1, 1, 4)
    assert tuple(img[0, 0]) == (200, 7, 1, 255)  # RGBA


def test_hand_authored_2x1_two_symbol_fixture():
    """2x1 with a TWO-symbol green code: pins the spec's assignment of
    1-bit codewords (first listed symbol = codeword 0) and that pixel
    bits are consumed LSB-first in raster order."""
    from pipelinejobs_indexer_spark.llm.webp import decode_webp

    bw = _LsbWriter()
    bw.w(1, 14)   # width - 1 = 1
    bw.w(0, 14)   # height - 1
    bw.w(0, 1)
    bw.w(0, 3)
    bw.w(0, 1)    # no transforms
    bw.w(0, 1)    # no cache
    bw.w(0, 1)    # no meta prefix
    _simple_code_lsb(bw, [3, 9])  # green: 3 -> codeword 0, 9 -> codeword 1
    _simple_code_lsb(bw, [10])    # red
    _simple_code_lsb(bw, [20])    # blue
    _simple_code_lsb(bw, [255])   # alpha
    _simple_code_lsb(bw, [0])     # distance
    bw.w(0, 1)    # pixel 0 green codeword -> 3
    bw.w(1, 1)    # pixel 1 green codeword -> 9
    img = decode_webp(_vp8l_container(b"\x2f" + bw.bytes()))
    assert img.shape == (1, 2, 4)
    assert tuple(img[0, 0]) == (10, 3, 20, 255)
    assert tuple(img[0, 1]) == (10, 9, 20, 255)


def test_distance_map_is_exactly_120_codes():
    """Distance codes 1..120 are mapped, >120 are linear (RFC 9649):
    a table longer than 120 makes the encoder's reverse map emit codes
    the decoder reads as tiny linear distances — the hypothesis-found
    corruption this pins (seed-25 regression below)."""
    from pipelinejobs_indexer_spark.llm.webp import _DIST_MAP

    assert len(_DIST_MAP) == 120
    # the regression image: T-predictor residuals whose repeat distance
    # (41 at width 5) was only reachable through a phantom code
    rng = np.random.RandomState(25)
    pal = rng.randint(0, 256, (4, 4), dtype=np.uint8)
    img = pal[rng.randint(0, 4, (11, 5))]
    out = decode_webp(encode_webp(img, use_lz77=True, cache_bits=0,
                                  subtract_green=False, predictor_mode=2))
    assert np.array_equal(out, img)
    # every mapped code the encoder can emit must decode to the same
    # distance it encoded, at any width
    from pipelinejobs_indexer_spark.llm.webp import _dist_code_for

    for w in (1, 2, 5, 16, 300):
        rev = {}
        for code, (dx, dy) in enumerate(_DIST_MAP, start=1):
            d = dx + dy * w
            if d >= 1 and d not in rev:
                rev[d] = code
        for d, code in rev.items():
            assert 1 <= code <= 120
            dx, dy = _DIST_MAP[code - 1]
            assert max(1, dx + dy * w) == d, (w, d, code)
