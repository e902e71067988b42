"""tiff.py semantics: write→decode round trips over every codec ×
predictor × byte order × strip split × photometric combination,
PackBits vs PDF-RLE divergences (128 = no-op, not EOD), the honest
refusal scope (Group 3/4 fax, BigTIFF, sub-8-bit, palette), corrupt
containers, bit-flip robustness, the decode_image dispatch, and the
TIFF predictor 2 now real inside PDF streams."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm import multimodal  # noqa: E402
from pipelinejobs_indexer_spark.llm.tiff import (  # noqa: E402
    decode_tiff,
    packbits_decode,
    packbits_encode,
    write_tiff,
)

GRAY = [[(x * 7 + y * 3) % 251 for x in range(10)] for y in range(6)]
RGB = [
    [((x * 3) % 251, (y * 5) % 251, (x + y) % 251) for x in range(5)]
    for y in range(7)
]


def test_roundtrip_every_combination():
    for px, spp in ((GRAY, 1), (RGB, 3)):
        for comp in (1, 5, 8, 32773):
            for pred in (1, 2):
                for be in (False, True):
                    for rps in (None, 2):
                        data = write_tiff(px, spp=spp, compression=comp,
                                          predictor=pred, big_endian=be,
                                          rows_per_strip=rps)
                        h, w, nc, out = decode_tiff(data)
                        assert (h, w) == (len(px), len(px[0]))
                        assert out == px, (spp, comp, pred, be, rps)
    # WhiteIsZero photometric: stored inverted, decoded back upright
    data = write_tiff(GRAY, photometric=0, compression=5)
    assert decode_tiff(data)[3] == GRAY
    assert b"\x00\x01\x00\x01" not in data[:8]  # sanity: not double-built


def test_packbits_is_not_pdf_rle():
    # 128 is a NO-OP in PackBits (TIFF 6.0 §9); in PDF RunLengthDecode
    # it is EOD — the two schemes must not be conflated
    assert packbits_decode(b"\x80\x02abc", 3) == b"abc"
    from pipelinejobs_indexer_spark.llm.pdf import _rle_decode

    assert _rle_decode(b"\x02abc\x80") == b"abc"
    import random

    rng = random.Random(3)
    for _ in range(80):
        n = rng.randrange(0, 600)
        data = bytes(rng.choice(b"AAAB") for _ in range(n))
        assert packbits_decode(packbits_encode(data), n) == data
    with pytest.raises(ValueError, match="truncated"):
        packbits_decode(b"\x04ab", 5)


def test_honest_refusal_scope():
    data = write_tiff(GRAY)
    # Group 4 fax compression (tag 259 = 4) decodes for real —
    # but grafting it onto an 8-bit gray file is a corrupt combination
    # (fax is bilevel by definition), a loud data error
    bad = bytearray(data)
    at = data.index((259).to_bytes(2, "little"))
    bad[at + 8] = 4
    with pytest.raises(ValueError, match="bilevel"):
        decode_tiff(bytes(bad))
    # BigTIFF is REAL now — but a classic body grafted behind a
    # BigTIFF magic has a malformed offset-size header
    with pytest.raises(ValueError, match="BigTIFF|offset size|IFD"):
        decode_tiff(b"II\x2b\x00" + data[4:])
    # 16-bit decodes for real — but stamping depth 16 onto an
    # 8-bit body halves the strip, a loud size error; 32-bit floats
    # stay a genuine refusal
    bad = bytearray(data)
    at = data.index((258).to_bytes(2, "little"))
    bad[at + 8] = 16
    with pytest.raises(ValueError, match="bytes|strip"):
        decode_tiff(bytes(bad))
    bad[at + 8] = 32
    with pytest.raises(NotImplementedError, match="bit"):
        decode_tiff(bytes(bad))
    # palette photometric is REAL now — but claiming it without a
    # ColorMap is corruption
    bad = bytearray(data)
    at = data.index((262).to_bytes(2, "little"))
    bad[at + 8] = 3
    with pytest.raises(ValueError, match="ColorMap"):
        decode_tiff(bytes(bad))
    # separation photometric stays a refusal
    bad[at + 8] = 5
    with pytest.raises(NotImplementedError, match="Photometric"):
        decode_tiff(bytes(bad))
    # corrupt: not a TIFF at all
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"GIF89a")
    # strip byte-count pointing past the file
    bad = write_tiff(GRAY, compression=1)
    with pytest.raises(ValueError, match="strip|bytes"):
        decode_tiff(bad[:-10])


def test_mutation_robustness_tiff():
    import random

    rng = random.Random(17)
    clean = write_tiff(GRAY, compression=5, predictor=2, rows_per_strip=2)
    for trial in range(300):
        data = bytearray(clean)
        for _ in range(1 + trial % 6):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        try:
            h, w, nc, px = decode_tiff(bytes(data))
            assert h * w * nc <= 1 << 26
        except (ValueError, NotImplementedError):
            pass


def test_decode_image_dispatch():
    out = multimodal.decode_image(write_tiff(GRAY, big_endian=True),
                                  "image/tiff")
    assert out[3] == GRAY
    # magic-sniffed without the MIME hint too
    out = multimodal.decode_image(write_tiff(RGB, spp=3), "")
    assert out[3] == RGB


def test_pdf_tiff_predictor2_real():
    """LZWDecode + /Predictor 2 inside a PDF image stream — the
    refusal this module's horizontal differencing closed."""
    from pipelinejobs_indexer_spark.llm.pdf import (
        _lzw_encode,
        extract_pdf_images,
        write_pdf,
    )

    gray = bytes((i * 7 + 3) % 251 for i in range(64))
    rows = bytearray(gray)
    for r0 in range(0, 64, 8):
        for i in range(7, 0, -1):
            rows[r0 + i] = (rows[r0 + i] - rows[r0 + i - 1]) & 0xFF
    body = _lzw_encode(bytes(rows))
    pdf = write_pdf(
        [["x"]],
        images=[[{"kind": "raw", "pixels": gray, "width": 8, "height": 8,
                  "ncomp": 1, "filter": None}]],
        compress=False,
    )
    old = b"/Length 64 >>\nstream\n" + gray
    new = (
        b"/Length " + str(len(body)).encode()
        + b" /Filter /LZWDecode /DecodeParms << /Predictor 2 /Columns 8 >>"
        b" >>\nstream\n" + body
    )
    assert old in pdf
    out = extract_pdf_images(pdf.replace(old, new))
    assert out[0][0]["samples"] == gray


def test_jpeg_in_tiff():
    """New-style JPEG-in-TIFF (compression 7): each strip is a complete
    JPEG interchange stream — hand-spliced here since write_tiff has no
    general JPEG encoder; both baseline and PROGRESSIVE strips decode,
    and geometry mismatches are loud."""
    import struct

    from pipelinejobs_indexer_spark.llm.jpeg import (
        synth_dc_jpeg,
        synth_progressive_jpeg,
    )

    dcs = [5, -10, 3, 7]
    want = [[2 * dcs[(y // 8) * 2 + (x // 8)] + 128 for x in range(16)]
            for y in range(16)]
    for jpg in (
        synth_dc_jpeg([dcs], 16, 16, q=16),
        synth_progressive_jpeg([(d, 1, 0) for d in dcs], 16, 16, q=16,
                               refine_dc=True),
    ):
        base = write_tiff(
            [[0] * 16 for _ in range(16)], compression=1
        )
        # patch: compression 1 -> 7, swap the strip, fix its byte count
        at = base.index((259).to_bytes(2, "little"))
        patched = bytearray(base)
        patched[at + 8] = 7
        strip_at = len(base) - 256  # strip data is the file's tail
        # strip byte count tag (279, LONG)
        cat = bytes(patched).index((279).to_bytes(2, "little"))
        patched[cat + 8 : cat + 12] = struct.pack("<I", len(jpg))
        data = bytes(patched[:strip_at]) + jpg + bytes(
            patched[strip_at + 256 :]
        )
        h, w, nc, px = decode_tiff(data)
        assert (h, w, nc) == (16, 16, 1)
        assert px == want
    # geometry mismatch: an 8x8 JPEG in a 16x16 strip is corruption
    small = synth_dc_jpeg([[5]], 8, 8, q=16)
    data2 = bytes(patched[:strip_at]) + small + bytes(
        patched[strip_at + 256 :]
    )
    data2 = bytearray(data2)
    cat = bytes(data2).index((279).to_bytes(2, "little"))
    data2[cat + 8 : cat + 12] = struct.pack("<I", len(small))
    with pytest.raises(ValueError, match="geometry"):
        decode_tiff(bytes(data2))


def test_palette_tiff():
    """Photometric 3 palette-color: the ColorMap is file data (16-bit
    triplets scaled to 8), with 8-bit indices and 4-bit packed indices
    (high nibble first, odd widths byte-padded)."""
    pal8 = [((i * 5) % 251, (i * 7) % 251, (i * 11) % 251)
            for i in range(256)]
    pal4 = pal8[:16]
    idx8 = [[(x * 3 + y * 5) % 256 for x in range(9)] for y in range(5)]
    idx4 = [[(x + y) % 16 for x in range(7)] for y in range(4)]
    for be in (False, True):
        for comp in (1, 5, 8, 32773):
            h, w, nc, px = decode_tiff(
                write_tiff(idx8, palette=pal8, compression=comp,
                           big_endian=be)
            )
            assert nc == 3
            assert px == [[pal8[i] for i in row] for row in idx8]
            h, w, nc, px = decode_tiff(
                write_tiff(idx4, palette=pal4, bits=4, compression=comp,
                           big_endian=be)
            )
            assert (h, w) == (4, 7)
            assert px == [[pal4[i] for i in row] for row in idx4]
    # 2-bit and 1-bit palette indices decode honestly (the 4-bit
    # unpack generalized); the write
    # side packs with the same MSB-first machinery
    pal2 = pal8[:4]
    idx2 = [[(x + 2 * y) % 4 for x in range(9)] for y in range(5)]
    pal1 = pal8[:2]
    idx1 = [[(x + y) % 2 for x in range(11)] for y in range(3)]
    for be in (False, True):
        for comp in (1, 5, 8, 32773):
            h, w, nc, px = decode_tiff(
                write_tiff(idx2, palette=pal2, bits=2, compression=comp,
                           big_endian=be, rows_per_strip=2)
            )
            assert (h, w, nc) == (5, 9, 3)
            assert px == [[pal2[i] for i in row] for row in idx2]
            h, w, nc, px = decode_tiff(
                write_tiff(idx1, palette=pal1, bits=1, compression=comp,
                           big_endian=be)
            )
            assert (h, w, nc) == (3, 11, 3)
            assert px == [[pal1[i] for i in row] for row in idx1]
    # a declared index depth outside 1/2/4/8 is malformed, loud
    data = write_tiff(idx4, palette=pal4, bits=4)
    at = data.index((258).to_bytes(2, "little"))
    bad = bytearray(data)
    bad[at + 8] = 3
    with pytest.raises(ValueError, match="palette"):
        decode_tiff(bytes(bad))


def test_bigtiff_roundtrip():
    """BigTIFF (magic 43): 8-byte offsets, 20-byte IFD entries, inline
    fields holding up to two LONGs — every codec x endianness x strip
    split again under the big container."""
    pal4 = [((i * 5) % 251, (i * 7) % 251, (i * 11) % 251)
            for i in range(16)]
    idx4 = [[(x + y) % 16 for x in range(7)] for y in range(4)]
    for be in (False, True):
        for comp in (1, 5, 8, 32773):
            for rps in (None, 2):
                d = write_tiff(GRAY, compression=comp, big_endian=be,
                               big=True, rows_per_strip=rps)
                assert d[2:4] in (b"\x2b\x00", b"\x00\x2b")
                assert decode_tiff(d)[3] == GRAY, (be, comp, rps)
                d = write_tiff(idx4, palette=pal4, bits=4, compression=comp,
                               big_endian=be, big=True, rows_per_strip=rps)
                assert decode_tiff(d)[3] == [
                    [pal4[i] for i in r] for r in idx4
                ], (be, comp, rps)
    # implausible entry counts are loud, not allocation bombs
    import struct

    hdr = b"II" + struct.pack("<HHHQ", 43, 8, 0, 16)
    with pytest.raises(ValueError, match="entry count"):
        decode_tiff(hdr + struct.pack("<Q", 1 << 40))


# ----------------------------------------------------- tiled layout (§15)
def _tile_gray(w: int, h: int, seed: int) -> list[list[int]]:
    return [[(x * 5 + y * 11 + seed) % 256 for x in range(w)]
            for y in range(h)]


@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
@pytest.mark.parametrize("tile", [(16, 16), (32, 16), (48, 32)])
def test_tiled_gray_round_trip(comp: int, tile: tuple[int, int]):
    """Tiled layout: every byte codec through a tile grid whose edge
    tiles are padded-then-cropped (70x45 is never tile-aligned)."""
    px = _tile_gray(70, 45, comp)
    t = write_tiff(px, compression=comp, tile_size=tile)
    h, w, nc, out = decode_tiff(t)
    assert (h, w, nc) == (45, 70, 1)
    assert out == px


def test_tiled_predictor_resets_per_tile():
    """Horizontal differencing resets at tile boundaries (per-tile
    width): a strip-shaped predictor pass over tiled data would smear
    across the seam."""
    px = _tile_gray(70, 45, 3)
    t = write_tiff(px, compression=5, predictor=2, tile_size=(32, 16))
    assert decode_tiff(t)[3] == px


def test_tiled_rgb_and_palette():
    rgb = [[((x * 7) % 256, (y * 13) % 256, (x * 3 + y * 5) % 256)
            for x in range(40)] for y in range(30)]
    t = write_tiff(rgb, spp=3, compression=32773, tile_size=(16, 16))
    h, w, nc, out = decode_tiff(t)
    assert (h, w, nc) == (30, 40, 3)
    assert [[tuple(p) for p in row] for row in out] == rgb
    pal = [(i * 13 % 256, (200 - i * 9) % 256, i * 23 % 256)
           for i in range(16)]
    idx = [[(x + y * 3) % 16 for x in range(30)] for y in range(20)]
    t = write_tiff(idx, compression=5, palette=pal, bits=4,
                   tile_size=(16, 16))
    h, w, nc, out = decode_tiff(t)
    assert (h, w, nc) == (20, 30, 3)
    assert [[tuple(p) for p in row] for row in out] == [
        [pal[v] for v in row] for row in idx
    ]


@pytest.mark.parametrize("comp,two_d", [(2, False), (3, False),
                                        (3, True), (4, False)])
def test_tiled_fax_round_trip(comp: int, two_d: bool):
    """CCITT codecs inside tiles: the reference line resets per tile."""
    px = [[1 if (x * 3 + y * 5 + comp) % 7 < 3 else 0 for x in range(70)]
          for y in range(45)]
    t = write_tiff(px, compression=comp, t4_two_d=two_d,
                   tile_size=(32, 16))
    h, w, nc, out = decode_tiff(t)
    assert (h, w, nc) == (45, 70, 1)
    assert out == [[0 if v else 255 for v in row] for row in px]


def test_tiled_errors():
    px = _tile_gray(32, 32, 1)
    with pytest.raises(ValueError, match="multiples of 16"):
        write_tiff(px, tile_size=(20, 16))
    t = bytearray(write_tiff(px, compression=1, tile_size=(16, 16)))
    # corrupt the tile grid: drop TileByteCounts by rewriting tag 325
    # count to 3 (grid needs 4) — decode must reject, not mis-composite
    import struct

    (off,) = struct.unpack("<I", t[4:8])
    (n,) = struct.unpack("<H", t[off:off + 2])
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ = struct.unpack("<HH", t[e:e + 4])
        if tag == 324:
            t[e + 4:e + 8] = struct.pack("<I", 3)
    with pytest.raises(ValueError):
        decode_tiff(bytes(t))


def test_planar_configuration_2_refused():
    px = _tile_gray(16, 8, 2)
    t = bytearray(write_tiff(px))
    import struct

    # append is hard; instead rewrite an existing tag number we do not
    # read (296 ResolutionUnit is absent, so overwrite TAG 277 SPP is
    # read) — simplest honest check: splice tag 284=2 by rewriting the
    # T6Options-free slot is fragile, so just assert the decoder reads
    # tag 284 when present via a hand-built minimal TIFF
    hdr = struct.pack("<2sHI", b"II", 42, 8)
    entries = []
    def ent(tag, typ, cnt, val):
        entries.append(struct.pack("<HHI", tag, typ, cnt)
                       + struct.pack("<I", val))
    ent(256, 3, 1, 4); ent(257, 3, 1, 2); ent(258, 3, 1, 8)
    ent(259, 3, 1, 1); ent(262, 3, 1, 1)
    ent(273, 4, 1, 0); ent(277, 3, 1, 1); ent(278, 3, 1, 2)
    ent(279, 4, 1, 8); ent(284, 3, 1, 2)
    ifd = struct.pack("<H", len(entries)) + b"".join(entries) + b"\0" * 4
    body = bytes(range(8))
    data = bytearray(hdr + ifd + body)
    data_off = len(hdr) + len(ifd)
    # patch strip offset (tag 273 value) to the real body position
    for i in range(len(entries)):
        e = 8 + 2 + 12 * i
        tag, = struct.unpack_from("<H", data, e)
        if tag == 273:
            struct.pack_into("<I", data, e + 8, data_off)
    with pytest.raises(NotImplementedError, match="planar"):
        decode_tiff(bytes(data))


# ------------------------------------------- sub-8-bit gray + FillOrder
@pytest.mark.parametrize("gbits", [2, 4])
@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
def test_sub8_gray_round_trip(gbits: int, comp: int):
    """2/4-bit grayscale: bit-packed rows unpack with the same nibble
    machinery the JDK palette fixtures pin, scaled by the exact-integer
    linear mapping (x85 / x17)."""
    mx = (1 << gbits) - 1
    px = [[(x + y * 3) % (mx + 1) for x in range(37)] for y in range(18)]
    t = write_tiff(px, compression=comp, bits=gbits)
    h, w, nc, out = decode_tiff(t)
    scale = 255 // mx
    assert (h, w, nc) == (18, 37, 1)
    assert out == [[v * scale for v in row] for row in px]


def test_sub8_gray_tiled_round_trip():
    px = [[(x * 2 + y) % 16 for x in range(37)] for y in range(18)]
    t = write_tiff(px, compression=5, bits=4, tile_size=(16, 16))
    assert decode_tiff(t)[3] == [[v * 17 for v in row] for row in px]


def test_sub8_gray_pinned_packing():
    """Hand-checked packing: 4-bit row [1, 2, 3] -> 0x12 0x30 (MSB
    first, byte-padded), decoding to 17/34/51."""
    t = write_tiff([[1, 2, 3]], bits=4)
    soff = t.find(b"\x12\x30")
    assert soff != -1
    assert decode_tiff(t)[3] == [[17, 34, 51]]


def _retag_fillorder2(raw: bytes) -> bytes:
    """Bit-reverse the (single) strip of a classic TIFF and stamp
    FillOrder 2 over a sacrificial resolution tag — the transform that
    DEFINES FillOrder, applied to independent JDK bytes."""
    import struct

    data = bytearray(raw)
    bo = "<" if data[:2] == b"II" else ">"
    (off,) = struct.unpack_from(bo + "I", data, 4)
    (cnt,) = struct.unpack_from(bo + "H", data, off)
    tags = {}
    for i in range(cnt):
        e = off + 2 + 12 * i
        (tag,) = struct.unpack_from(bo + "H", data, e)
        tags[tag] = e

    def val(tag):
        e = tags[tag]
        (typ,) = struct.unpack_from(bo + "H", data, e + 2)
        fmt = {3: "H", 4: "I"}[typ]
        return struct.unpack_from(bo + fmt, data, e + 8)[0]

    assert len(struct.unpack_from(
        bo + "I", data, tags[273] + 4)) == 1  # single strip
    soff, scnt = val(273), val(279)
    rev = bytes(int(f"{b:08b}"[::-1], 2) for b in data[soff : soff + scnt])
    data[soff : soff + scnt] = rev
    victim = next(t for t in (296, 282, 283) if t in tags)
    e = tags[victim]
    struct.pack_into(bo + "HHI", data, e, 266, 3, 1)
    struct.pack_into(bo + "H", data, e + 8, 2)
    return bytes(data)


def test_fillorder2_fax_decodes_jdk_pixels():
    """FillOrder 2 (fax-hardware bit order): a JDK G4 fixture with its
    strip bit-reversed and tag 266=2 stamped must decode to the JDK
    reference pixels — and the unreversed data under FillOrder 2 must
    fail loudly, proving the reversal is actually applied."""
    import json
    import pathlib

    import numpy as np

    fixd = pathlib.Path(__file__).parent / "fixtures" / "conformance"
    m = next(x for x in json.loads((fixd / "manifest.json").read_text())
             if x["name"] == "fax_g4_a")
    raw = (fixd / m["file"]).read_bytes()
    ref = np.frombuffer((fixd / m["pix"]).read_bytes(), dtype=np.uint8)
    ref = ref.reshape(m["height"], m["width"], m["channels"])[:, :, 0]
    flipped = _retag_fillorder2(raw)
    h, w, nc, px = decode_tiff(flipped)
    assert (np.array(px, dtype=np.uint8) == ref).all()


def test_fillorder2_refused_on_byte_codecs():
    px = [[(x + y) % 256 for x in range(16)] for y in range(8)]
    t = bytearray(write_tiff(px, compression=5))
    import struct

    (off,) = struct.unpack_from("<I", t, 4)
    (cnt,) = struct.unpack_from("<H", t, off)
    # overwrite the first tag (256 Width) is destructive; instead abuse
    # T6Options-free slot: rewrite tag 259's neighbor is fragile — add
    # FillOrder by retagging PREDICTOR-absent files is impossible here,
    # so rewrite tag 277 (SPP, default 1) into FillOrder 2
    for i in range(cnt):
        e = off + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", t, e)
        if tag == 277:
            struct.pack_into("<HHI", t, e, 266, 3, 1)
            struct.pack_into("<H", t, e + 8, 2)
    with pytest.raises(NotImplementedError, match="FillOrder 2"):
        decode_tiff(bytes(t))


# ------------------------------------------------- multi-page IFD chain
def test_multipage_round_trip():
    """One IFD per page chained by the next-IFD pointer; pages carry
    independent codecs, layouts, and geometry."""
    from pipelinejobs_indexer_spark.llm.tiff import (
        decode_tiff_pages,
        write_tiff_multi,
    )

    g1 = [[(x * 5 + y * 11) % 256 for x in range(30)] for y in range(14)]
    g2 = [[(x + y * 3) % 256 for x in range(22)] for y in range(9)]
    fx = [[1 if (x + y) % 3 == 0 else 0 for x in range(40)]
          for y in range(20)]
    t = write_tiff_multi(
        [g1, g2, fx],
        page_opts=[
            {"compression": 5, "rows_per_strip": 4},
            {"compression": 32773, "tile_size": (16, 16)},
            {"compression": 4},
        ],
    )
    pages = decode_tiff_pages(t)
    assert len(pages) == 3
    assert pages[0][3] == g1
    assert pages[1][3] == g2
    assert pages[2][3] == [[0 if v else 255 for v in row] for row in fx]
    # decode_tiff still reads the FIRST page (back-compat surface)
    assert decode_tiff(t)[3] == g1


def test_multipage_cycle_guard():
    """A next-IFD pointer looping back to a seen IFD is corruption,
    not an infinite walk."""
    import struct

    from pipelinejobs_indexer_spark.llm.tiff import (
        decode_tiff_pages,
        write_tiff_multi,
    )

    g = [[(x + y) % 256 for x in range(16)] for y in range(8)]
    t = bytearray(write_tiff_multi([g, g]))
    # point page 2's next-IFD pointer back at page 1's IFD (offset 8)
    (off,) = struct.unpack_from("<I", t, 4)
    (n,) = struct.unpack_from("<H", t, off)
    (second,) = struct.unpack_from("<I", t, off + 2 + 12 * n)
    (n2,) = struct.unpack_from("<H", t, second)
    struct.pack_into("<I", t, second + 2 + 12 * n2, off)
    with pytest.raises(ValueError, match="cycle"):
        decode_tiff_pages(bytes(t))


def test_multipage_jdk_fixture_all_pages():
    """The JDK writeToSequence fixture: every chained page decodes
    bit-exactly (covered per page by the manifest sweep; this pins the
    page COUNT so a broken chain walk cannot silently drop pages)."""
    import pathlib

    from pipelinejobs_indexer_spark.llm.tiff import decode_tiff_pages

    raw = (pathlib.Path(__file__).parent / "fixtures" / "conformance"
           / "multipage.tif").read_bytes()
    assert len(decode_tiff_pages(raw)) == 3


@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
@pytest.mark.parametrize("tile", [None, (16, 16)])
def test_gray16_round_trip(comp: int, tile):
    """16-bit grayscale: 2-byte samples in the file byte order, strips
    or tiles, returned as 0..65535 ints. External pins: the JDK
    gray16_lzw/gray16_tiled fixtures in test_conformance.py."""
    px = [[(x * 2531 + y * 977 + comp) % 65536 for x in range(25)]
          for y in range(11)]
    for be in (False, True):
        t = write_tiff(px, bits=16, compression=comp, tile_size=tile,
                       big_endian=be)
        h, w, nc, out = decode_tiff(t)
        assert (h, w, nc) == (11, 25, 1)
        assert out == px


def test_sampleformat_and_orientation_guards():
    """SampleFormat != 1 (signed/float) and Orientation != 1
    (flipped/rotated) must refuse loudly — reading either as plain
    unsigned raster order would silently corrupt pixels."""
    import struct

    base = write_tiff(GRAY)
    for tag, val in ((339, 2), (339, 3), (274, 6)):
        data = bytearray(base)
        # sacrifice the SPP tag slot (277, value 1 == its default)
        at = base.index((277).to_bytes(2, "little"))
        struct.pack_into("<HHI", data, at, tag, 3, 1)
        struct.pack_into("<H", data, at + 8, val)
        with pytest.raises(NotImplementedError,
                           match="SampleFormat|Orientation"):
            decode_tiff(bytes(data))
    # the JDK 16-bit fixture declares SampleFormat 1 explicitly and
    # must keep decoding
    import pathlib

    raw = (pathlib.Path(__file__).parent / "fixtures" / "conformance"
           / "gray16_lzw.tif").read_bytes()
    assert decode_tiff(raw)[0] == 11


def test_palette_roundtrip_hypothesis():
    """Property: for any index depth in {1, 2, 4, 8}, geometry, codec,
    and byte order, write_tiff -> decode_tiff returns exactly the
    palette-mapped pixels (one MSB-first pack/unpack serves
    every depth; this fuzzes the width-padding edge the fixed-geometry
    tests cannot)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        bits=st.sampled_from([1, 2, 4, 8]),
        w=st.integers(1, 19),
        h=st.integers(1, 7),
        comp=st.sampled_from([1, 5, 8, 32773]),
        be=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def run(bits, w, h, comp, be, seed):
        n = 1 << bits
        pal = [((i * 5 + seed) % 251, (i * 7) % 251, (i * 11) % 251)
               for i in range(n)]
        idx = [[(seed + x * 3 + y * 5) % n for x in range(w)]
               for y in range(h)]
        got = decode_tiff(
            write_tiff(idx, palette=pal, bits=bits, compression=comp,
                       big_endian=be)
        )
        assert got == (h, w, 3, [[pal[i] for i in row] for row in idx])

    run()


def test_pal4_predictor_refused():
    """LZW + predictor 2 on 4-bit palette indices was
    neither applied nor refused — the nibble path skipped _undiff in
    both layouts, silently decoding wrong pixels. Must refuse loudly
    like the sub-8 grayscale branch (pal-8 applies the predictor)."""
    pal4 = [((i * 5) % 251, (i * 7) % 251, (i * 11) % 251)
            for i in range(16)]
    idx4 = [[(x + y) % 16 for x in range(7)] for y in range(4)]
    data = write_tiff(idx4, palette=pal4, bits=4, compression=5,
                      predictor=2)
    with pytest.raises(NotImplementedError, match="4-bit palette"):
        decode_tiff(data)


def test_dangling_next_ifd_pointer_is_loud():
    """A nonzero next-IFD pointer landing beyond the file
    is a truncated page chain — decode_tiff_pages must raise, not
    silently return fewer pages."""
    import struct

    import pytest

    from pipelinejobs_indexer_spark.llm.tiff import decode_tiff_pages

    data = write_tiff(GRAY)
    # the last 4 bytes of the first (only) IFD hold the next-IFD
    # pointer (0); aim it past EOF
    (ifd_off,) = struct.unpack_from("<I", data, 4)
    (n_entries,) = struct.unpack_from("<H", data, ifd_off)
    next_pos = ifd_off + 2 + 12 * n_entries
    bad = bytearray(data)
    struct.pack_into("<I", bad, next_pos, len(data) + 100)
    with pytest.raises(ValueError, match="next-IFD"):
        decode_tiff_pages(bytes(bad))
