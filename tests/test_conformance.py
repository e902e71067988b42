"""Third-party codec conformance: decode bytes produced by an
INDEPENDENT encoder (the JDK's javax.imageio plugins) and compare
against the reference decode committed alongside.

A codec claim that rests only on in-repo round-trips survives a
symmetric encoder/decoder spec misreading. The fixtures under tests/fixtures/conformance/ break that
loop: scripts/conformance/GenFixtures.java encodes deterministic
images with com.sun.imageio's JPEG (baseline + progressive), PNG,
GIF, and TIFF (LZW / PackBits / Deflate / CCITT RLE / T.4 / T.6)
writers — codecs sharing no code or constants with this repo — and
commits each file with the JDK reader's decoded pixels (.pix).

Pass criteria: bit-exact for every lossless format (including all
nine CCITT fax fixtures, which externally pin the transcribed
T.4/T.6 run-length tables in fax.py); JPEG within the IDCT rounding
band (max |diff| <= 2, mean <= 0.1 — the upsampling filter now
matches libjpeg's triangle filter exactly, so only the IDCT differs).

The reverse direction is covered too: this repo's fax encoders were
cross-checked pixel-exact through the JDK decoder when the fixtures
were generated, and test_fax.py pins the encoded bytes of those
cross-checked streams.
"""

from __future__ import annotations

import json
import pathlib

import numpy as np
import pytest

from pipelinejobs_indexer_spark.llm.gif import decode_gif
from pipelinejobs_indexer_spark.llm.jpeg import decode_jpeg
from pipelinejobs_indexer_spark.llm.png import decode_png
from pipelinejobs_indexer_spark.llm.tiff import decode_tiff

FIXDIR = pathlib.Path(__file__).parent / "fixtures" / "conformance"
MANIFEST = json.loads((FIXDIR / "manifest.json").read_text())


def _load(m: dict) -> tuple[bytes, np.ndarray]:
    raw = (FIXDIR / m["file"]).read_bytes()
    if m.get("depth") == 16:
        # 16-bit dumps are big-endian 2-byte raw samples
        ref = np.frombuffer(
            (FIXDIR / m["pix"]).read_bytes(), dtype=">u2"
        ).astype(np.uint16)
    else:
        ref = np.frombuffer(
            (FIXDIR / m["pix"]).read_bytes(), dtype=np.uint8
        )
    return raw, ref.reshape(m["height"], m["width"], m["channels"])


def _decode(m: dict, raw: bytes) -> np.ndarray:
    fmt = m["format"]
    if fmt == "png":
        got = decode_png(raw)
    elif fmt == "gif":
        if m.get("page") is not None:
            # animated GIF: one manifest entry per frame
            from pipelinejobs_indexer_spark.llm.gif import (
                decode_gif_frames,
            )

            got = decode_gif_frames(raw)[m["page"]]["pixels"]
        else:
            got = decode_gif(raw)
    else:
        if m.get("page") is not None:
            # multi-page TIFF: one manifest entry per chained IFD
            from pipelinejobs_indexer_spark.llm.tiff import (
                decode_tiff_pages,
            )

            _h, _w, nc, px = decode_tiff_pages(raw)[m["page"]]
        else:
            fn = decode_jpeg if fmt == "jpeg" else decode_tiff
            _h, _w, nc, px = fn(raw)
        dt = np.uint16 if m.get("depth") == 16 else np.uint8
        if nc == 1:
            got = np.array(px, dtype=dt)[:, :, None]
        else:
            got = np.array(
                [[list(p) for p in row] for row in px], dtype=dt
            )
    if got.ndim == 2:
        got = got[:, :, None]
    return got


@pytest.mark.parametrize(
    "m", MANIFEST, ids=[m["name"] for m in MANIFEST]
)
def test_jdk_fixture_decodes(m: dict):
    raw, ref = _load(m)
    got = _decode(m, raw)
    if got.shape[2] == 1 and ref.shape[2] == 3:
        # bilevel TIFFs read back through an IndexColorModel, so the
        # JDK dump is (equal-valued) RGB; gray output compares against
        # one channel after asserting the dump really is gray
        assert (ref[:, :, 0] == ref[:, :, 1]).all()
        assert (ref[:, :, 0] == ref[:, :, 2]).all()
        ref = ref[:, :, :1]
    assert got.shape == ref.shape, m["name"]
    diff = np.abs(got.astype(int) - ref.astype(int))
    if m["lossy"]:
        assert diff.max() <= 2, (m["name"], int(diff.max()))
        assert diff.mean() <= 0.1, (m["name"], float(diff.mean()))
    else:
        assert diff.max() == 0, (
            m["name"],
            int(diff.max()),
            int((diff != 0).sum()),
        )


def test_manifest_covers_every_claimed_codec():
    """The fixture set must keep covering the conformance surface:
    losing a format from the manifest silently weakens the external
    evidence, so pin the coverage."""
    fmts = {(m["format"], m["lossy"]) for m in MANIFEST}
    assert ("png", False) in fmts
    assert ("gif", False) in fmts
    assert ("jpeg", True) in fmts
    assert ("tiff", False) in fmts
    names = {m["name"] for m in MANIFEST}
    # progressive JPEG and every TIFF codec family by name
    assert {"gray_progressive", "rgb_progressive"} <= names
    for fam in ("gray_lzw", "gray_packbits", "gray_deflate", "rgb_lzw"):
        assert fam in names, fam
    fax = {n for n in names if n.startswith("fax_")}
    assert {"fax_rle_a", "fax_g3_a", "fax_g4_a"} <= fax
    assert len(fax) >= 9  # noise + long-run + edge patterns
    # tiled layout: one fixture per codec family through tiles
    tiled = {n for n in names if "tiled" in n}
    assert {"gray_tiled_lzw", "rgb_tiled_packbits", "gray_tiled_none",
            "gray_tiled_deflate", "fax_g4_tiled", "pal4_tiled"} <= tiled
    # multi-page chain: one entry per page of one file
    assert {"multipage_p0", "multipage_p1", "multipage_p2"} <= names
    # PNG depths: 16-bit, every sub-8 depth, and palette
    assert {"gray16", "gray4", "gray2", "gray1", "pal_png"} <= names
    assert any(m.get("depth") == 16 for m in MANIFEST)
    # 16-bit TIFF and the animated-GIF frame walk
    assert {"gray16_lzw", "gray16_tiled"} <= names
    assert {"anim_p0", "anim_p1", "anim_p2"} <= names


# ----------------------------------- PDF CCITTFaxDecode, externally pinned
def _tiff_fax_info(raw: bytes) -> dict:
    """Minimal classic-TIFF IFD walk pulling the fax-relevant tags, so
    the JDK-encoded strip BYTES can be lifted out verbatim and rewrapped
    as PDF CCITTFaxDecode streams (independent of tiff.py)."""
    import struct

    bo = "<" if raw[:2] == b"II" else ">"
    (off,) = struct.unpack(bo + "I", raw[4:8])
    (n,) = struct.unpack(bo + "H", raw[off : off + 2])
    tags: dict[int, list[int]] = {}
    sizes = {1: 1, 3: 2, 4: 4}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(bo + "HHI", raw[e : e + 8])
        if typ not in sizes:
            continue
        total = sizes[typ] * cnt
        if total <= 4:
            buf = raw[e + 8 : e + 8 + total]
        else:
            (voff,) = struct.unpack(bo + "I", raw[e + 8 : e + 12])
            buf = raw[voff : voff + total]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack(bo + str(cnt) + fmt, buf))
    tiled = 324 in tags
    return {
        "width": tags[256][0],
        "height": tags[257][0],
        "compression": tags[259][0],
        "photometric": tags[262][0],
        "tiled": tiled,
        "strip_offsets": tags[324 if tiled else 273],
        "rows_per_strip": tags.get(278, [tags[257][0]])[0],
        "strip_counts": tags[325 if tiled else 279],
        "tile_width": tags.get(322, [0])[0],
        "tile_length": tags.get(323, [0])[0],
        "t4_options": tags.get(292, [0])[0],
    }


FAX_FIXTURES = [m for m in MANIFEST if m["name"].startswith("fax_")]


@pytest.mark.parametrize(
    "m", FAX_FIXTURES, ids=[m["name"] for m in FAX_FIXTURES]
)
@pytest.mark.parametrize("black_is_1", [False, True], ids=["b0", "b1"])
def test_pdf_ccittfax_decodes_jdk_strips(m: dict, black_is_1: bool):
    """The PDF /CCITTFaxDecode filter against INDEPENDENT bytes: each
    strip the JDK's TIFFFaxCompressor wrote is re-wrapped verbatim as
    a PDF image XObject (/K mapped from the TIFF compression+T4Options)
    and must decode through pdf.py to the JDK reader's own pixels.
    A misread /K dialect, EOL/tag-bit handling, BlackIs1 inversion, or
    /Decode application fails this against third-party evidence."""
    from pipelinejobs_indexer_spark.llm.pdf import (
        extract_pdf_images,
        write_pdf,
    )

    raw, ref = _load(m)
    if ref.shape[2] == 3:  # bilevel-through-IndexColorModel RGB dump
        ref = ref[:, :, :1]
    info = _tiff_fax_info(raw)
    assert info["photometric"] == 0  # WhiteIsZero: fax black = gray 0
    comp, t4 = info["compression"], info["t4_options"]
    if comp == 4:
        k, balign = -1, False
    elif comp == 3:
        k, balign = (1 if t4 & 1 else 0), bool(t4 & 4)
        if not t4 & 1:
            pytest.skip("1D G3 with EOLs covered via K=0 EOL tolerance")
    else:  # compression 2: MH, byte-aligned lines == /EncodedByteAlign
        k, balign = 0, True
    w = info["width"]
    if info["tiled"]:
        # each TILE is itself an independent full-width fax stream of
        # tile_width columns — rewrap each one, cropping the padded
        # right/bottom edges against the JDK reference
        tw, tl = info["tile_width"], info["tile_length"]
        across = (w + tw - 1) // tw
        for ti, (soff, scnt) in enumerate(
            zip(info["strip_offsets"], info["strip_counts"])
        ):
            spec = {
                "kind": "fax",
                "encoded": raw[soff : soff + scnt],
                "width": tw,
                "height": tl,
                "k": k,
                "byte_align": balign,
                "black_is_1": black_is_1,
            }
            pdf = write_pdf([["tile"]], images=[[spec]])
            im = extract_pdf_images(pdf)[0][0]
            got = np.frombuffer(im["samples"], dtype=np.uint8).reshape(
                tl, tw
            )
            x0 = (ti % across) * tw
            ty0 = (ti // across) * tl
            vw = min(tw, w - x0)
            vh = min(tl, info["height"] - ty0)
            exp = ref[ty0 : ty0 + vh, x0 : x0 + vw, 0]
            assert (got[:vh, :vw] == exp).all(), (m["name"], ti)
        return
    y0 = 0
    for soff, scnt in zip(info["strip_offsets"], info["strip_counts"]):
        rows_here = min(info["rows_per_strip"], info["height"] - y0)
        spec = {
            "kind": "fax",
            "encoded": raw[soff : soff + scnt],
            "width": w,
            "height": rows_here,
            "k": k,
            "byte_align": balign,
            "black_is_1": black_is_1,
        }
        pdf = write_pdf([["strip"]], images=[[spec]])
        im = extract_pdf_images(pdf)[0][0]
        got = np.frombuffer(im["samples"], dtype=np.uint8).reshape(
            rows_here, w
        )
        exp = ref[y0 : y0 + rows_here, :, 0]
        assert (got == exp).all(), (
            m["name"],
            y0,
            int((got != exp).sum()),
        )
        y0 += rows_here
    assert y0 == info["height"]
