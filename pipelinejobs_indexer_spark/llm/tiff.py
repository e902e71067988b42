"""Baseline TIFF (TIFF 6.0) decoder — pure stdlib.

TIFF is the scanned-document archive format a corpus ingest meets right
after PDF, and its baseline feature set is honest integer work: the
container is a tag-directory walk (both byte orders), the codecs are
ones this repo already proved — TIFF LZW is byte-identical to PDF
LZWDecode (pdf.py, MSB-first 9→12-bit codes, EarlyChange) — plus
PackBits (TIFF 6.0 §9: the Apple run-length scheme, NOT the PDF
RunLengthDecode — 128 is a no-op here, not EOD), and the horizontal
differencing predictor (tag 317 = 2) is a per-row prefix sum.

Scope: classic TIFF AND BigTIFF (magic 43: 8-byte offsets, 20-byte
IFD entries, LONG8 fields — the container modern large scans ship
in), II and MM byte orders, the first IFD (decode_tiff) or the WHOLE
multi-page IFD chain (decode_tiff_pages — one IFD per page
chained by the next-IFD pointer, cycle-guarded, the shape of
multi-page scans and fax documents; writer mate write_tiff_multi);
8-bit samples, PhotometricInterpretation 0/1 (grayscale, WhiteIsZero
inverted to BlackIsZero on output) and 2 (RGB); Compression 1 (none),
5 (LZW), 7 (new-style JPEG-in-TIFF — each strip a complete JPEG
interchange stream through jpeg.py, baseline or progressive),
8 (Adobe Deflate, zlib strips), 32773 (PackBits); Predictor 1/2;
single or multiple strips (RowsPerStrip); PhotometricInterpretation 3
palette-color with 8/4/2/1-bit indices (the ColorMap is FILE
data — 3*2^bits 16-bit entries — so no unrecallable constants are
involved; sub-8 rows unpack MSB-first with byte padding, one loop
for every depth);
Compression 2/3/4 (CCITT RLE / Group 3 T.4 / Group 4 T.6 bilevel fax,
fax.py — the transcribed run-length tables are
pinned EXTERNALLY by JDK-encoded conformance fixtures under
tests/fixtures/conformance/, decoded bit-exactly in both directions);
Compression 32946 (the pre-Adobe Deflate code, aliased to 8);
and the TILED layout (TIFF 6.0 §15 — TileWidth/TileLength/
TileOffsets/TileByteCounts, the organization pyramidal and
GeoTIFF-style scans use): every codec above applies per tile, edge
tiles are padded-then-cropped, and predictors/bit-packing reset at
tile boundaries (per-tile width, not image width).
Also in scope: 16-BIT GRAYSCALE (2-byte samples in the
file byte order, returned as 0..65535 ints — scientific/medical
scans; strips or tiles, every byte codec, pinned by the JDK
gray16_lzw/gray16_tiled fixtures); sub-8-bit GRAYSCALE (2/4-bit bit-packed
rows — the nibble unpack is the same machinery the externally-pinned
4-bit palette fixtures exercise; samples scale by the exact-integer
linear mapping 255/(2^bits - 1)) and FillOrder 2 (bits reversed
within bytes — what fax hardware emits; byte-wise bit reversal is
computed, applied to coded fax data and uncompressed bit-packed rows,
refused under byte-oriented codecs where it would corrupt samples).
Out of honest scope (documented raises): separation/YCbCr
photometrics, planar configuration 2, T.4/T.6 uncompressed mode.

The spec-subset writer (write_tiff) exists so round trips cross-check
independently-written paths, the png.py/gif.py discipline; strip
splitting, both endiannesses, and every codec/predictor combination
are exercised against closed-form pixels in tests and the
llm_multimodal_tiff oracle.

Reference parity: the reference pipeline stores uploaded scans as
opaque blobs (SD2E/pipelinejobs-indexer catalogs files, never reads
pixels); this module is part of the multimodal ingest surface a
training-data pipeline adds on top.
"""

from __future__ import annotations

import struct

from .bits import MsbWriter, packbits_encode
from .pdf import MAX_TEXT_BYTES, _lzw_decode, _lzw_encode

II, MM = b"II", b"MM"

TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SPP = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_T4_OPTIONS = 292
TAG_T6_OPTIONS = 293
TAG_PREDICTOR = 317
TAG_COLORMAP = 320
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 16: 8}  # + LONG8 (BigTIFF)

#: byte-wise bit reversal for FillOrder 2 (computed, not transcribed)
_BITREV = bytes(int(f"{i:08b}"[::-1], 2) for i in range(256))


def packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 PackBits: n in 0..127 copies n+1 literal bytes,
    n in 129..255 (two's-complement -1..-127) repeats the next byte
    1-n times, n == 128 is a no-op. Decoding stops when the expected
    strip size is reached; running out of input first is corruption."""
    out = bytearray()
    pos = 0
    while len(out) < expected:
        if pos >= len(data):
            raise ValueError("truncated PackBits strip")
        n = data[pos]
        pos += 1
        if n == 128:
            continue
        if n < 128:
            chunk = data[pos : pos + n + 1]
            if len(chunk) < n + 1:
                raise ValueError("truncated PackBits literal run")
            out += chunk
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits strip decodes to {len(out)} bytes, expected {expected}"
        )
    return bytes(out)


def _undiff(row: bytearray, spp: int) -> None:
    """Reverse horizontal differencing (predictor 2) in place."""
    for i in range(spp, len(row)):
        row[i] = (row[i] + row[i - spp]) & 0xFF


def _pack_gray(row, width: int, gbits: int) -> bytes:
    """Pack one row of raw sub-8-bit gray samples (0..2^gbits-1) into
    MSB-first groups, byte-padded — the writer-side mate of
    _unpack_gray."""
    w = MsbWriter()
    for x in range(width):
        w.write(row[x], gbits)
    return w.flush()


def _unpack_idx(row: bytes, width: int, ibits: int) -> list[int]:
    """Expand one bit-packed palette-index row (MSB-first groups of
    ibits, byte-padded) to RAW indices — the unscaled mate of
    :func:`_unpack_gray` (indices address the ColorMap; scaling them
    would be wrong). One loop serves 1/2/4-bit alike."""
    mask = (1 << ibits) - 1
    idxs: list[int] = []
    for b in row:
        for k in range(8 - ibits, -1, -ibits):
            idxs.append((b >> k) & mask)
    return idxs[:width]


def _unpack_gray(row: bytes, width: int, gbits: int) -> bytearray:
    """Expand one bit-packed grayscale row (MSB-first groups of gbits,
    byte-padded) to 8-bit samples scaled by the linear full-range
    mapping 255/(2^gbits - 1) — the scaled mate of :func:`_unpack_idx`,
    sharing its unpack loop."""
    scale = 255 // ((1 << gbits) - 1)
    return bytearray(v * scale for v in _unpack_idx(row, width, gbits))


def _parse_header(data: bytes) -> tuple[str, bool, int]:
    """TIFF header -> (byte-order fmt, BigTIFF flag, first IFD offset)."""
    if len(data) < 8 or data[:2] not in (II, MM):
        raise ValueError("not a TIFF payload (no II/MM byte-order mark)")
    bo = "<" if data[:2] == II else ">"
    (magic,) = struct.unpack_from(bo + "H", data, 2)
    if magic == 43:
        # BigTIFF: 8-byte offsets throughout (the container modern
        # large scans ship in); the tag grammar is otherwise identical
        offsize, pad = struct.unpack_from(bo + "HH", data, 4)
        if offsize != 8 or pad != 0:
            raise ValueError(
                f"bad BigTIFF offset size {offsize}/pad {pad}"
            )
        (ifd_off,) = struct.unpack_from(bo + "Q", data, 8)
        return bo, True, ifd_off
    if magic == 42:
        (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
        return bo, False, ifd_off
    raise ValueError(f"bad TIFF magic {magic}")


def decode_tiff(data: bytes):
    """Decode a baseline TIFF (first IFD). Returns (height, width,
    n_components, pixels) in decode_jpeg's row-list shape: rows of
    ints (grayscale, BlackIsZero convention) or (r, g, b) tuples.
    Corruption raises ValueError; out-of-scope features raise
    NotImplementedError."""
    bo, big, ifd_off = _parse_header(data)
    return _decode_ifd(data, bo, big, ifd_off)[0]


def decode_tiff_pages(data: bytes, max_pages: int = 256) -> list:
    """Decode EVERY page of a multi-page TIFF by walking the IFD chain
    (next-IFD pointer after each entry array) — multi-page scans and
    fax documents are one file per document, one IFD per page. Returns
    a list of (height, width, n_components, pixels) tuples. Cycles in
    the chain and implausible page counts are corruption."""
    bo, big, ifd_off = _parse_header(data)
    pages = []
    seen: set[int] = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("TIFF IFD chain forms a cycle")
        seen.add(ifd_off)
        if len(pages) >= max_pages:
            raise ValueError(
                f"TIFF IFD chain exceeds {max_pages} pages"
            )
        result, ifd_off = _decode_ifd(data, bo, big, ifd_off)
        pages.append(result)
    return pages


def _decode_ifd(data: bytes, bo: str, big: bool, ifd_off: int):
    """Decode one IFD -> ((height, width, n_components, pixels),
    next_ifd_offset)."""
    cnt_size, entry_size, inline = (8, 20, 8) if big else (2, 12, 4)
    if ifd_off + cnt_size > len(data):
        raise ValueError("TIFF IFD offset beyond the file")
    (n_entries,) = struct.unpack_from(
        bo + ("Q" if big else "H"), data, ifd_off
    )
    if n_entries > 4096:
        raise ValueError(f"implausible TIFF IFD entry count {n_entries}")
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        off = ifd_off + cnt_size + entry_size * k
        if off + entry_size > len(data):
            raise ValueError("truncated TIFF IFD")
        tag, typ = struct.unpack_from(bo + "HH", data, off)
        (count,) = struct.unpack_from(
            bo + ("Q" if big else "I"), data, off + 4
        )
        if typ not in _TYPE_SIZES:
            continue  # unknown field types are skippable per spec
        if count > 1 << 20:
            raise ValueError(f"implausible TIFF tag {tag} count {count}")
        size = _TYPE_SIZES[typ] * count
        vpos = off + entry_size - inline
        if size <= inline:
            voff = vpos
        else:
            (voff,) = struct.unpack_from(
                bo + ("Q" if big else "I"), data, vpos
            )
            if voff + size > len(data):
                raise ValueError(f"TIFF tag {tag} value beyond the file")
        if typ == 3:
            vals = list(struct.unpack_from(f"{bo}{count}H", data, voff))
        elif typ in (1, 4, 16):
            fmt = {1: "B", 4: "I", 16: "Q"}[typ]
            vals = list(struct.unpack_from(f"{bo}{count}{fmt}", data, voff))
        else:
            vals = []
        tags[tag] = vals
    next_pos = ifd_off + cnt_size + entry_size * n_entries
    fmt = "Q" if big else "I"
    if next_pos + struct.calcsize(fmt) <= len(data):
        (next_ifd,) = struct.unpack_from(bo + fmt, data, next_pos)
    else:
        next_ifd = 0
    if next_ifd >= len(data):
        # a dangling next-IFD pointer is CORRUPTION (a truncated
        # multi-page file), not end-of-chain — ending silently would
        # return fewer pages than the file claims, and this module
        # raises on corruption instead of returning partial data
        raise ValueError(
            f"TIFF next-IFD pointer {next_ifd} beyond the file "
            f"({len(data)} bytes) — truncated page chain"
        )

    def one(tag: int, default: int | None = None) -> int:
        vals = tags.get(tag)
        if not vals:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return vals[0]

    width = one(TAG_WIDTH)
    height = one(TAG_HEIGHT)
    spp = one(TAG_SPP, 1)
    photometric = one(TAG_PHOTOMETRIC)
    compression = one(TAG_COMPRESSION, 1)
    predictor = one(TAG_PREDICTOR, 1)
    # BitsPerSample's spec default is 1 (bilevel, TIFF 6.0 §3); bilevel
    # writers lean on it — the JDK omits tag 258 for both fax and
    # bit-packed files, and the conformance fixtures carry no tag 258.
    bits = tags.get(TAG_BITS, [1])
    if not bits:
        # tag present but with a non-integer field type (fuzz-found):
        # a BitsPerSample that decodes to no values is corruption
        raise ValueError("TIFF BitsPerSample holds no integer values")
    if not (0 < width <= 1 << 16 and 0 < height <= 1 << 16):
        raise ValueError("bad TIFF geometry")
    if width * height * spp > MAX_TEXT_BYTES:
        raise ValueError("TIFF pixel volume beyond the decode bound")
    if compression == 32946:
        # the original Deflate code (pre-Adobe-8 registration) — same
        # zlib strips; JDK ImageIO writes this one, and so do the
        # conformance fixtures
        compression = 8
    fax = compression in (2, 3, 4)
    if fax:
        # CCITT fax (RLE/G3/G4, fax.py — tables externally pinned
        # by the JDK-written conformance fixtures):
        # bilevel only, by definition of the codec
        if bits != [1] or spp != 1:
            raise ValueError(
                f"fax-compressed TIFF must be 1-bit bilevel, got "
                f"bits={bits} spp={spp}"
            )
        if photometric not in (0, 1):
            raise ValueError(
                f"fax TIFF with photometric {photometric}"
            )
    palette = None
    if photometric == 3:
        # palette-color: indices into the ColorMap (TIFF 6.0 §5) — the
        # palette is FILE data, 3*2^bits 16-bit entries (reds, greens,
        # blues), scaled down to 8-bit here
        if spp != 1:
            raise ValueError("palette TIFF with SamplesPerPixel != 1")
        if bits[0] not in (1, 2, 4, 8):
            raise ValueError(
                f"{bits[0]}-bit palette indices (1/2/4/8 per TIFF 6.0 §5)"
            )
        if bits[0] != 8 and predictor != 1:
            # the bit-unpack path neither applies nor reverses
            # horizontal differencing — decoding would be silently
            # wrong, so refuse loudly like the sub-8 grayscale branch
            # (pal-8 DOES apply predictor 2)
            raise NotImplementedError(
                f"predictor on {bits[0]}-bit palette indices"
            )
        cmap = tags.get(TAG_COLORMAP)
        if not cmap or len(cmap) != 3 * (1 << bits[0]):
            raise ValueError(
                f"palette TIFF ColorMap has {len(cmap or [])} entries, "
                f"needs {3 * (1 << bits[0])}"
            )
        n = 1 << bits[0]
        palette = [
            (cmap[i] >> 8, cmap[n + i] >> 8, cmap[2 * n + i] >> 8)
            for i in range(n)
        ]
    elif bits in ([1], [2], [4]) and photometric in (0, 1):
        # sub-8-bit grayscale with a byte-codec (or none): rows are
        # bit-packed MSB-first, padded to a byte boundary (TIFF 6.0
        # §3). Bilevel is JDK fixture-pinned; 2/4-bit share
        # the identical nibble/bit unpack the externally-pinned 4-bit
        # palette fixtures exercise, with samples scaled to full range
        # by the linear mapping (x 255/(2^bits - 1): 4-bit x 17, 2-bit
        # x 85 — exact integers, the TIFF-6.0 grayscale convention)
        if spp != 1:
            raise ValueError("sub-8-bit TIFF with SamplesPerPixel != 1")
        if predictor != 1:
            raise NotImplementedError("predictor on sub-8-bit samples")
    elif bits == [16] and photometric in (0, 1):
        # 16-bit grayscale (scientific/medical scans): samples follow
        # the FILE byte order, returned as 0..65535 ints
        if spp != 1:
            raise ValueError("16-bit TIFF with SamplesPerPixel != 1")
        if predictor != 1:
            raise NotImplementedError("predictor on 16-bit samples")
        if compression == 7:
            raise NotImplementedError("JPEG strips cannot carry 16-bit")
    elif any(b != 8 for b in bits) and not fax:
        raise NotImplementedError(
            f"{bits}-bit TIFF samples (only 1/2/4/8/16-bit decode honestly)"
        )
    elif photometric in (0, 1):
        if spp != 1:
            raise ValueError("grayscale TIFF with SamplesPerPixel != 1")
    elif photometric == 2:
        if spp < 3:
            raise ValueError("RGB TIFF with SamplesPerPixel < 3")
        if spp > 3:
            raise NotImplementedError("extra samples (alpha) out of scope")
    else:
        raise NotImplementedError(
            f"TIFF PhotometricInterpretation {photometric} "
            "(separation/YCbCr) is out of scope"
        )
    if compression not in (1, 2, 3, 4, 5, 7, 8, 32773):
        raise NotImplementedError(
            f"TIFF compression {compression} (old-style JPEG 6) "
            "is out of scope"
        )
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    if one(284, 1) != 1:  # PlanarConfiguration: only chunky decodes
        raise NotImplementedError(
            "TIFF planar configuration 2 (separate planes) is out of "
            "scope — silently interleaving planes would corrupt pixels"
        )
    if one(339, 1) != 1:  # SampleFormat: unsigned integer only
        raise NotImplementedError(
            "TIFF SampleFormat != 1 (signed/float samples) is out of "
            "scope — reading them as unsigned would corrupt values"
        )
    if one(274, 1) != 1:  # Orientation: raster order only
        raise NotImplementedError(
            "TIFF Orientation != 1 (flipped/rotated raster) is out of "
            "scope — ignoring it would emit transposed pixels"
        )
    bilevel_packed = bits[0] < 8 and not fax and palette is None
    wide_gray = bits == [16] and palette is None and not fax
    bps = bits[0] if (
        palette is not None or bilevel_packed or wide_gray
    ) else 8
    fill_order = one(266, 1)  # FillOrder: 2 = bits reversed within bytes
    if fill_order not in (1, 2):
        raise ValueError(f"bad TIFF FillOrder {fill_order}")
    if fill_order == 2 and not (fax or (compression == 1 and bps < 8)):
        # fax hardware emits FillOrder 2 on coded fax data (and, rarely,
        # on uncompressed bit-packed rows); reversing bits under a
        # byte-oriented codec's output would corrupt 8-bit samples
        raise NotImplementedError(
            "TIFF FillOrder 2 outside fax/uncompressed-bitpacked data"
        )

    def _decode_block(
        chunk: bytes, expected: int, n_rows: int, bw: int, desc: str
    ) -> bytes:
        """One compressed strip or tile -> raw bytes (fax blocks come
        back as 0/255 gray samples, bw bytes per row)."""
        if fill_order == 2:
            # lsb-first bit stuffing: reverse every byte before the bit
            # stream is read (TIFF 6.0 FillOrder; pure computation, no
            # transcribed table)
            chunk = chunk.translate(_BITREV)
        if fax:
            # CCITT runs decode to 0 (white) / 1 (black) samples; store
            # them as 0/255 gray so the shared photometric-inversion
            # path below lands black ink at 0 in the BlackIsZero output
            # convention (photometric 0 files — the fax default)
            from .fax import decode_fax

            rows01 = decode_fax(
                chunk, bw, n_rows, compression,
                one(TAG_T4_OPTIONS, 0), one(TAG_T6_OPTIONS, 0),
            )
            out = bytearray()
            for r01 in rows01:
                out += bytes(255 if v else 0 for v in r01)
            return bytes(out)
        if compression == 1:
            if len(chunk) != expected:
                raise ValueError(
                    f"uncompressed TIFF {desc}: {len(chunk)} bytes, "
                    f"expected {expected}"
                )
            return chunk
        if compression == 5:
            out = _lzw_decode(chunk)
            if len(out) != expected:
                raise ValueError(
                    f"LZW TIFF {desc} decodes to {len(out)} bytes, "
                    f"expected {expected}"
                )
            return out
        if compression == 8:
            # Adobe Deflate: the block is a zlib stream; max_length
            # bounds a hostile bomb to expected+1 before the size check
            import zlib

            try:
                dec = zlib.decompressobj()
                out = dec.decompress(chunk, expected + 1)
            except zlib.error as exc:
                raise ValueError(
                    f"bad Deflate TIFF {desc}: {exc}"
                ) from None
            if len(out) != expected:
                raise ValueError(
                    f"Deflate TIFF {desc} decodes to {len(out)} bytes, "
                    f"expected {expected}"
                )
            return out
        if compression == 7:
            # new-style JPEG-in-TIFF (TTN2): each block is a complete
            # JPEG interchange stream — baseline or progressive, both
            # real via jpeg.py
            from .jpeg import decode_jpeg

            jh, jw, jnc, jpx = decode_jpeg(chunk)
            if (jw, jnc) != (bw, spp) or jh != n_rows:
                raise ValueError(
                    f"JPEG {desc} geometry {jh}x{jw}x{jnc} does not "
                    f"match {n_rows}x{bw}x{spp}"
                )
            flatrows = bytearray()
            for jrow in jpx:
                if jnc == 1:
                    flatrows += bytes(jrow)
                else:
                    for p in jrow:
                        flatrows += bytes(p)
            return bytes(flatrows)
        return packbits_decode(chunk, expected)

    if TAG_TILE_OFFSETS in tags:
        return _decode_tiled(
            data, tags, one, width, height, spp, photometric, predictor,
            palette, bilevel_packed, bps, fax, _decode_block,
            wide_gray, bo,
        ), next_ifd
    offsets = tags.get(TAG_STRIP_OFFSETS)
    counts = tags.get(TAG_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF strip offsets/byte-counts missing or unequal")
    rows_per_strip = one(TAG_ROWS_PER_STRIP, height)
    row_bytes = (width * spp * bps + 7) // 8
    if fax:
        row_bytes = width  # fax strips decode straight to byte samples
    raw = bytearray()
    for si, (soff, scount) in enumerate(zip(offsets, counts)):
        strip = data[soff : soff + scount]
        if len(strip) < scount:
            raise ValueError(f"TIFF strip {si} beyond the file")
        n_rows = min(rows_per_strip, height - si * rows_per_strip)
        if n_rows <= 0:
            raise ValueError("TIFF has more strips than rows")
        raw += _decode_block(
            strip, n_rows * row_bytes, n_rows, width, f"strip {si}"
        )
    pixels = []
    prev_invert = photometric == 0  # WhiteIsZero: invert to BlackIsZero
    for y in range(height):
        row = bytearray(raw[y * row_bytes : (y + 1) * row_bytes])
        if palette is not None:
            if bps < 8:
                # MSB-first packed indices, byte-padded rows (one
                # unpack for 1/2/4-bit)
                idxs = _unpack_idx(row, width, bps)
            else:
                if predictor == 2:
                    _undiff(row, 1)
                idxs = list(row[:width])
            pixels.append([palette[i] for i in idxs])
            continue
        if wide_gray:
            vals = list(struct.unpack_from(f"{bo}{width}H", row, 0))
            if prev_invert:
                vals = [65535 - v for v in vals]
            pixels.append(vals)
            continue
        if bilevel_packed:
            # MSB-first bit-group rows, byte-padded (TIFF 6.0 §3);
            # scale samples to full range (1-bit x 255, 2-bit x 85,
            # 4-bit x 17 — exact integers) so the photometric mapping
            # below is the same one the 8-bit and fax paths use
            row = _unpack_gray(row, width, bps)
        if predictor == 2:
            _undiff(row, spp)
        if prev_invert:
            row = bytearray(255 - v for v in row)
        if spp == 1:
            pixels.append(list(row))
        else:
            pixels.append(
                [tuple(row[x * 3 : x * 3 + 3]) for x in range(width)]
            )
    return (height, width, (3 if palette is not None else
                            (1 if spp == 1 else 3)), pixels), next_ifd


def _decode_tiled(
    data: bytes,
    tags: dict,
    one,
    width: int,
    height: int,
    spp: int,
    photometric: int,
    predictor: int,
    palette,
    bilevel_packed: bool,
    bps: int,
    fax: bool,
    decode_block,
    wide_gray: bool = False,
    bo: str = "<",
):
    """Tiled-layout assembly (TIFF 6.0 §15 — the layout pyramidal and
    GeoTIFF-style scans use): the image is a grid of tw x tl tiles,
    each compressed INDEPENDENTLY with the same codec as strips would
    be; edge tiles are padded to full tile size and cropped here.
    Horizontal-differencing predictors and bit-packing reset per tile
    row (width tw, not the image width) — the part a strip-shaped
    decoder gets silently wrong, which is why the JDK-written tiled
    conformance fixtures pin this path externally."""
    tw = one(TAG_TILE_WIDTH)
    tl = one(TAG_TILE_LENGTH)
    # §15: tile dimensions must be multiples of 16
    if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
        raise ValueError(f"bad TIFF tile geometry {tw}x{tl}")
    if tw * tl * spp > MAX_TEXT_BYTES:
        raise ValueError("TIFF tile volume beyond the decode bound")
    offsets = tags.get(TAG_TILE_OFFSETS)
    counts = tags.get(TAG_TILE_COUNTS)
    across = (width + tw - 1) // tw
    down = (height + tl - 1) // tl
    if not counts or len(offsets) != len(counts):
        raise ValueError("TIFF tile offsets/byte-counts unequal")
    if len(offsets) != across * down:
        raise ValueError(
            f"TIFF has {len(offsets)} tiles for a {across}x{down} grid"
        )
    if tags.get(TAG_STRIP_OFFSETS):
        raise ValueError("TIFF with both strip and tile layouts")
    trow_bytes = tw if fax else (tw * spp * bps + 7) // 8
    # full-image grid of 8-bit samples per row (palette: indices;
    # 16-bit gray: raw sample BYTES in file order, combined at the end)
    unit = 2 if wide_gray else 1
    grid = [bytearray(width * spp * unit) for _ in range(height)]
    for ti, (toff, tcnt) in enumerate(zip(offsets, counts)):
        chunk = data[toff : toff + tcnt]
        if len(chunk) < tcnt:
            raise ValueError(f"TIFF tile {ti} beyond the file")
        out = decode_block(
            chunk, tl * trow_bytes, tl, tw, f"tile {ti}"
        )
        tx = ti % across
        ty = ti // across
        x0 = tx * tw
        vis = min(tw, width - x0)
        for r in range(tl):
            gy = ty * tl + r
            if gy >= height:
                break
            rowb = bytearray(out[r * trow_bytes : (r + 1) * trow_bytes])
            if palette is not None and bps < 8:
                srow = bytearray(_unpack_idx(rowb, tw, bps))
            elif bilevel_packed:
                srow = _unpack_gray(rowb, tw, bps)
            else:
                srow = rowb  # 8/16-bit samples / palette idx / fax gray
                if predictor == 2 and not fax and not wide_gray:
                    _undiff(srow, spp)
            grid[gy][x0 * spp * unit : (x0 + vis) * spp * unit] = (
                srow[: vis * spp * unit]
            )
    pixels = []
    prev_invert = photometric == 0
    for y in range(height):
        row = grid[y]
        if palette is not None:
            pixels.append([palette[i] for i in row[:width]])
            continue
        if wide_gray:
            vals = list(struct.unpack_from(f"{bo}{width}H", row, 0))
            if prev_invert:
                vals = [65535 - v for v in vals]
            pixels.append(vals)
            continue
        if prev_invert:
            row = bytearray(255 - v for v in row)
        if spp == 1:
            pixels.append(list(row))
        else:
            pixels.append(
                [tuple(row[x * 3 : x * 3 + 3]) for x in range(width)]
            )
    return height, width, (3 if palette is not None else
                           (1 if spp == 1 else 3)), pixels


def write_tiff_multi(pages: list, **kw) -> bytes:
    """Assemble a MULTI-PAGE TIFF (one IFD per page, chained by the
    next-IFD pointer) — the on-disk shape of multi-page scans and fax
    documents. Each page is built by write_tiff with the shared
    options (``kw`` may also be a per-page list under ``page_opts``),
    then spliced with every absolute offset rebased: external tag
    values, strip/tile offset arrays, and the chain pointer. The
    decode side (decode_tiff_pages) walks the same chain back."""
    if not pages:
        raise ValueError("multi-page TIFF needs at least one page")
    page_opts = kw.pop("page_opts", None)
    if page_opts is None:
        page_opts = [kw] * len(pages)
    elif len(page_opts) != len(pages):
        raise ValueError("page_opts length must match pages")
    blobs = [write_tiff(pg, **op) for pg, op in zip(pages, page_opts)]
    big = bool((page_opts[0] or {}).get("big"))
    if any(bool((op or {}).get("big")) != big for op in page_opts):
        raise ValueError("pages must agree on the BigTIFF container")
    bo = ">" if (page_opts[0] or {}).get("big_endian") else "<"
    if any(
        bool((op or {}).get("big_endian")) != (bo == ">")
        for op in page_opts
    ):
        raise ValueError("pages must agree on the byte order")
    hdr = 16 if big else 8
    cnt_size, entry_size, inline = (8, 20, 8) if big else (2, 12, 4)
    off_fmt = "Q" if big else "I"
    merged = bytearray(blobs[0])
    bases = [hdr]
    for blob in blobs[1:]:
        bases.append(len(merged))
        merged += blob[hdr:]
    for i, blob in enumerate(blobs):
        base = bases[i]
        delta = base - hdr
        if big:
            (n,) = struct.unpack_from(bo + "Q", merged, base)
        else:
            (n,) = struct.unpack_from(bo + "H", merged, base)
        for k in range(n):
            e = base + cnt_size + entry_size * k
            tag, typ = struct.unpack_from(bo + "HH", merged, e)
            (count,) = struct.unpack_from(
                bo + ("Q" if big else "I"), merged, e + 4
            )
            size = _TYPE_SIZES[typ] * count
            vpos = e + entry_size - inline
            external = size > inline
            if external and delta:
                (voff,) = struct.unpack_from(bo + off_fmt, merged, vpos)
                struct.pack_into(bo + off_fmt, merged, vpos, voff + delta)
            if tag in (TAG_STRIP_OFFSETS, TAG_TILE_OFFSETS) and delta:
                if external:
                    (voff,) = struct.unpack_from(
                        bo + off_fmt, merged, vpos
                    )
                    apos = voff  # already rebased to the merged file
                else:
                    apos = vpos
                for j in range(count):
                    (v,) = struct.unpack_from(
                        bo + "I", merged, apos + 4 * j
                    )
                    struct.pack_into(
                        bo + "I", merged, apos + 4 * j, v + delta
                    )
        next_pos = base + cnt_size + entry_size * n
        struct.pack_into(
            bo + off_fmt, merged, next_pos,
            bases[i + 1] if i + 1 < len(bases) else 0,
        )
    return bytes(merged)


def write_tiff(
    pixels: list,
    *,
    spp: int = 1,
    compression: int = 1,
    predictor: int = 1,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    photometric: int | None = None,
    palette: list | None = None,
    bits: int = 8,
    big: bool = False,
    t4_two_d: bool = False,
    tile_size: tuple[int, int] | None = None,
) -> bytes:
    """Assemble a baseline TIFF around row-list pixels (ints for gray,
    (r,g,b) tuples for RGB). Compression 1/5/32773, predictor 1/2,
    either byte order, optional multi-strip splitting. Compression
    2/3/4 (CCITT fax, fax.py) takes rows of 0/1 CCITT samples
    (0 = white, 1 = black) and writes a photometric-0 bilevel file;
    t4_two_d sets T4Options bit 0 (2D-coded Group 3). ``tile_size``
    switches to the tiled layout (TIFF 6.0 §15): (tw, tl) must be
    multiples of 16; each tile compresses independently with edge
    tiles padded to full size, and Tile* tags replace the strip
    tags."""
    height = len(pixels)
    width = len(pixels[0]) if height else 0
    bo = ">" if big_endian else "<"
    pal_bits = 8
    if palette is not None:
        photometric = 3
        spp = 1
        if bits not in (1, 2, 4, 8):
            raise ValueError("palette indices write at 1/2/4/8 bits")
        pal_bits = bits
        if bits != 8:
            # MSB-first packed indices (_pack_gray packs the RAW small
            # values, which is exactly what indices are)
            flat = b"".join(_pack_gray(row, width, bits) for row in pixels)
            row_bytes = (width * bits + 7) // 8
        else:
            flat = bytes(v for row in pixels for v in row)
            row_bytes = width
    elif spp == 1 and bits == 16:
        # 16-bit grayscale: 2-byte samples in the file byte order
        if compression in (2, 3, 4, 7):
            raise ValueError("fax/JPEG compression cannot carry 16-bit")
        if predictor != 1:
            raise ValueError("predictor unsupported at 16-bit write")
        flat = b"".join(
            struct.pack(f"{bo}{width}H", *row) for row in pixels
        )
        row_bytes = width * 2
    elif spp == 1 and bits in (2, 4):
        # sub-8-bit grayscale: MSB-first groups, rows byte-padded;
        # pixel values are the RAW small samples (0..2^bits-1)
        if compression in (2, 3, 4):
            raise ValueError("fax compression is bilevel only")
        flat = b"".join(_pack_gray(row, width, bits) for row in pixels)
        row_bytes = (width * bits + 7) // 8
    elif spp == 1:
        flat = bytes(v for row in pixels for v in row)
        row_bytes = width
    else:
        flat = bytes(c for row in pixels for px in row for c in px)
        row_bytes = width * spp
    if photometric is None:
        photometric = 1 if spp == 1 else 2
    gray_bits = bits if (spp == 1 and palette is None
                         and bits in (2, 4, 16)) else 8
    if gray_bits != 8 and photometric == 0:
        raise ValueError("non-8-bit gray writes BlackIsZero only")
    if rows_per_strip is None:
        rows_per_strip = height
    del bits  # sample depth is carried via gray_bits/the packing above
    fax_mode = compression in (2, 3, 4)
    strips: list[bytes] = []
    tiled = tile_size is not None
    if tiled:
        tw, tl = tile_size
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise ValueError(
                "TIFF tile dimensions must be positive multiples of 16"
            )
        if fax_mode:
            from .fax import encode_g3, encode_g4, encode_mh

            photometric = 0  # MinIsWhite: the fax-file convention
        t_row_bytes = (tw * spp * (pal_bits if palette is not None
                                   else gray_bits) + 7) // 8
        across = (width + tw - 1) // tw
        down = (height + tl - 1) // tl
        for ty in range(down):
            for tx in range(across):
                trows = []
                for r in range(tl):
                    gy = ty * tl + r
                    seg = (list(pixels[gy][tx * tw : tx * tw + tw])
                           if gy < height else [])
                    pad = ((0, 0, 0) if spp == 3 and palette is None
                           else 0)
                    seg += [pad] * (tw - len(seg))
                    trows.append(seg)
                if fax_mode:
                    if compression == 2:
                        strips.append(encode_mh(trows, tw))
                    elif compression == 3:
                        strips.append(encode_g3(trows, tw, two_d=t4_two_d))
                    else:
                        strips.append(encode_g4(trows, tw))
                    continue
                if palette is not None and pal_bits != 8:
                    body = bytearray()
                    for trow in trows:
                        body += _pack_gray(trow, tw, pal_bits)
                elif spp == 1 and gray_bits == 16:
                    body = bytearray()
                    for trow in trows:
                        body += struct.pack(f"{bo}{tw}H", *trow)
                elif spp == 1 and gray_bits != 8:
                    body = bytearray()
                    for trow in trows:
                        body += _pack_gray(trow, tw, gray_bits)
                elif spp == 1:
                    body = bytearray(v for trow in trows for v in trow)
                else:
                    body = bytearray(
                        c for trow in trows for px in trow for c in px
                    )
                if photometric == 0:
                    body = bytearray(255 - v for v in body)
                if predictor == 2:
                    for r0 in range(0, len(body), t_row_bytes):
                        for i in range(t_row_bytes - 1, spp - 1, -1):
                            body[r0 + i] = (
                                body[r0 + i] - body[r0 + i - spp]
                            ) & 0xFF
                body = bytes(body)
                if compression == 5:
                    body = _lzw_encode(body)
                elif compression == 8:
                    import zlib

                    body = zlib.compress(body)
                elif compression == 32773:
                    body = packbits_encode(body)
                elif compression != 1:
                    raise ValueError(f"bad compression {compression}")
                strips.append(body)
    elif fax_mode:
        from .fax import encode_g3, encode_g4, encode_mh

        photometric = 0  # MinIsWhite: the fax-file convention
        for y0 in range(0, height, rows_per_strip):
            rows = pixels[y0 : y0 + rows_per_strip]
            if compression == 2:
                strips.append(encode_mh(rows, width))
            elif compression == 3:
                strips.append(encode_g3(rows, width, two_d=t4_two_d))
            else:
                strips.append(encode_g4(rows, width))
    for y0 in (range(0, height, rows_per_strip)
               if not fax_mode and not tiled else ()):
        rows = bytearray(flat[y0 * row_bytes : (y0 + rows_per_strip) * row_bytes])
        if photometric == 0:
            rows = bytearray(255 - v for v in rows)
        if predictor == 2:
            for r0 in range(0, len(rows), row_bytes):
                for i in range(row_bytes - 1, spp - 1, -1):
                    rows[r0 + i] = (rows[r0 + i] - rows[r0 + i - spp]) & 0xFF
        body = bytes(rows)
        if compression == 5:
            body = _lzw_encode(body)
        elif compression == 8:
            import zlib

            body = zlib.compress(body)
        elif compression == 32773:
            body = packbits_encode(body)
        elif compression != 1:
            raise ValueError(f"bad compression {compression}")
        strips.append(body)
    # layout: header, IFD, tag-value arrays, strip data
    cnt_size, entry_size, inline = (8, 20, 8) if big else (2, 12, 4)
    entries: list[tuple[int, int, int, bytes | int]] = []

    def short(tag: int, *vals: int) -> None:
        entries.append((tag, 3, len(vals), struct.pack(f"{bo}{len(vals)}H", *vals)))

    def long_(tag: int, *vals: int) -> None:
        entries.append((tag, 4, len(vals), struct.pack(f"{bo}{len(vals)}I", *vals)))

    short(TAG_WIDTH, width)
    short(TAG_HEIGHT, height)
    short(TAG_BITS, *([1 if fax_mode else
                       pal_bits if palette is not None
                       else gray_bits] * spp))
    short(TAG_COMPRESSION, compression)
    short(TAG_PHOTOMETRIC, photometric)
    if compression == 3 and t4_two_d:
        long_(TAG_T4_OPTIONS, 1)
    off_tag = TAG_TILE_OFFSETS if tiled else TAG_STRIP_OFFSETS
    long_(off_tag, *([0] * len(strips)))  # patched below
    short(TAG_SPP, spp)
    if tiled:
        short(TAG_TILE_WIDTH, tile_size[0])
        short(TAG_TILE_LENGTH, tile_size[1])
        long_(TAG_TILE_COUNTS, *(len(s) for s in strips))
    else:
        short(TAG_ROWS_PER_STRIP, rows_per_strip)
        long_(TAG_STRIP_COUNTS, *(len(s) for s in strips))
    if predictor != 1:
        short(TAG_PREDICTOR, predictor)
    if palette is not None:
        n = 1 << pal_bits
        if len(palette) != n:
            raise ValueError(f"palette needs {n} entries")
        # 8->16-bit scaling is x 257 (0xFF -> 0xFFFF, TIFF 6.0 full
        # range), NOT << 8: v*257 >> 8 == v (this module's decoder) and
        # v*257 * 255 // 65535 == v (the JDK's IndexColorModel), so
        # either reader recovers the exact 8-bit entries
        cmap = (
            [r * 257 for r, _g, _b in palette]
            + [g * 257 for _r, g, _b in palette]
            + [b * 257 for _r, _g, b in palette]
        )
        short(TAG_COLORMAP, *cmap)
    entries.sort()
    ifd_off = 16 if big else 8
    ifd_size = cnt_size + entry_size * len(entries) + (8 if big else 4)
    ext_off = ifd_off + ifd_size
    ext = bytearray()
    fixed: list[bytes] = []
    strip_off_at = None
    for tag, typ, count, payload in entries:
        size = _TYPE_SIZES[typ] * count
        if size <= inline:
            val = bytes(payload) + bytes(inline - size)
        else:
            if tag == off_tag:
                strip_off_at = ext_off + len(ext)
            val = struct.pack(bo + ("Q" if big else "I"), ext_off + len(ext))
            ext += payload
        head_fmt = bo + ("HHQ" if big else "HHI")
        fixed.append(struct.pack(head_fmt, tag, typ, count) + val)
    data_off = ext_off + len(ext)
    offs = []
    pos = data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    # patch strip offsets (either inline — single strip — or in ext)
    if strip_off_at is None:
        for k, (tag, typ, count, _payload) in enumerate(entries):
            if tag == off_tag:
                # LONG values sit LEFT-JUSTIFIED in the inline field
                # regardless of the container's offset width (packing
                # as Q would zero a big-endian read) — and BigTIFF's
                # 8-byte field holds TWO inline LONGs
                fixed[k] = (
                    struct.pack(bo + ("HHQ" if big else "HHI"),
                                tag, typ, count)
                    + struct.pack(f"{bo}{len(offs)}I", *offs)
                    + bytes(inline - 4 * len(offs))
                )
    else:
        ext[strip_off_at - ext_off : strip_off_at - ext_off + 4 * len(offs)] = (
            struct.pack(f"{bo}{len(offs)}I", *offs)
        )
    out = bytearray()
    if big:
        out += (MM if big_endian else II) + struct.pack(
            bo + "HHHQ", 43, 8, 0, ifd_off
        )
        out += struct.pack(bo + "Q", len(entries))
    else:
        out += (MM if big_endian else II) + struct.pack(bo + "HI", 42, ifd_off)
        out += struct.pack(bo + "H", len(entries))
    out += b"".join(fixed)
    out += struct.pack(bo + ("Q" if big else "I"), 0)  # no next IFD
    out += ext
    for s in strips:
        out += s
    return bytes(out)
