"""Pure-stdlib GIF codec: LZW + palette + interlace, no codec libraries.

Purpose: decode GIF in a stdlib-only container — GIF's only
compression is LZW, which needs nothing beyond integer bit-packing
(the encoder packs codes with bits.py's LsbWriter). The reference's media
handling is magic-byte sniffing via its `filetype` dependency
(requirements-dev.txt:18); here, as with png.py/jpeg.py, the decode
itself is real and differential-tested against a closed-form oracle.

Scope: GIF87a/GIF89a, global or local color table, optional interlace,
first image frame via decode_gif, and the FULL animation walk via
decode_gif_frames: every image descriptor decodes
independently to its own rect with the governing Graphic Control
Extension's delay/disposal/transparent-index carried alongside (a GCE
governs exactly one frame; compositing onto the logical screen is the
caller's concern — this is the raw per-frame data a corpus pipeline
samples, and exactly the shape the JDK reader hands back per index,
pinned by the writeToSequence fixture anim.gif). The animation writer
(encode_gif_frames) emits GCEs and the NETSCAPE2.0 loop extension the
way real encoders do. The encoder writes single-frame GIFs with a
caller-supplied palette, optional interlace, and spec-complete LZW
(code-width growth to 12 bits and dictionary reset at 4096), so an
encode→decode round trip exercises the decoder's reset and KwKwK
branches on images large enough to overflow the initial table.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import LsbWriter

SIGNATURES = (b"GIF87a", b"GIF89a")

_MAX_CODE = 4096  # 12-bit LZW ceiling (GIF spec appendix F)

# interlace passes: (row offset, row step) in output order
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    """Source-row order in which an interlaced GIF stores an h-row image."""
    return [y for off, step in _INTERLACE_PASSES for y in range(off, h, step)]


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Spec-complete GIF LZW: emits an initial clear code, grows the code
    width at table-fill boundaries, resets the dictionary at 4096."""
    clear = 1 << min_code_size
    end = clear + 1
    bw = LsbWriter()
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    bw.write(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        bw.write(table[run], width)
        table[cand] = next_code
        next_code += 1
        # the encoder must widen when the NEXT code to be assigned no
        # longer fits the current width (decoder mirrors this exactly)
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= _MAX_CODE:
            bw.write(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = bytes([b])
    if run:
        bw.write(table[run], width)
        # The decoder appends one entry when it processes this final
        # code (the encoder adds none — there is no following symbol).
        # If that phantom append lands exactly on a power-of-2 table
        # size, the decoder widens BEFORE reading the next code — so
        # the END code must be written at the widened width or it is
        # one bit narrower than the decoder reads it (found by the
        # hypothesis sweep: 23 two-color pixels hit the boundary).
        if next_code == (1 << width) and width < 12:
            width += 1
    bw.write(end, width)
    return bw.flush()


def _lzw_decode(
    data: bytes, min_code_size: int, max_out: int | None = None
) -> bytearray:
    """GIF LZW decode with code-width growth, clear handling, and the
    KwKwK (code == next_code) case.

    `max_out` bounds the decoded length: a hostile stream declaring a
    tiny image descriptor but carrying a huge deferred-clear LZW body
    would otherwise expand arbitrarily before the caller truncates to
    w*h. Table appends are likewise capped at the 12-bit ceiling —
    entries past 4095 are unaddressable (width never exceeds 12), so
    the cap is behavior-preserving while bounding table memory.
    """
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("GIF LZW: first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < _MAX_CODE:
                    table.append(prev + entry[:1])
            elif code == len(table) and code < _MAX_CODE:  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW: code out of range")
            out += entry
            prev = entry
            if max_out is not None and len(out) >= max_out:
                return out
            if len(table) == (1 << width) and width < 12:
                width += 1
    raise ValueError("GIF LZW: stream ended without end-of-information code")


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Encode an HxW uint8 index array + Nx3 uint8 palette as a
    single-frame GIF89a with a global color table."""
    indices = np.asarray(indices, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    h, w = indices.shape
    n = len(palette)
    if n < 2 or n > 256:
        raise ValueError(f"palette must have 2..256 entries, got {n}")
    gct_bits = max(1, (n - 1).bit_length())
    gct = bytearray()
    for r, g, b in palette:
        gct += bytes((r, g, b))
    gct += b"\x00" * (3 * ((1 << gct_bits) - n))  # pad table to 2^bits
    header = b"GIF89a" + struct.pack(
        "<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0
    )
    flags = 0x40 if interlace else 0x00
    descriptor = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, flags)
    rows = indices[_interlace_order(h)] if interlace else indices
    min_code_size = max(2, gct_bits)
    lzw = _lzw_encode(rows.tobytes(), min_code_size)
    return (
        header
        + bytes(gct)
        + descriptor
        + bytes([min_code_size])
        + _sub_blocks(lzw)
        + b"\x3b"
    )


def decode_gif(data: bytes) -> np.ndarray:
    """Decode the first frame of a GIF to an HxWx3 uint8 RGB array
    (palette applied; interlaced frames are reordered)."""
    if data[:6] not in SIGNATURES:
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated GIF: missing logical screen descriptor")
    _, _, packed, _, _ = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("truncated GIF: global color table")
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image frame")
        if block == 0x21:  # extension: introducer, label, sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 10 > len(data):
            raise ValueError("truncated GIF: image descriptor")
        _, _, w, h, flags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
        if w == 0 or h == 0:
            raise ValueError("GIF frame has zero width/height")
        pos += 10
        pal = gct
        if flags & 0x80:  # local color table overrides
            n = 2 << (flags & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError("truncated GIF: local color table")
            pal = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(
                -1, 3
            )
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image without any color table")
        if pos >= len(data):
            raise ValueError("truncated GIF: missing LZW minimum code size")
        min_code_size = data[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"bad LZW minimum code size {min_code_size}")
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("truncated GIF: unterminated image data")
            ln = data[pos]
            pos += 1
            if ln == 0:
                break
            if pos + ln > len(data):
                raise ValueError("truncated GIF: short data sub-block")
            lzw += data[pos : pos + ln]
            pos += ln
        idx = _lzw_decode(bytes(lzw), min_code_size, max_out=w * h)
        if len(idx) < w * h:
            raise ValueError(
                f"GIF pixel data short: {len(idx)} of {w * h} indices"
            )
        rows = np.frombuffer(bytes(idx[: w * h]), dtype=np.uint8).reshape(h, w)
        if flags & 0x40:  # interlaced: rows are stored in pass order
            out = np.zeros_like(rows)
            out[_interlace_order(h)] = rows
            rows = out
        if rows.max() >= len(pal):
            raise ValueError("GIF pixel index exceeds color table")
        return pal[rows]
    raise ValueError("truncated GIF: no trailer")


# ------------------------------------------------------------ animation
def encode_gif_frames(
    frames: list,
    palette: np.ndarray,
    loop: bool = True,
) -> bytes:
    """Encode an ANIMATED GIF89a: each entry of ``frames`` is a dict
    ``{"indices": HxW uint8 array, "x": int, "y": int, "delay_cs":
    int, "disposal": 0..3, "interlace": bool}`` placed on a logical
    screen sized to the union of frame rects. Every frame gets a
    Graphic Control Extension (delay + disposal); ``loop`` adds the
    NETSCAPE2.0 application extension the way real encoders do."""
    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    if n < 2 or n > 256:
        raise ValueError(f"palette must have 2..256 entries, got {n}")
    if not frames:
        raise ValueError("animated GIF needs at least one frame")
    sw = max(f.get("x", 0) + f["indices"].shape[1] for f in frames)
    sh = max(f.get("y", 0) + f["indices"].shape[0] for f in frames)
    gct_bits = max(1, (n - 1).bit_length())
    gct = bytearray()
    for r, g, b in palette:
        gct += bytes((r, g, b))
    gct += b"\x00" * (3 * ((1 << gct_bits) - n))
    out = bytearray(
        b"GIF89a"
        + struct.pack("<HHBBB", sw, sh, 0x80 | (gct_bits - 1), 0, 0)
        + bytes(gct)
    )
    if loop:
        out += (
            b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
        )
    min_code_size = max(2, gct_bits)
    for f in frames:
        idx = np.asarray(f["indices"], dtype=np.uint8)
        h, w = idx.shape
        disposal = int(f.get("disposal", 0)) & 0x7
        out += b"\x21\xf9\x04" + bytes([disposal << 2]) + struct.pack(
            "<H", int(f.get("delay_cs", 0))
        ) + b"\x00\x00"
        inter = bool(f.get("interlace"))
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("x", 0), f.get("y", 0), w, h,
            0x40 if inter else 0,
        )
        rows = idx[_interlace_order(h)] if inter else idx
        out += bytes([min_code_size])
        out += _sub_blocks(_lzw_encode(rows.tobytes(), min_code_size))
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(data: bytes, max_frames: int = 256) -> list:
    """Walk EVERY frame of a (possibly animated) GIF: each image
    descriptor decodes independently to its own rect — the shape the
    JDK reader hands back per index — with the preceding Graphic
    Control Extension's delay, disposal method, and transparent index
    carried alongside. Returns dicts ``{x, y, delay_cs, disposal,
    transparent, pixels: HxWx3 uint8}``. Compositing frames onto the
    logical screen (disposal semantics) is the caller's concern; this
    walk gives the raw per-frame data a corpus pipeline samples.
    decode_gif keeps its first-frame surface."""
    if data[:6] not in SIGNATURES:
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated GIF: missing logical screen descriptor")
    _, _, packed, _, _ = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("truncated GIF: global color table")
        gct = np.frombuffer(
            data[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(-1, 3)
        pos += 3 * n
    frames: list[dict] = []
    gce: dict | None = None
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            if not frames:
                raise ValueError("GIF contains no image frame")
            return frames
        if block == 0x21:
            if pos + 2 <= len(data) and data[pos + 1] == 0xF9:
                # Graphic Control Extension: applies to the NEXT frame
                body_at = pos + 2
                if (
                    body_at < len(data)
                    and data[body_at] == 4
                    and body_at + 5 <= len(data)
                ):
                    gpacked = data[body_at + 1]
                    delay, = struct.unpack_from("<H", data, body_at + 2)
                    tr = data[body_at + 4]
                    gce = {
                        "delay_cs": delay,
                        "disposal": (gpacked >> 2) & 0x7,
                        "transparent": tr if gpacked & 1 else None,
                    }
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if len(frames) >= max_frames:
            raise ValueError(f"GIF exceeds {max_frames} frames")
        if pos + 10 > len(data):
            raise ValueError("truncated GIF: image descriptor")
        x, y, w, h, flags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
        if w == 0 or h == 0:
            raise ValueError("GIF frame has zero width/height")
        pos += 10
        pal = gct
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError("truncated GIF: local color table")
            pal = np.frombuffer(
                data[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(-1, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image without any color table")
        if pos >= len(data):
            raise ValueError("truncated GIF: missing LZW minimum code size")
        min_code_size = data[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"bad LZW minimum code size {min_code_size}")
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("truncated GIF: unterminated image data")
            ln = data[pos]
            pos += 1
            if ln == 0:
                break
            if pos + ln > len(data):
                raise ValueError("truncated GIF: short data sub-block")
            lzw += data[pos : pos + ln]
            pos += ln
        idx = _lzw_decode(bytes(lzw), min_code_size, max_out=w * h)
        if len(idx) < w * h:
            raise ValueError(
                f"GIF pixel data short: {len(idx)} of {w * h} indices"
            )
        rows = np.frombuffer(
            bytes(idx[: w * h]), dtype=np.uint8
        ).reshape(h, w)
        if flags & 0x40:
            out = np.zeros_like(rows)
            out[_interlace_order(h)] = rows
            rows = out
        if rows.max() >= len(pal):
            raise ValueError("GIF pixel index exceeds color table")
        frames.append({
            "x": x,
            "y": y,
            "delay_cs": (gce or {}).get("delay_cs", 0),
            "disposal": (gce or {}).get("disposal", 0),
            "transparent": (gce or {}).get("transparent"),
            "pixels": pal[rows],
        })
        gce = None  # a GCE governs exactly one following frame
    raise ValueError("truncated GIF: no trailer")
