"""Pure-stdlib PNG codec: zlib + struct + numpy, no codec libraries.

Purpose: a real media decode path with no codec library — the
container has no Pillow/cv2/ffmpeg, but PNG is decodable with nothing
beyond ``zlib`` (IDAT inflate) and numpy (per-row defiltering, including
the Paeth predictor). The reference ships a PNG fixture
(tests/store/uploads/emerald/201808/protein.png) through its magic-byte
sniffing path; here the decode itself is real.

Scope: every legal bit depth — 8-bit everywhere, 16-bit
(big-endian sample pairs recombined AFTER the byte-oriented §9
defiltering, returned as uint16), and 1/2/4-bit gray or palette
(bit-group unpack per scanline; gray scales by the exact-integer
linear mapping 255/(2^d - 1), palette indices stay raw for the PLTE
lookup) — sequential AND Adam7-interlaced layouts (seven
independently filtered passes scattered on the §8.2 grid, each pass
bit-packed at its own width); color types 0 (gray), 2 (RGB),
3 (palette), 4 (gray+alpha), 6 (RGBA); illegal depth/color
combinations (sub-8 RGB, 16-bit palette) are refusals. Pinned
EXTERNALLY by JDK-written gray16/gray4/gray2/gray1/pal_png fixtures
(tests/fixtures/conformance/). The encoder writes grayscale only
(all the fixtures need) and can cycle every filter type per row, which
makes an encode→decode round trip exercise each of the five defilter
branches. Defiltering of Sub is a per-channel cumsum; Average/Paeth are
sequential per pixel (their reconstruction recurrence cannot vectorize) —
fine for fixture-sized images; a production deployment swaps in a codec
library behind the same decode_image contract (multimodal.py).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: Adam7 pass grid (x_start, y_start, x_step, y_step), PNG spec §8.2
ADAM7_PASSES = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4): closest of left/up/upleft
    to the linear estimate a + b - c, ties broken left, up, upleft."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _filter_rows(sub: np.ndarray, row_filters: tuple[int, ...]) -> bytearray:
    """Filter one (sub-)image's rows per the cycling filter list."""
    h, w = sub.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        row = sub[y].astype(np.int32)
        left = np.concatenate(([0], row[:-1]))
        ft = row_filters[y % len(row_filters)]
        raw.append(ft)
        if ft == 0:
            enc = row
        elif ft == 1:  # Sub
            enc = row - left
        elif ft == 2:  # Up
            enc = row - prev
        elif ft == 3:  # Average
            enc = row - (left + prev) // 2
        elif ft == 4:  # Paeth
            upleft = np.concatenate(([0], prev[:-1]))
            enc = row - _paeth_vec(left, prev, upleft)
        else:
            raise ValueError(f"unknown filter type {ft}")
        raw.extend((enc % 256).astype(np.uint8).tobytes())
        prev = row
    return raw


def encode_png_gray(
    img: np.ndarray,
    row_filters: tuple[int, ...] = (0,),
    interlace: bool = False,
) -> bytes:
    """Encode an HxW uint8 array as an 8-bit grayscale PNG. ``row_filters``
    cycles per scanline (``(0, 1, 2, 3, 4)`` exercises every filter);
    ``interlace`` emits the Adam7 pass layout (each pass filtered
    independently, per spec)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7_PASSES:
            sub = img[y0::dy, x0::dx]
            if sub.size:
                raw += _filter_rows(sub, row_filters)
    else:
        raw = _filter_rows(img, row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, int(interlace))
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _unfilter(line: np.ndarray, prev: np.ndarray, ft: int, bpp: int) -> np.ndarray:
    """Reconstruct one scanline (int32 in, uint8-range out)."""
    if ft == 0:
        return line % 256
    if ft == 2:  # Up
        return (line + prev) % 256
    if ft == 1:  # Sub: per-channel cumsum (recon[i] = line[i] + recon[i-bpp])
        out = line.copy()
        for c in range(bpp):
            out[c::bpp] = np.cumsum(line[c::bpp]) % 256
        return out
    out = np.zeros_like(line)
    if ft == 3:  # Average: sequential (depends on reconstructed left)
        for i in range(len(line)):
            left = out[i - bpp] if i >= bpp else 0
            out[i] = (line[i] + (left + prev[i]) // 2) % 256
        return out
    if ft == 4:  # Paeth: sequential
        for i in range(len(line)):
            a = out[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (line[i] + pred) % 256
        return out
    raise ValueError(f"unknown filter type {ft}")


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to an HxWxC uint8 array (C per _CHANNELS; palette
    images come back expanded to RGB)."""
    if data[:8] != SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        if pos + 12 + length > len(data):
            raise ValueError("truncated PNG: chunk length exceeds data")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if (
        depth not in (1, 2, 4, 8, 16)
        or comp != 0
        or filt != 0
        or interlace not in (0, 1)
        or (depth < 8 and color_type not in (0, 3))
        or (depth == 16 and color_type == 3)
    ):
        raise NotImplementedError(
            f"unsupported PNG variant (depth={depth} color={color_type} "
            f"interlace={interlace})"
        )
    channels = _CHANNELS[color_type]
    # PNG filtering is BYTE-oriented (spec §9): bpp is the byte
    # distance to the pixel left, floored at 1 for sub-8 depths
    bpp = max(1, channels * depth // 8)
    dtype = np.uint16 if depth == 16 else np.uint8

    def row_samples(rec: np.ndarray, wp: int) -> np.ndarray:
        """One defiltered byte row -> (wp, channels) samples: combine
        big-endian pairs at depth 16, unpack bit groups below 8 (gray
        scales by the exact-integer linear mapping 255/(2^d - 1);
        palette indices stay raw for the PLTE lookup)."""
        if depth == 8:
            return rec.astype(np.uint8).reshape(wp, channels)
        if depth == 16:
            b = rec.astype(np.uint16)
            return ((b[0::2] << 8) | b[1::2]).reshape(wp, channels)
        per_byte = 8 // depth
        b = rec.astype(np.uint8)
        shifts = np.arange(per_byte - 1, -1, -1, dtype=np.uint8) * depth
        groups = (b[:, None] >> shifts[None, :]) & ((1 << depth) - 1)
        samples = groups.reshape(-1)[:wp]
        if color_type == 0:
            samples = samples * (255 // ((1 << depth) - 1))
        return samples.astype(np.uint8).reshape(wp, 1)

    def row_bytes(wp: int) -> int:
        return (wp * channels * depth + 7) // 8

    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        stride = row_bytes(w)
        if len(raw) != h * (stride + 1):
            raise ValueError("IDAT length does not match dimensions")
        img = np.zeros((h, w, channels), dtype=dtype)
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            off = y * (stride + 1)
            ft = raw[off]
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=off + 1
            )
            prev = _unfilter(line.astype(np.int32), prev, ft, bpp)
            img[y] = row_samples(prev, w)
    else:
        # Adam7 (PNG spec §8.2): seven passes, each an independently
        # filtered sub-image scattered onto the (y0::dy, x0::dx) grid
        img = np.zeros((h, w, channels), dtype=dtype)
        off = 0
        for x0, y0, dx, dy in ADAM7_PASSES:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            pstride = row_bytes(wp)
            need = hp * (pstride + 1)
            if off + need > len(raw):
                raise ValueError("IDAT too short for the Adam7 passes")
            prev = np.zeros(pstride, dtype=np.int32)
            for py in range(hp):
                ft = raw[off]
                line = np.frombuffer(
                    raw, dtype=np.uint8, count=pstride, offset=off + 1
                )
                prev = _unfilter(line.astype(np.int32), prev, ft, bpp)
                img[y0 + py * dy, x0::dx] = row_samples(prev, wp)
                off += pstride + 1
        if off != len(raw):
            raise ValueError("IDAT length does not match the Adam7 passes")
    if color_type == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(img[:, :, 0].max(initial=0)) * 3 + 2 >= len(plte):
            raise ValueError("palette index beyond the PLTE table")
        img = pal[img[:, :, 0]]
    return img


def block_mean_resize(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Area-average resize to (out_h, out_w, C) with integer bucket edges —
    the deterministic stand-in for a real resampling kernel."""
    h, w = img.shape[:2]
    img2 = img.reshape(h, w, -1).astype(np.int64)
    c = img2.shape[2]
    out = np.zeros((out_h, out_w, c), dtype=np.uint8)
    for j in range(out_h):
        y0, y1 = (j * h) // out_h, ((j + 1) * h) // out_h
        for i in range(out_w):
            x0, x1 = (i * w) // out_w, ((i + 1) * w) // out_w
            cell = img2[y0 : max(y1, y0 + 1), x0 : max(x1, x0 + 1)]
            out[j, i] = cell.reshape(-1, c).mean(axis=0).astype(np.uint8)
    return out
