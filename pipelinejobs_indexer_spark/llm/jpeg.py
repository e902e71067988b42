"""Baseline JPEG (ITU-T T.81 sequential DCT) decoder — pure stdlib.

Companion to png.py: closes the JPEG half of decode_image without
Pillow/cv2. Supports the baseline feature set a training-data pipeline
meets in practice:

  * SOF0 (baseline sequential), 8-bit samples;
  * 1 component (grayscale) or 3 components (YCbCr -> RGB, JFIF
    convention) with arbitrary sampling factors (4:4:4, 4:2:0, 4:2:2 —
    chroma upsampled by pixel replication);
  * Huffman entropy coding (DHT), byte-stuffing-aware bit reader,
    restart markers (DRI / RSTn);
  * DQT 8-bit and 16-bit quantization tables;
  * PROGRESSIVE mode (SOF2) — the variant most web JPEGs
    actually are: scans accumulate into a per-block coefficient store
    (DC-first interleaved or single-component, DC refinement bits,
    AC-first spectral bands with EOB runs, AC refinement per T.81
    G.1.2.3 including ZRL-in-refinement and run-crossing EOB), with
    dequantize + IDCT once at EOI. The progressive path is
    differential-tested against the baseline decoder on identical
    coefficient content — exact pixel equality, no float tolerance.

Not supported (loud errors, not wrong pixels): arithmetic coding,
12-bit precision, hierarchical modes, mixed-table DC scans out of
frame order.

Evidence strategy (the png.py pattern): unit tests hand-assemble
bitstreams whose decoded pixels are KNOWN IN CLOSED FORM — a DC-only
block decodes to the flat value round(DC*q/8) + 128 on every pixel, DC
prediction chains across blocks, negative diffs exercise the
ones-complement encoding, and a 3-component DC-only image lands exact
YCbCr->RGB values. llm_multimodal_jpeg (multimodal.py) runs the decoder
distributed under a closed-form DuckDB oracle.

Public-spec provenance: the marker grammar, zigzag order, Huffman code
construction (Annex C), and the standard Annex K tables are from the
published T.81 specification; no third-party code.
"""

from __future__ import annotations

import math
import struct

from .bits import MsbWriter, canonical_codes, read_symbol

# Zigzag scan order: index i in the entropy stream -> (row, col) raster
# position, per T.81 Figure 5.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Standard Huffman tables, T.81 Annex K.3 (public spec constants).
STD_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
STD_DC_LUM_VALS = list(range(12))
STD_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
STD_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Precomputed IDCT basis: cos((2x+1)*u*pi/16) for x,u in 0..7.
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)] for x in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def _huffman(bits: list[int], vals: list[int]) -> tuple[dict, dict]:
    """(decode, encode) tables of a DHT's BITS counts and HUFFVAL
    symbols: canonical codes in HUFFVAL order (T.81 Annex C)."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    return canonical_codes([(ln, vals[i]) for i, ln in enumerate(lengths)])


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; stops at any other marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0
        self.marker: int | None = None

    def _next_byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy stream")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            self.marker = nxt
            raise _MarkerHit()
        self.pos += 1
        return b

    def read_bit(self) -> int:
        if self.bit == 0:
            self.cur = self._next_byte()
            self.bit = 8
        self.bit -= 1
        return (self.cur >> self.bit) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def byte_align(self) -> None:
        self.bit = 0


class _MarkerHit(Exception):
    pass


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t low bits to the signed coefficient value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _idct_block(coef: list[int]) -> list[int]:
    """8x8 inverse DCT + level shift + clamp, direct separable form."""
    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                cy = _C[v] * _COS[y][v]
                for u in range(8):
                    f = coef[v * 8 + u]
                    if f:
                        s += _C[u] * cy * _COS[x][u] * f
            val = int(round(s / 4)) + 128
            out.append(0 if val < 0 else 255 if val > 255 else val)
    return out


def _fancy_upsample_h(plane: list[list[int]]) -> list[list[int]]:
    """Horizontal 2x triangle-filter upsample (the libjpeg
    h2v1_fancy_upsample weights, 3/4-1/4 with edge copy): out[2i] =
    (3*in[i] + in[i-1] + 1) >> 2, out[2i+1] = (3*in[i] + in[i+1] + 2)
    >> 2. T.81 leaves the upsampling filter to the decoder; this is the
    de-facto-standard choice (libjpeg do_fancy_upsampling), pinned
    externally by the JDK conformance fixtures."""
    out = []
    for row in plane:
        n = len(row)
        if n == 1:
            out.append([row[0], row[0]])
            continue
        orow = [0] * (2 * n)
        orow[0] = row[0]
        orow[1] = (3 * row[0] + row[1] + 2) >> 2
        for i in range(1, n - 1):
            v3 = 3 * row[i]
            orow[2 * i] = (v3 + row[i - 1] + 1) >> 2
            orow[2 * i + 1] = (v3 + row[i + 1] + 2) >> 2
        orow[2 * n - 2] = (3 * row[n - 1] + row[n - 2] + 1) >> 2
        orow[2 * n - 1] = row[n - 1]
        out.append(orow)
    return out


def _fancy_upsample_h2v2(plane: list[list[int]]) -> list[list[int]]:
    """2x2 triangle-filter upsample (libjpeg h2v2_fancy_upsample):
    vertical 3:1 blend of the two nearest input rows, then the same
    horizontal 3:1 blend, with >>4 roundings of 8 and 7 alternating so
    the filter is exactly invertible against libjpeg output."""
    h = len(plane)
    out = []
    for oy in range(2 * h):
        iy = oy >> 1
        ny = iy - 1 if oy % 2 == 0 else iy + 1
        ny = min(max(ny, 0), h - 1)
        r0, r1 = plane[iy], plane[ny]
        n = len(r0)
        colsum = [3 * r0[i] + r1[i] for i in range(n)]
        if n == 1:
            v = colsum[0]
            out.append([(v * 4 + 8) >> 4, (v * 4 + 7) >> 4])
            continue
        orow = [0] * (2 * n)
        orow[0] = (colsum[0] * 4 + 8) >> 4
        orow[1] = (colsum[0] * 3 + colsum[1] + 7) >> 4
        for i in range(1, n - 1):
            c3 = colsum[i] * 3
            orow[2 * i] = (c3 + colsum[i - 1] + 8) >> 4
            orow[2 * i + 1] = (c3 + colsum[i + 1] + 7) >> 4
        orow[2 * n - 2] = (colsum[n - 1] * 3 + colsum[n - 2] + 8) >> 4
        orow[2 * n - 1] = (colsum[n - 1] * 4 + 7) >> 4
        out.append(orow)
    return out


def _upsample_plane(
    plane: list[list[int]], sx: int, sy: int, cw: int, ch: int,
    out_w: int, out_h: int,
) -> list[list[int]]:
    """Upsample a component-resolution plane to frame resolution.
    The plane is first cropped to its true downsampled dims (cw x ch)
    so edge-copy filter semantics see the real image edge, not MCU
    padding — matching libjpeg, which upsamples at downsampled_width.
    2x ratios get the triangle filter; anything else replicates
    (libjpeg int_upsample does the same for non-2x ratios)."""
    if sx == 1 and sy == 1:
        return plane
    cropped = [row[:cw] for row in plane[:ch]]
    if (sx, sy) == (2, 1):
        up = _fancy_upsample_h(cropped)
    elif (sx, sy) == (2, 2):
        up = _fancy_upsample_h2v2(cropped)
    else:
        up = []
        for row in cropped:
            orow = [v for v in row for _ in range(sx)]
            for _ in range(sy):
                up.append(orow)
    # pad back out to at least (out_h, out_w) by edge replication so
    # the caller's crop indexing never falls off (odd frame dims make
    # 2*cw == out_w + 1 or out_w)
    while len(up) < out_h:
        up.append(up[-1])
    for row in up:
        while len(row) < out_w:
            row.append(row[-1])
    return up


def decode_jpeg(data: bytes):
    """Decode a baseline JPEG. Returns (height, width, n_components,
    pixels) with pixels as a list of rows; each row a list of ints
    (grayscale) or (r, g, b) tuples. Truncated or corrupt payloads raise
    ValueError (data error), unsupported modes raise with the mode named."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    try:
        return _decode_jpeg(data)
    except (IndexError, struct.error, KeyError, StopIteration) as exc:
        # KeyError: scan references an undefined Huffman/quant table id;
        # StopIteration: scan references a component the frame lacks.
        raise ValueError(f"truncated or corrupt JPEG: {exc!r}") from exc


def _decode_jpeg(data: bytes):
    pos = 2
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        # ITU-T T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker; skip them so 0xFF is never misread as the marker itself.
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg_end = pos + seglen
        body = pos + 2
        if marker == 0xDB:  # DQT
            p = body
            while p < seg_end:
                pq, tq = data[p] >> 4, data[p] & 0x0F
                p += 1
                n = 64 * (2 if pq else 1)
                raw = data[p : p + n]
                vals = (
                    list(struct.unpack(f">{64}H", raw)) if pq else list(raw)
                )
                table = [0] * 64
                for i, zz in enumerate(ZIGZAG):
                    table[zz] = vals[i]
                qt[tq] = table
                p += n
        elif marker == 0xC4:  # DHT
            p = body
            while p < seg_end:
                tc, th = data[p] >> 4, data[p] & 0x0F
                bits = list(data[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(data[p + 17 : p + 17 + nv])
                (huff_ac if tc else huff_dc)[th] = _huffman(bits, vals)[0]
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", data, body)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", data, body)
            if prec != 8:
                raise ValueError(f"{prec}-bit precision not supported")
            comps = []
            p = body + 6
            for _ in range(nc):
                cid, hv, tq_ = data[p], data[p + 1], data[p + 2]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError(
                        f"JPEG sampling factors {ch}x{cv} outside 1..4"
                    )
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq_})
                p += 3
            if h == 0 or w == 0 or nc == 0:
                raise ValueError("JPEG frame with zero dimension/components")
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
            if marker == 0xC2:
                coef_store = _init_coef_store(frame)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(f"SOF{marker - 0xC0} mode not supported")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = data[body]
            p = body + 1
            scan = []
            for _ in range(ns):
                cs, tables = data[p], data[p + 1]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tables >> 4, tables & 0x0F))
                p += 2
            ss, se = data[p], data[p + 1]
            ah, al = data[p + 2] >> 4, data[p + 2] & 0x0F
            if frame["progressive"]:
                pos = _decode_progressive_scan(
                    data, seg_end, frame, scan, coef_store,
                    qt, huff_dc, huff_ac, ss, se, ah, al,
                    restart_interval,
                )
                continue
            if (ss, se, ah) != (0, 63, 0):
                raise ValueError(
                    f"baseline scan with spectral selection {ss}..{se}/"
                    f"Ah={ah}"
                )
            # one interleaved scan covering every component IN FRAME
            # ORDER is the only supported shape — anything else (legal
            # non-interleaved baseline: one scan per component) must
            # fail LOUDLY, never return zero-filled planes.
            if len(scan) != len(frame["comps"]) or any(
                s[0] is not c for s, c in zip(scan, frame["comps"])
            ):
                raise ValueError(
                    "non-interleaved / reordered scans not supported "
                    f"(scan covers {len(scan)} of {len(frame['comps'])} "
                    "components)"
                )
            pixels = _decode_scan(
                data, seg_end, frame, scan, qt, huff_dc, huff_ac,
                restart_interval,
            )
            return frame["h"], frame["w"], len(frame["comps"]), pixels
        pos = seg_end
    if frame is not None and frame.get("progressive"):
        if not frame.get("_any_scan"):
            raise ValueError("no scan data (missing SOS)")
        pixels = _reconstruct_progressive(frame, coef_store, qt)
        return frame["h"], frame["w"], len(frame["comps"]), pixels
    raise ValueError("no scan data (missing SOS)")


# ------------------------------------------ progressive mode (Annex G)
def _frame_geometry(frame):
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _init_coef_store(frame):
    """Per-component MCU-padded block grids of raw (quantized)
    coefficients — progressive scans accumulate into these and the
    IDCT runs once at EOI."""
    _hmax, _vmax, mcux, mcuy = _frame_geometry(frame)
    store = []
    for c in frame["comps"]:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        store.append([[[0] * 64 for _ in range(bw)] for _ in range(bh)])
    return store


def _noninterleaved_blocks(frame, comp):
    """Block-grid dims of one component in a non-interleaved scan
    (T.81 A.2.2: ceil of the scaled sample dims, NOT MCU-padded)."""
    hmax, vmax, _mcux, _mcuy = _frame_geometry(frame)
    cw = (frame["w"] * comp["h"] + hmax - 1) // hmax
    ch = (frame["h"] * comp["v"] + vmax - 1) // vmax
    return (cw + 7) // 8, (ch + 7) // 8


def _expect_rst(reader, data, count, interval):
    """T.81 E.1.4 restart check shared by progressive scans."""
    reader.byte_align()
    expected = 0xD0 + (count // interval - 1) % 8
    rpos = reader.pos
    while (
        rpos + 1 < len(data)
        and data[rpos] == 0xFF
        and data[rpos + 1] == 0xFF
    ):
        rpos += 1
    got = (
        data[rpos + 1]
        if rpos + 1 < len(data) and data[rpos] == 0xFF
        else None
    )
    if got != expected:
        raise ValueError(
            f"expected RST{expected - 0xD0} at unit {count} (restart "
            f"interval {interval}), found "
            + (f"marker {got:#x}" if got is not None else "none")
        )
    reader.pos = rpos + 2


def _decode_progressive_scan(
    data, pos, frame, scan, store, qt, huff_dc, huff_ac,
    ss, se, ah, al, restart_interval,
):
    """One SOF2 scan into the coefficient store; returns the stream
    position of the marker that follows the entropy data."""
    frame["_any_scan"] = True
    comps = frame["comps"]
    if ah and ah != al + 1:
        raise ValueError(f"successive approximation Ah={ah}, Al={al}")
    if al > 13:
        raise ValueError(f"point transform Al={al}")
    reader = _BitReader(data, pos)
    try:
        if ss == 0:
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            _prog_dc_scan(
                reader, data, frame, scan, store, huff_dc, ah, al,
                restart_interval,
            )
        else:
            if len(scan) != 1:
                raise ValueError(
                    "progressive AC scan must cover exactly one component"
                )
            if not 1 <= ss <= se <= 63:
                raise ValueError(f"bad spectral selection {ss}..{se}")
            comp, _td, ta = scan[0]
            ci = next(i for i, c in enumerate(comps) if c is comp)
            _prog_ac_scan(
                reader, data, frame, comp, store[ci], huff_ac[ta],
                ss, se, ah, al, restart_interval,
            )
    except _MarkerHit:
        where = (
            f"marker {reader.marker:#x}"
            if reader.marker is not None
            else "a lone trailing 0xFF"
        )
        raise ValueError(f"entropy stream ended early at {where}") from None
    reader.byte_align()
    npos = reader.pos
    while npos + 1 < len(data) and data[npos] == 0xFF and data[npos + 1] == 0xFF:
        npos += 1
    if npos >= len(data) or data[npos] != 0xFF:
        raise ValueError("progressive scan not followed by a marker")
    return npos


def _prog_dc_scan(
    reader, data, frame, scan, store, huff_dc, ah, al, restart_interval
):
    comps = frame["comps"]
    _hmax, _vmax, mcux, mcuy = _frame_geometry(frame)
    scan_idx = [
        next(i for i, c in enumerate(comps) if c is s[0]) for s in scan
    ]
    if scan_idx != sorted(scan_idx):
        raise ValueError("progressive DC scan components out of frame order")
    pred = {s[0]["id"]: 0 for s in scan}
    count = 0
    if len(scan) == 1:
        comp, td, _ta = scan[0]
        ci = scan_idx[0]
        nbw, nbh = _noninterleaved_blocks(frame, comp)
        units = [
            (ci, by, bx, td) for by in range(nbh) for bx in range(nbw)
        ]
    else:
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                for (comp, td, _ta), ci in zip(scan, scan_idx):
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            units.append(
                                (ci, my * comp["v"] + by,
                                 mx * comp["h"] + bx, td)
                            )
        # restart intervals count MCUs; rewrite units into MCU groups
    per_mcu = (
        1 if len(scan) == 1
        else sum(c["h"] * c["v"] for c, _t, _a in scan)
    )
    for ui, (ci, by, bx, td) in enumerate(units):
        if (
            restart_interval
            and ui % per_mcu == 0
            and (ui // per_mcu) % restart_interval == 0
            and ui
        ):
            _expect_rst(reader, data, ui // per_mcu, restart_interval)
            pred = {k: 0 for k in pred}
        coef = store[ci][by][bx]
        if ah == 0:
            t = read_symbol(reader, huff_dc[td], 16)
            diff = _extend(reader.read_bits(t), t) if t else 0
            cid = frame["comps"][ci]["id"]
            pred[cid] += diff
            coef[0] = pred[cid] << al
        else:
            if reader.read_bit():
                coef[0] |= 1 << al
        count += 1


def _prog_ac_scan(
    reader, data, frame, comp, comp_store, ac_table,
    ss, se, ah, al, restart_interval,
):
    nbw, nbh = _noninterleaved_blocks(frame, comp)
    eobrun = 0
    count = 0
    for by in range(nbh):
        for bx in range(nbw):
            if (
                restart_interval
                and count
                and count % restart_interval == 0
            ):
                _expect_rst(reader, data, count, restart_interval)
                eobrun = 0
            coef = comp_store[by][bx]
            if ah == 0:
                eobrun = _ac_first_block(
                    reader, coef, ac_table, ss, se, al, eobrun
                )
            else:
                eobrun = _ac_refine_block(
                    reader, coef, ac_table, ss, se, al, eobrun
                )
            count += 1
    if eobrun:
        raise ValueError("EOB run extends past the last block of the scan")


def _ac_first_block(reader, coef, ac_table, ss, se, al, eobrun):
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = read_symbol(reader, ac_table, 16)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += reader.read_bits(r)
            return eobrun - 1  # current block is part of the run
        k += r
        if k > se:
            raise ValueError("AC run past the spectral band")
        coef[ZIGZAG[k]] = _extend(reader.read_bits(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, coef, ac_table, ss, se, al, eobrun):
    """T.81 G.1.2.3: refine already-nonzero coefficients with
    correction bits while placing newly-significant ±1<<Al values."""
    p1, m1 = 1 << al, -1 << al

    def correct(zz: int) -> None:
        if reader.read_bit():
            if coef[zz] > 0:
                coef[zz] += p1
            elif coef[zz] < 0:
                coef[zz] += m1

    k = ss
    if not eobrun:
        while k <= se:
            rs = read_symbol(reader, ac_table, 16)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # ZRL in refinement: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        f"AC refinement with magnitude size {s}"
                    )
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                zz = ZIGZAG[k]
                if coef[zz]:
                    correct(zz)
                else:
                    if r == 0:
                        if newval:
                            coef[zz] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun:
        while k <= se:
            zz = ZIGZAG[k]
            if coef[zz]:
                correct(zz)
            k += 1
        return eobrun - 1
    return 0


def _reconstruct_progressive(frame, store, qt):
    """Dequantize + IDCT every stored block into component-resolution
    planes, then upsample/crop/convert via _planes_to_pixels — the
    same tail as the baseline path."""
    comps = frame["comps"]
    _hmax, _vmax, mcux, mcuy = _frame_geometry(frame)
    planes = [
        [[0] * (mcux * 8 * c["h"]) for _ in range(mcuy * 8 * c["v"])]
        for c in comps
    ]
    for ci, comp in enumerate(comps):
        q = qt[comp["tq"]]
        for by, rowblocks in enumerate(store[ci]):
            for bx, raw in enumerate(rowblocks):
                coef = [raw[i] * q[i] for i in range(64)]
                block = _idct_block(coef)
                ox, oy = bx * 8, by * 8
                plane = planes[ci]
                for yy in range(8):
                    plane[oy + yy][ox : ox + 8] = block[yy * 8 : yy * 8 + 8]
    return _planes_to_pixels(frame, planes)


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac, restart_interval):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component sample planes at COMPONENT resolution; subsampled
    # components are upsampled once at the end (triangle filter), not
    # replicated block by block
    planes = [
        [[0] * (mcux * 8 * c["h"]) for _ in range(mcuy * 8 * c["v"])]
        for c in comps
    ]
    reader = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # T.81 E.1.4: when DRI is active an RSTn marker MUST sit at
                # every interval boundary, cycling D0..D7.  A missing or
                # out-of-sequence RSTn means the stream is corrupt; decoding
                # on would desync predictors and emit wrong pixels silently,
                # so fail loudly instead (module contract: loud errors, not
                # wrong pixels).
                reader.byte_align()
                expected = 0xD0 + (mcu_count // restart_interval - 1) % 8
                rpos = reader.pos
                while (  # B.1.1.2 fill bytes may precede the marker
                    rpos + 1 < len(data)
                    and data[rpos] == 0xFF
                    and data[rpos + 1] == 0xFF
                ):
                    rpos += 1
                got = (
                    data[rpos + 1]
                    if rpos + 1 < len(data) and data[rpos] == 0xFF
                    else None
                )
                if got != expected:
                    raise ValueError(
                        f"expected RST{expected - 0xD0} at MCU {mcu_count} "
                        f"(restart interval {restart_interval}), found "
                        + (f"marker {got:#x}" if got is not None else "none")
                    )
                reader.pos = rpos + 2
                pred = {c["id"]: 0 for c in comps}
            try:
                for ci, (comp, td, ta) in enumerate(scan):
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            coef = _decode_block(
                                reader, huff_dc[td], huff_ac[ta],
                                qt[comp["tq"]], pred, comp["id"],
                            )
                            block = _idct_block(coef)
                            ox = (mx * comp["h"] + bx) * 8
                            oy = (my * comp["v"] + by) * 8
                            plane = planes[ci]
                            for yy in range(8):
                                plane[oy + yy][ox : ox + 8] = (
                                    block[yy * 8 : yy * 8 + 8]
                                )
            except _MarkerHit:
                where = (
                    f"marker {reader.marker:#x}"
                    if reader.marker is not None
                    else "a lone trailing 0xFF"  # truncated mid-stuffing
                )
                raise ValueError(
                    f"entropy stream ended early at {where}"
                ) from None
            mcu_count += 1
    return _planes_to_pixels(frame, planes)


def _planes_to_pixels(frame, planes):
    """Upsample component planes to frame resolution, crop to (h, w),
    and convert color (1 component: gray; 3: JFIF YCbCr -> RGB)."""
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, comp in enumerate(comps):
        sx = hmax // comp["h"]
        sy = vmax // comp["v"]
        cw = (w * comp["h"] + hmax - 1) // hmax
        ch = (h * comp["v"] + vmax - 1) // vmax
        full.append(_upsample_plane(planes[ci], sx, sy, cw, ch, w, h))
    if len(comps) == 1:
        return [full[0][y][:w] for y in range(h)]
    if len(comps) == 3:
        out = []
        for y in range(h):
            row = []
            for x in range(w):
                yy = full[0][y][x]
                cb = full[1][y][x] - 128
                cr = full[2][y][x] - 128
                r = int(round(yy + 1.402 * cr))
                g = int(round(yy - 0.344136 * cb - 0.714136 * cr))
                b = int(round(yy + 1.772 * cb))
                row.append(tuple(max(0, min(255, v)) for v in (r, g, b)))
            out.append(row)
        return out
    raise ValueError(f"{len(comps)}-component images not supported")


def _decode_block(reader, dc_table, ac_table, q, pred, cid):
    coef = [0] * 64
    t = read_symbol(reader, dc_table, 16)
    diff = _extend(reader.read_bits(t), t) if t else 0
    pred[cid] += diff
    coef[0] = pred[cid] * q[0]
    k = 1
    while k < 64:
        rs = read_symbol(reader, ac_table, 16)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: skip 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        zz = ZIGZAG[k]
        coef[zz] = _extend(reader.read_bits(s), s) * q[zz]
        k += 1
    return coef


# ------------------------------------------------- fixture synthesis side
# Hand-assembled bitstreams for tests and the distributed operator: the
# encoder below shares with the decoder above only the public constants
# (zigzag order, Annex K tables) and the canonical code assignment
# (`_huffman`, checked against Annex K's published DC codes in
# test_bits.py). Headers are packed field by field, so the decoder
# independently re-derives block layout, EXTEND semantics and byte
# stuffing.


class _BitWriter(MsbWriter):
    """Entropy-coded segment writer: flush pads the last byte with
    1-bits and stuffs a 0x00 after every 0xFF byte (T.81 F.1.2.3)."""

    def flush(self) -> bytes:
        self.write(0xFF, -self.nbits % 8)
        return bytes(self.out).replace(b"\xff", b"\xff\x00")


_DC_CODES = _huffman(STD_DC_LUM_BITS, STD_DC_LUM_VALS)[1]
_AC_CODES = _huffman(STD_AC_LUM_BITS, STD_AC_LUM_VALS)[1]


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def synth_dc_jpeg(
    dc_blocks: list[list[int]], width: int, height: int, q: int = 16
) -> bytes:
    """Minimal baseline JPEG: DC-only blocks (all AC zero), one quant
    table with every entry = q, standard Annex K Huffman tables.

    ``dc_blocks``: per component, the quantized DC value of each 8x8
    block in raster order (width*height/64 entries for 1x1 sampling).
    1 entry = grayscale, 3 = YCbCr 4:4:4. Every pixel of a block decodes
    to clamp(round(q * DC / 8) + 128) — the closed-form the tests and
    the DuckDB oracle rely on."""
    nc = len(dc_blocks)
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(nc))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, height, width, nc) + sof_comps)
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    sos = _seg(
        0xDA,
        bytes([nc])
        + b"".join(bytes([i + 1, 0x00]) for i in range(nc))
        + bytes([0, 63, 0]),
    )
    bw = _BitWriter()
    n_blocks = (width // 8) * (height // 8)
    preds = [0] * nc
    for b in range(n_blocks):
        for ci in range(nc):  # interleaved MCU order == raster for 1x1
            diff = dc_blocks[ci][b] - preds[ci]
            preds[ci] = dc_blocks[ci][b]
            t = diff.bit_length() if diff > 0 else (-diff).bit_length()
            bw.write(*_DC_CODES[t])
            if t:
                bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
            bw.write(*_AC_CODES[0x00])  # EOB
    return (
        b"\xff\xd8" + qtab + sof + dht + sos + bw.flush() + b"\xff\xd9"
    )


def synth_ac_jpeg(
    blocks: list[tuple[int, int, int]], width: int, height: int, q: int = 16
) -> bytes:
    """Baseline grayscale JPEG whose blocks carry one AC coefficient:
    ``blocks`` is per-8x8-block ``(dc, u, ac)`` — quantized DC, the
    row-0 frequency index u (1..7, raster position (0,u)), and the
    quantized AC value. This is the float-DSP door the DC-only synth
    cannot open: a nonzero AC coefficient exercises the cosine terms of
    the real IDCT, whose per-pixel values have no integer closed form —
    the banded Parseval oracle (llm_multimodal_jpeg_dsp) certifies them
    instead: for a single AC coefficient the block's centered energy is
    exactly (q*ac)^2 before rounding (the 2D DCT-III basis functions
    are orthogonal with norm 16/(C_u^2 C_v^2) under T.81's 1/4
    scaling)."""
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(
        0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = _BitWriter()
    n_blocks = (width // 8) * (height // 8)
    if len(blocks) != n_blocks:
        raise ValueError(f"need {n_blocks} blocks, got {len(blocks)}")
    pred = 0
    for dc, u, ac in blocks:
        if not 1 <= u <= 7:
            raise ValueError(f"AC frequency index {u} outside 1..7")
        if ac == 0 or abs(ac).bit_length() > 10:
            raise ValueError(f"AC value {ac} not codable (1..10 bits)")
        diff = dc - pred
        pred = dc
        t = diff.bit_length() if diff > 0 else (-diff).bit_length()
        bw.write(*_DC_CODES[t])
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        # raster (0, u) sits at zigzag stream index k; run = k-1 zeros,
        # with ZRL (0xF0) batching runs past 15 (u=6,7 sit at stream
        # index 27/28)
        run = ZIGZAG.index(u) - 1
        while run > 15:
            bw.write(*_AC_CODES[0xF0])
            run -= 16
        size = abs(ac).bit_length()
        bw.write(*_AC_CODES[(run << 4) | size])
        bw.write(ac if ac > 0 else ac + (1 << size) - 1, size)
        bw.write(*_AC_CODES[0x00])  # EOB
    return b"\xff\xd8" + qtab + sof + dht + sos + bw.flush() + b"\xff\xd9"


def synth_progressive_jpeg(
    blocks: list[tuple[int, int, int]],
    width: int,
    height: int,
    q: int = 16,
    refine_dc: bool = False,
) -> bytes:
    """Grayscale SOF2 progressive JPEG with a scripted scan sequence:
    a DC-first scan (successive approximation Al=1 when ``refine_dc``),
    an optional DC-refinement scan carrying each block's low bit, and
    one AC-first scan over the 1..63 band whose all-zero tails compress
    via EOB runs. ``blocks`` is per-8x8-block ``(dc, u, ac)`` as in
    synth_ac_jpeg; ``ac == 0`` leaves the block DC-only (the closed-form
    case: every pixel = clamp(round(q*dc/8)+128)). The scan script is
    what real progressive encoders emit (DC pass, then spectral bands),
    so the decoder's coefficient store, EOB-run accounting, and
    successive-approximation paths all carry evidence."""
    n_blocks = (width // 8) * (height // 8)
    if len(blocks) != n_blocks:
        raise ValueError(f"need {n_blocks} blocks, got {len(blocks)}")
    qtab = _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    sof = _seg(
        0xC2, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_LUM_BITS) + bytes(STD_DC_LUM_VALS)
        + bytes([0x10]) + bytes(STD_AC_LUM_BITS) + bytes(STD_AC_LUM_VALS),
    )

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    out = bytearray(b"\xff\xd8" + qtab + sof + dht)
    # --- scan 1: DC first
    al1 = 1 if refine_dc else 0
    out += sos(0, 0, 0, al1)
    bw = _BitWriter()
    pred = 0
    for dc, _u, _ac in blocks:
        v = dc >> al1
        diff = v - pred
        pred = v
        t = diff.bit_length() if diff > 0 else (-diff).bit_length()
        bw.write(*_DC_CODES[t])
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    out += bw.flush()
    # --- scan 2: DC refinement (one raw bit per block)
    if refine_dc:
        out += sos(0, 0, 1, 0)
        bw = _BitWriter()
        for dc, _u, _ac in blocks:
            bw.write(dc & 1, 1)
        out += bw.flush()
    # --- scan 3: AC first over the whole 1..63 band, EOB runs for
    # zero blocks (r bits of extension after the EOBn code). The
    # Annex K table carries no EOBn symbols (real progressive encoders
    # ship custom tables), so the symbols this scan actually uses get
    # a flat 8-bit canonical table in DHT slot AC/1 — which also makes
    # the decoder prove non-Annex-K table handling.
    def ac_symbols_and_emit(emit) -> None:
        eobrun = 0

        def flush_eobrun() -> None:
            nonlocal eobrun
            if not eobrun:
                return
            r = eobrun.bit_length() - 1
            emit(r << 4, None)
            if r:
                emit(None, (eobrun - (1 << r), r))
            eobrun = 0

        for _dc, u, ac in blocks:
            if ac == 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eobrun()
                continue
            flush_eobrun()
            if not 1 <= u <= 7:
                raise ValueError(f"AC frequency index {u} outside 1..7")
            run = ZIGZAG.index(u) - 1
            while run > 15:
                emit(0xF0, None)
                run -= 16
            size = abs(ac).bit_length()
            emit((run << 4) | size, None)
            emit(None, (ac if ac > 0 else ac + (1 << size) - 1, size))
            eobrun += 1  # end of this block's band joins the next run
        flush_eobrun()

    used: list[int] = []
    ac_symbols_and_emit(
        lambda sym, raw: used.append(sym) if sym is not None else None
    )
    symbols = sorted(set(used)) or [0x00]
    if len(symbols) > 255:
        raise ValueError("progressive AC scan uses too many symbols")
    flat_bits = [0] * 16
    flat_bits[7] = len(symbols)
    flat_codes = _huffman(flat_bits, symbols)[1]
    out += _seg(
        0xC4, bytes([0x11]) + bytes(flat_bits) + bytes(symbols)
    )
    out += _seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0x00]))
    bw = _BitWriter()

    def emit(sym, raw) -> None:
        if sym is not None:
            bw.write(*flat_codes[sym])
        else:
            bw.write(raw[0], raw[1])

    ac_symbols_and_emit(emit)
    out += bw.flush()
    return bytes(out + b"\xff\xd9")
