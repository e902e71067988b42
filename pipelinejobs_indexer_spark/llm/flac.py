"""Pure-stdlib FLAC codec: rice coding + integer predictors, no codec
libraries.

Purpose: decode the audio class that needs no float DSP, with the
same stdlib-only discipline as gif.py and webp.py. The
NotImplementedError contract in multimodal.decode_audio lumped FLAC
with mp3/ogg, but FLAC is NOT float DSP: every decode step is integer
arithmetic — unary/rice residual coding, fixed polynomial predictors,
quantized integer LPC with an arithmetic shift, and integer stereo
decorrelation — plus CRC-8/CRC-16 framing and an MD5 of the raw
samples (stdlib hashlib), all per the public spec (RFC 9639). mp3/ogg
(MDCT float synthesis) keep the honest stub.

Scope: the FLAC subset real encoders emit — STREAMINFO metadata
(other blocks skipped), fixed or variable blocksize frames, mono or
stereo (all four channel assignments: independent, left-side,
right-side, mid-side), 8/12/16/20/24-bit samples, subframe types
CONSTANT / VERBATIM / FIXED (orders 0-4) / LPC (any order, quantized
integer coefficients), partitioned rice residuals in both 4- and 5-bit
parameter variants including the escape-to-raw encoding, and
wasted-bits tracking. Decode verifies every frame's CRC-8 + CRC-16 and
the stream MD5 (when present) and raises ValueError on any mismatch —
corrupt payloads are data errors, never a codec gap.

The encoder is spec-subset but real — per-subframe choice over
constant/fixed orders (or caller-pinned LPC coefficients and rice
escapes), any stereo mode, any partition order — so an encode→decode
round trip exercises every decoder branch. Bit packing and the CRCs
come from bits.py, whose round trips tests/test_bits.py checks.

Conformance status: the CRC layer is pinned EXTERNALLY —
both framing CRCs match the published reveng catalogue check values
for "123456789" (CRC-8 poly 0x07 → 0xF4; CRC-16 poly 0x8005 init 0 →
0xFEE8, tests/test_flac.py), and the stream MD5 is hashlib's. The
rice/LPC/stereo-decorrelation layers remain in-repo-verified only (no
reference FLAC encoder ships in this container); committing bytes from
the official flac tool or the RFC 9639 test-files corpus is the open
fix, as for webp.py.

Memory bounds: total samples are capped before allocation
(MAX_SAMPLES), per-frame block sizes are spec-bounded (<= 65535), and
residual reads cannot overrun the declared block size.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from .bits import MsbReader, MsbWriter, crc_msb

#: refuse streams declaring more than this many samples x channels
MAX_SAMPLES = 1 << 26

_MAGIC = b"fLaC"

#: fixed-predictor coefficients (RFC 9639 §9.2.2): pred(n) = sum c_i * a[n-i]
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_SAMPLE_SIZE_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}
_SAMPLE_SIZE_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _utf8_coded(value: int) -> bytes:
    """FLAC's extended-UTF-8 coded number (frame/sample index): n follow
    bytes carry 6 bits each, the lead byte carries 6-n bits behind an
    (n+1)-ones prefix — capacity 6+5n bits, up to n=6 for 36-bit
    values."""
    if value < 0x80:
        return bytes([value])
    n = 1
    while value >= (1 << (6 + 5 * n)) and n < 6:
        n += 1
    out = [((0xFF << (7 - n)) & 0xFF) | (value >> (6 * n))]
    for i in range(n - 1, -1, -1):
        out.append(0x80 | ((value >> (6 * i)) & 0x3F))
    return bytes(out)


def _read_utf8_coded(br: MsbReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n == 0 or n > 6:
        raise ValueError("bad FLAC coded number lead byte")
    value = b0 & (mask - 1)
    for _ in range(n):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded number continuation byte")
        value = (value << 6) | (b & 0x3F)
    return value


# ----------------------------------------------------------- rice coding
def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else (-(r << 1)) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _read_residual(
    br: MsbReader, block_size: int, order: int
) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    n_part = 1 << porder
    if block_size % n_part:
        raise ValueError("FLAC block size not divisible by partitions")
    out: list[int] = []
    for p in range(n_part):
        n = (block_size >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(raw) if raw else 0)
        else:
            for _ in range(n):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out.append(_unzigzag(u))
    return out


def _write_residual(
    bw: MsbWriter,
    res: list[int],
    block_size: int,
    order: int,
    porder: int,
    escape_raw: int | None,
    wide: bool,
) -> None:
    pbits = 5 if wide else 4
    escape = (1 << pbits) - 1
    bw.write(1 if wide else 0, 2)
    bw.write(porder, 4)
    n_part = 1 << porder
    assert block_size % n_part == 0
    idx = 0
    for p in range(n_part):
        n = (block_size >> porder) - (order if p == 0 else 0)
        part = res[idx : idx + n]
        idx += n
        if escape_raw is not None:
            bw.write(escape, pbits)
            bw.write(escape_raw, 5)
            for r in part:
                bw.write(r, escape_raw)
            continue
        # pick the rice parameter minimizing the coded size
        best_param, best_cost = 0, None
        for param in range(escape):
            cost = sum((_zigzag(r) >> param) + 1 + param for r in part)
            if best_cost is None or cost < best_cost:
                best_param, best_cost = param, cost
        bw.write(best_param, pbits)
        for r in part:
            u = _zigzag(r)
            bw.write_unary(u >> best_param)
            bw.write(u & ((1 << best_param) - 1), best_param)


# ------------------------------------------------------------- subframes
def _read_subframe(
    br: MsbReader, block_size: int, bps: int
) -> list[int]:
    if br.read(1):
        raise ValueError("bad FLAC subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = br.read_signed(eff)
        samples = [v] * block_size
    elif stype == 1:  # VERBATIM
        samples = [br.read_signed(eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block size")
        warm = [br.read_signed(eff) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        coefs = _FIXED_COEFS[order]
        samples = list(warm)
        for r in res:
            pred = sum(c * samples[-i - 1] for i, c in enumerate(coefs))
            samples.append(pred + r)
    elif stype >= 32:  # LPC, order = low 5 bits + 1
        order = (stype & 0x1F) + 1
        if order > block_size:
            raise ValueError("FLAC LPC order exceeds block size")
        warm = [br.read_signed(eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 0xF:
            raise ValueError("invalid FLAC LPC precision code")
        prec += 1
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        samples = list(warm)
        for r in res:
            acc = sum(c * samples[-i - 1] for i, c in enumerate(coefs))
            samples.append((acc >> shift) + r)
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def _encode_subframe(
    bw: MsbWriter,
    chan: list[int],
    bps: int,
    order: int | None,
    lpc: tuple[list[int], int, int] | None,
    porder: int,
    escape_raw: int | None,
    wide_rice: bool,
) -> None:
    n = len(chan)
    if order is None and lpc is None:
        # pick constant / best fixed order by absolute residual size
        if all(s == chan[0] for s in chan):
            bw.write(0, 1)
            bw.write(0, 6)
            bw.write(0, 1)
            bw.write(chan[0], bps)
            return
        best, best_cost = 0, None
        for o in range(min(4, n) + 1):
            coefs = _FIXED_COEFS[o]
            cost = sum(
                abs(
                    chan[i]
                    - sum(c * chan[i - j - 1] for j, c in enumerate(coefs))
                )
                for i in range(o, n)
            )
            if best_cost is None or cost < best_cost:
                best, best_cost = o, cost
        order = best
    # a short final frame may not honor the caller's partition order:
    # clamp per-frame so every partition divides evenly and the first
    # one still has room for the warm-up samples
    max_order = len(lpc[0]) if lpc is not None else max(order, 0)
    while porder > 0 and (n % (1 << porder) or (n >> porder) < max_order):
        porder -= 1
    if lpc is not None:
        coefs, shift, prec = lpc
        o = len(coefs)
        bw.write(0, 1)
        bw.write(32 | (o - 1), 6)
        bw.write(0, 1)  # no wasted bits
        for s in chan[:o]:
            bw.write(s, bps)
        bw.write(prec - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c, prec)
        res = [
            chan[i]
            - (sum(c * chan[i - j - 1] for j, c in enumerate(coefs)) >> shift)
            for i in range(o, n)
        ]
        _write_residual(bw, res, n, o, porder, escape_raw, wide_rice)
        return
    if order == -1:  # caller-forced VERBATIM
        bw.write(0, 1)
        bw.write(1, 6)
        bw.write(0, 1)
        for s in chan:
            bw.write(s, bps)
        return
    order = min(order, n)  # a pinned order can exceed a short final frame
    coefs = _FIXED_COEFS[order]
    bw.write(0, 1)
    bw.write(8 + order, 6)
    bw.write(0, 1)
    for s in chan[:order]:
        bw.write(s, bps)
    res = [
        chan[i] - sum(c * chan[i - j - 1] for j, c in enumerate(coefs))
        for i in range(order, n)
    ]
    _write_residual(bw, res, n, order, porder, escape_raw, wide_rice)


# --------------------------------------------------------------- decoding
def decode_flac(data: bytes) -> dict:
    """Decode a FLAC stream to {rate, channels, frames, samples} —
    the multimodal.decode_audio WAV shape (samples interleaved)."""
    if data[:4] != _MAGIC:
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC: metadata block header")
        head = data[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("truncated FLAC: metadata block body")
        if btype == 0:
            if length != 34:
                raise ValueError(f"bad FLAC STREAMINFO length {length}")
            br = MsbReader(body)
            info = {
                "min_bs": br.read(16),
                "max_bs": br.read(16),
                "min_fs": br.read(24),
                "max_fs": br.read(24),
                "rate": br.read(20),
                "channels": br.read(3) + 1,
                "bits": br.read(5) + 1,
                "total": br.read(36),
                "md5": body[18:34],
            }
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type 127")
        pos += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("FLAC stream has no STREAMINFO block")
    if info["rate"] == 0:
        raise ValueError("FLAC sample rate 0")
    if info["total"] * info["channels"] > MAX_SAMPLES:
        raise ValueError(
            f"FLAC declares {info['total']} samples x {info['channels']} "
            f"channels — exceeds the {MAX_SAMPLES}-sample bound"
        )
    channels = info["channels"]
    out: list[list[int]] = [[] for _ in range(channels)]
    while pos < len(data):
        pos = _decode_frame(data, pos, info, out)
        # STREAMINFO total=0 is spec-legal ("unknown length"), so the
        # declared-total check above cannot bound such streams; cap the
        # accumulated decode too, or a hostile stream of cheap
        # constant-subframe frames expands without limit.
        if len(out[0]) * channels > MAX_SAMPLES:
            raise ValueError(
                f"FLAC decoded {len(out[0])} samples x {channels} channels "
                f"— exceeds the {MAX_SAMPLES}-sample bound"
            )
        if info["total"] and len(out[0]) >= info["total"]:
            break
    n = len(out[0])
    if info["total"] and n != info["total"]:
        raise ValueError(
            f"FLAC sample count mismatch: STREAMINFO {info['total']}, "
            f"decoded {n}"
        )
    if any(len(c) != n for c in out):
        raise ValueError("FLAC channels decoded unequal lengths")
    if info["md5"] != b"\x00" * 16:
        h = hashlib.md5()
        width = (info["bits"] + 7) // 8
        arr = np.empty((n, channels), dtype=np.int64)
        for c in range(channels):
            arr[:, c] = out[c]
        raw = bytearray()
        for v in arr.reshape(-1).tolist():
            raw += int(v).to_bytes(width, "little", signed=True)
        h.update(bytes(raw))
        if h.digest() != info["md5"]:
            raise ValueError("FLAC MD5 mismatch: decoded audio is corrupt")
    interleaved = []
    for i in range(n):
        for c in range(channels):
            interleaved.append(out[c][i])
    return {
        "rate": info["rate"],
        "channels": channels,
        "frames": n,
        "samples": tuple(interleaved),
    }


_BLOCK_SIZE_TABLE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
    14: 16384, 15: 32768,
}

_RATE_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


def _decode_frame(
    data: bytes, pos: int, info: dict, out: list[list[int]]
) -> int:
    br = MsbReader(data, pos * 8)
    sync = br.read(14)
    if sync != 0b11111111111110:
        raise ValueError(f"bad FLAC frame sync at byte {pos}")
    if br.read(1):
        raise ValueError("reserved FLAC frame bit set")
    br.read(1)  # blocking strategy (fixed/variable) — both handled
    bs_code = br.read(4)
    rate_code = br.read(4)
    chan_code = br.read(4)
    size_code = br.read(3)
    if br.read(1):
        raise ValueError("reserved FLAC frame bit set (header tail)")
    _read_utf8_coded(br)  # frame/sample number (ordering not enforced)
    if bs_code == 0:
        raise ValueError("reserved FLAC block size code 0")
    elif bs_code == 6:
        block_size = br.read(8) + 1
    elif bs_code == 7:
        block_size = br.read(16) + 1
    else:
        block_size = _BLOCK_SIZE_TABLE[bs_code]
    if rate_code == 12:
        br.read(8)
    elif rate_code in (13, 14):
        br.read(16)
    elif rate_code == 15:
        raise ValueError("invalid FLAC sample rate code 15")
    if size_code == 0:
        bps = info["bits"]
    elif size_code == 3:
        raise ValueError("reserved FLAC sample size code 3")
    else:
        bps = _SAMPLE_SIZE_BITS[size_code]
    header_end = br.pos >> 3
    crc8 = br.read(8)
    if crc_msb(data[pos:header_end], 0x07, 8) != crc8:
        raise ValueError("FLAC frame header CRC-8 mismatch")
    if chan_code < 8:
        n_chan = chan_code + 1
        if n_chan != info["channels"]:
            raise ValueError("FLAC frame channel count != STREAMINFO")
        chans = [_read_subframe(br, block_size, bps) for _ in range(n_chan)]
    elif chan_code in (8, 9, 10):
        if info["channels"] != 2:
            raise ValueError("FLAC stereo decorrelation in non-stereo stream")
        # the SIDE (difference) channel carries one extra bit
        if chan_code == 8:  # left-side
            left = _read_subframe(br, block_size, bps)
            side = _read_subframe(br, block_size, bps + 1)
            chans = [left, [l - s for l, s in zip(left, side)]]
        elif chan_code == 9:  # side-right
            side = _read_subframe(br, block_size, bps + 1)
            right = _read_subframe(br, block_size, bps)
            chans = [[r + s for r, s in zip(right, side)], right]
        else:  # mid-side
            mid = _read_subframe(br, block_size, bps)
            side = _read_subframe(br, block_size, bps + 1)
            left, right = [], []
            for m, s in zip(mid, side):
                m = (m << 1) | (s & 1)
                left.append((m + s) >> 1)
                right.append((m - s) >> 1)
            chans = [left, right]
    else:
        raise ValueError(f"reserved FLAC channel assignment {chan_code}")
    br.align()
    frame_end = br.pos >> 3
    crc16 = br.read(16)
    if crc_msb(data[pos:frame_end], 0x8005, 16) != crc16:
        raise ValueError("FLAC frame CRC-16 mismatch")
    lim = 1 << (info["bits"] - 1)
    for c, chan in enumerate(chans):
        for s in chan:
            if not -lim <= s < lim:
                raise ValueError("FLAC sample exceeds declared bit depth")
        out[c].extend(chan)
    return br.pos >> 3


# --------------------------------------------------------------- encoding
def encode_flac(
    samples,
    rate: int,
    bits: int = 16,
    *,
    block_size: int | None = None,
    stereo: str = "independent",
    order: int | None = None,
    lpc: tuple[list[int], int, int] | None = None,
    partition_order: int = 0,
    escape_raw: int | None = None,
    wide_rice: bool = False,
) -> bytes:
    """Encode an (n, channels) int array as FLAC. ``order`` pins a fixed
    predictor order (-1 = VERBATIM, None = auto constant/fixed), ``lpc``
    = (coefs, shift, precision) pins quantized integer LPC, ``stereo``
    picks the channel assignment, ``escape_raw`` forces the rice escape
    at that raw bit width, ``wide_rice`` uses the 5-bit parameter
    variant. All knobs exist so tests can drive every decoder branch."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, channels = arr.shape
    if channels > 8:
        raise ValueError("FLAC supports at most 8 channels")
    lim = 1 << (bits - 1)
    if arr.size and (arr.min() < -lim or arr.max() >= lim):
        raise ValueError(f"samples exceed {bits}-bit signed range")
    if stereo != "independent" and channels != 2:
        raise ValueError("stereo decorrelation needs exactly 2 channels")
    if block_size is None:
        block_size = min(max(n, 16), 4096)
    if not 16 <= block_size <= 65535:
        raise ValueError("FLAC block size must be in [16, 65535]")
    if not 0 <= partition_order <= 15:
        raise ValueError("partition order must be in [0, 15]")
    md5 = hashlib.md5()
    width = (bits + 7) // 8
    for v in arr.reshape(-1).tolist():
        md5.update(int(v).to_bytes(width, "little", signed=True))
    frames = bytearray()
    frame_idx = 0
    for start in range(0, max(n, 1), block_size):
        chunk = arr[start : start + block_size]
        bs = len(chunk)
        if bs == 0:
            break
        frames += _encode_frame(
            chunk, frame_idx, rate, bits, channels, stereo, order, lpc,
            partition_order, escape_raw, wide_rice,
        )
        frame_idx += 1
    bw = MsbWriter()
    bw.write(block_size, 16)  # min/max block size (last frame may be short
    bw.write(block_size, 16)  # — spec permits, decoders must not assume)
    bw.write(0, 24)
    bw.write(0, 24)
    bw.write(rate, 20)
    bw.write(channels - 1, 3)
    bw.write(bits - 1, 5)
    bw.write(n, 36)
    streaminfo = bw.flush() + md5.digest()
    head = bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    return _MAGIC + head + bytes(frames)


def _encode_frame(
    chunk: np.ndarray,
    frame_idx: int,
    rate: int,
    bits: int,
    channels: int,
    stereo: str,
    order: int | None,
    lpc,
    porder: int,
    escape_raw: int | None,
    wide_rice: bool,
) -> bytes:
    bs = len(chunk)
    bw = MsbWriter()
    bw.write(0b11111111111110, 14)
    bw.write(0, 1)
    bw.write(0, 1)  # fixed blocksize strategy: coded number = frame index
    bw.write(7, 4)  # blocksize: 16-bit value-1 follows the coded number
    bw.write(0, 4)  # sample rate: from STREAMINFO
    chan_code = {
        "independent": channels - 1,
        "left-side": 8,
        "right-side": 9,
        "mid-side": 10,
    }[stereo]
    bw.write(chan_code, 4)
    bw.write(_SAMPLE_SIZE_CODES[bits], 3)
    bw.write(0, 1)
    for b in _utf8_coded(frame_idx):
        bw.write(b, 8)
    bw.write(bs - 1, 16)
    header = bw.flush()
    header += bytes([crc_msb(header, 0x07, 8)])
    bw = MsbWriter()
    cols = [chunk[:, c].tolist() for c in range(channels)]
    if stereo == "independent":
        subs = [(col, bits) for col in cols]
    else:
        left, right = cols
        side = [l - r for l, r in zip(left, right)]
        if stereo == "left-side":
            subs = [(left, bits), (side, bits + 1)]
        elif stereo == "right-side":
            subs = [(side, bits + 1), (right, bits)]
        else:
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            subs = [(mid, bits), (side, bits + 1)]
    for chan, bps in subs:
        _encode_subframe(
            bw, chan, bps, order, lpc, porder, escape_raw, wide_rice
        )
    body = header + bw.flush()
    return body + struct.pack(">H", crc_msb(body, 0x8005, 16))
