"""Companded and ADPCM WAV audio — pure stdlib.

The stdlib ``wave`` module only reads PCM (format tag 1), but real-world
telephony and archive WAVs are G.711 companded (tag 6 A-law / tag 7
μ-law — every PSTN capture) or IMA ADPCM (tag 0x11 — the classic 4:1
game/voice codec). All three decode with exact integer arithmetic, so
they fit this repo's closed-form oracle discipline (unlike mp3/ogg,
whose float MDCT stays an honest refusal in multimodal.decode_audio).

G.711 (ITU-T, the segmented-companding tables): decode follows the
public-domain Sun g711.c formulation — μ-law: complement, then
magnitude ((mant<<3)+0x84)<<exp re-centered by the 0x84 bias; A-law:
XOR 0x55, segment 0/1 linear else shifted. Encoders perform the
segment search and round-trip against decode in tests; the canonical
anchor pairs (μ-law 0x00 ↔ -32124, A-law 0x55 ↔ -8) are pinned.

IMA ADPCM (the IMA Digital Audio Focus Group algorithm, as carried in
Microsoft's WAVE fmt 0x11): 4-bit nibbles drive a 89-entry step-size
table walk; each WAV block opens with a per-channel header (int16
predictor, uint8 step index, reserved zero byte) whose predictor IS
the block's first output sample, then 4-byte-per-channel interleaved
nibble groups (low nibble first). Corrupt blocks (bad step index,
nonzero reserved byte, truncated groups) raise ValueError.

The RIFF walk here is independent of the stdlib parser: fmt/fact/data
chunks located by the chunk grammar (word-aligned sizes), so a WAV
written by this module's writer and decoded by this parser still
cross-checks two code paths.

Reference parity: the reference pipeline treats uploaded audio as
opaque blobs (SD2E/pipelinejobs-indexer handles files only as catalog
entries); this module is part of the multimodal ingest surface a
training-data pipeline adds on top.
"""

from __future__ import annotations

import struct

#: IMA ADPCM step-size table (89 entries) — the published constant from
#: the IMA ADPCM specification (also in Microsoft's multimedia
#: registration for WAVE format 0x11).
IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]

#: index adjustment per nibble magnitude (nibble & 7)
IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]

WAVE_FMT_PCM = 0x0001
WAVE_FMT_FLOAT = 0x0003
WAVE_FMT_ALAW = 0x0006
WAVE_FMT_MULAW = 0x0007
WAVE_FMT_IMA_ADPCM = 0x0011

_BIAS = 0x84  # μ-law bias


def mulaw_decode_byte(b: int) -> int:
    """One μ-law byte → linear sample (Sun g711.c ulaw2linear)."""
    u = ~b & 0xFF
    t = ((u & 0x0F) << 3) + _BIAS
    t <<= (u & 0x70) >> 4
    return (_BIAS - t) if u & 0x80 else (t - _BIAS)


def mulaw_encode_sample(s: int) -> int:
    """Linear sample → μ-law byte (segment search, Sun g711.c)."""
    if s > 32635 or s < -32635:
        raise ValueError(f"sample {s} outside the μ-law encode range")
    if s < 0:
        s = -s
        sign = 0x80
    else:
        sign = 0
    s += _BIAS
    seg = 0
    v = s
    while v > 0xFF and seg < 7:
        v >>= 1
        seg += 1
    mant = (s >> (seg + 3)) & 0x0F
    return ~(sign | (seg << 4) | mant) & 0xFF


def alaw_decode_byte(b: int) -> int:
    """One A-law byte → linear sample (Sun g711.c alaw2linear)."""
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


def alaw_encode_sample(s: int) -> int:
    """Linear sample → A-law byte (segment search, Sun g711.c)."""
    if not -32768 <= s <= 32767:
        raise ValueError(f"sample {s} outside int16")
    if s >= 0:
        mask = 0xD5  # sign bit set (A-law: bit 7 = positive), XOR 0x55
    else:
        mask = 0x55
        s = -s - 1
    seg = 0
    v = s >> 4
    while v > 0x0F and seg < 7:
        v >>= 1
        seg += 1
    if seg == 0:
        val = s >> 4
    else:
        val = (s >> (seg + 3)) & 0x0F
    return (val | (seg << 4)) ^ mask


def ima_adpcm_decode(
    data: bytes, channels: int, block_align: int
) -> list[list[int]]:
    """Decode IMA-ADPCM WAV data chunks into per-channel sample lists.
    Each block: per-channel (predictor int16 LE, step index, reserved 0),
    then 4-byte channel-interleaved nibble groups, low nibble first.
    The header predictor is emitted as the block's first sample."""
    if channels < 1 or block_align < 4 * channels:
        raise ValueError("bad IMA ADPCM channel count / block alignment")
    if len(data) % block_align:
        raise ValueError(
            f"IMA ADPCM data ({len(data)} bytes) is not a whole number of "
            f"{block_align}-byte blocks"
        )
    out: list[list[int]] = [[] for _ in range(channels)]
    for boff in range(0, len(data), block_align):
        block = data[boff : boff + block_align]
        pred: list[int] = []
        idx: list[int] = []
        for c in range(channels):
            p = int.from_bytes(block[4 * c : 4 * c + 2], "little", signed=True)
            i = block[4 * c + 2]
            if i > 88:
                raise ValueError(f"IMA ADPCM step index {i} > 88")
            if block[4 * c + 3] != 0:
                raise ValueError("IMA ADPCM reserved header byte is nonzero")
            pred.append(p)
            idx.append(i)
            out[c].append(p)
        body = block[4 * channels :]
        if len(body) % (4 * channels):
            raise ValueError("IMA ADPCM block body misaligned")
        for goff in range(0, len(body), 4 * channels):
            for c in range(channels):
                group = body[goff + 4 * c : goff + 4 * c + 4]
                for byte in group:
                    for nib in (byte & 0x0F, byte >> 4):
                        step = IMA_STEPS[idx[c]]
                        diff = step >> 3
                        if nib & 1:
                            diff += step >> 2
                        if nib & 2:
                            diff += step >> 1
                        if nib & 4:
                            diff += step
                        p = pred[c] + (-diff if nib & 8 else diff)
                        p = max(-32768, min(32767, p))
                        pred[c] = p
                        out[c].append(p)
                        i2 = idx[c] + IMA_INDEX_ADJ[nib & 7]
                        idx[c] = max(0, min(88, i2))
    return out


# ------------------------------------------------------------- RIFF walk
def _walk_riff_wave(content: bytes) -> dict[str, bytes]:
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    chunks: dict[str, bytes] = {}
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        chunks.setdefault(cid.decode("latin-1"), body)
        pos += 8 + size + (size & 1)  # chunk sizes are word-aligned
    if "fmt " not in chunks or "data" not in chunks:
        raise ValueError("WAV missing fmt / data chunks")
    return chunks


def parse_companded_wav(content: bytes) -> dict:
    """Parse a G.711 (A-law/μ-law) or IMA-ADPCM WAV into the
    multimodal.decode_audio dict shape: {rate, channels, frames,
    samples} with samples interleaved signed ints. PCM tags belong to
    the stdlib wave path — rejected here so the two parsers stay
    disjoint; genuinely compressed tags (mp3-in-WAV 0x55 etc.) raise
    the codec refusal."""
    chunks = _walk_riff_wave(content)
    fmt = chunks["fmt "]
    if len(fmt) < 16:
        raise ValueError("WAV fmt chunk shorter than 16 bytes")
    tag, nch, rate, _brate, balign, bits = struct.unpack_from("<HHIIHH", fmt)
    if nch < 1 or rate < 1:
        raise ValueError("bad WAV channel count / sample rate")
    data = chunks["data"]
    if tag in (WAVE_FMT_MULAW, WAVE_FMT_ALAW):
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
        dec = mulaw_decode_byte if tag == WAVE_FMT_MULAW else alaw_decode_byte
        samples = tuple(dec(b) for b in data)
        frames = len(data) // nch
    elif tag == WAVE_FMT_IMA_ADPCM:
        if bits != 4:
            raise ValueError(f"IMA ADPCM WAV must be 4-bit, got {bits}")
        chans = ima_adpcm_decode(data, nch, balign)
        frames = len(chans[0])
        samples = tuple(
            chans[c][f] for f in range(frames) for c in range(nch)
        )
    elif tag == WAVE_FMT_FLOAT:
        # IEEE-float WAV (production/DAW exports): float32 or float64
        # frames, nominal range [-1, 1]. Samples come back as Python
        # floats — the ONE decode path whose samples are not ints;
        # callers needing the integer discipline quantize explicitly.
        if bits == 32:
            width = 4
        elif bits == 64:
            width = 8
        else:
            raise ValueError(f"float WAV must be 32/64-bit, got {bits}")
        if len(data) % (width * nch) != 0:
            # misaligned data would otherwise surface as struct.error
            # (or a silently dropped trailing partial frame) — raise
            # the module's documented ValueError up front
            raise ValueError(
                f"float WAV data chunk of {len(data)} bytes is not a "
                f"multiple of the {width * nch}-byte frame "
                f"({bits}-bit x {nch} ch)"
            )
        samples = struct.unpack(f"<{len(data) // width}{'f' if width == 4 else 'd'}", data)
        frames = len(samples) // nch
    elif tag == WAVE_FMT_PCM:
        raise ValueError("PCM WAV belongs to the stdlib wave path")
    else:
        raise NotImplementedError(
            f"WAV format tag 0x{tag:04x} requires codec libs (only PCM, "
            "G.711 A-law/μ-law, and IMA ADPCM decode honestly)"
        )
    return {"rate": rate, "channels": nch, "frames": frames,
            "samples": samples}


def wav_format_tag(content: bytes) -> int | None:
    """The fmt tag of a RIFF/WAVE payload, or None if it isn't one /
    has no locatable fmt chunk (callers then fall through to the
    stdlib path whose errors are the established contract)."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    try:
        fmt = _walk_riff_wave(content)["fmt "]
        if len(fmt) < 2:
            return None
        return struct.unpack_from("<H", fmt)[0]
    except ValueError:
        return None


def write_wav(
    tag: int,
    payload: bytes,
    *,
    channels: int,
    rate: int,
    bits: int,
    block_align: int,
    frames: int,
) -> bytes:
    """Assemble a RIFF/WAVE container around an already-encoded
    payload. Non-PCM formats carry the spec-required cbSize=0 fmt
    extension and a fact chunk with the frame count."""
    byte_rate = rate * block_align
    fmt = struct.pack(
        "<HHIIHH", tag, channels, rate, byte_rate, block_align, bits
    )
    body = b""
    if tag != WAVE_FMT_PCM:
        fmt += struct.pack("<H", 0)  # cbSize
        body += b"fact" + struct.pack("<II", 4, frames)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + body
        + b"data" + struct.pack("<I", len(payload)) + payload
        + (b"\x00" if len(payload) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
