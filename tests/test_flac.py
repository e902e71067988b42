"""flac.py codec semantics: encode→decode round trips over every
subframe type / stereo mode / rice variant (hypothesis-driven), the
integrity classes (CRC-8, CRC-16, MD5 each caught independently),
corrupt-container errors, the memory bound, and bit-flip robustness.
Encoder and decoder share the published RFC 9639 constants and
bits.py's bit I/O (checked on its own in test_bits.py), so a round
trip cross-checks the coding logic."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm.bits import (  # noqa: E402
    MsbReader,
    MsbWriter,
    crc_msb,
)
from pipelinejobs_indexer_spark.llm.flac import (  # noqa: E402
    MAX_SAMPLES,
    _read_utf8_coded,
    _utf8_coded,
    decode_flac,
    encode_flac,
)


def _rt(samples, rate=44100, bits=16, **kw):
    data = encode_flac(samples, rate, bits, **kw)
    out = decode_flac(data)
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    assert out["rate"] == rate
    assert out["channels"] == arr.shape[1]
    assert out["frames"] == len(arr)
    assert out["samples"] == tuple(arr.reshape(-1).tolist())
    return data


# ------------------------------------------------------------ round trips
def test_roundtrip_every_fixed_order_and_verbatim():
    rng = np.random.RandomState(1)
    mono = rng.randint(-1000, 1000, 100)
    for order in (-1, 0, 1, 2, 3, 4):
        _rt(mono, order=order)
    _rt(np.full(50, -7))  # constant subframe


def test_roundtrip_lpc():
    rng = np.random.RandomState(2)
    mono = rng.randint(-5000, 5000, 120)
    _rt(mono, lpc=([3, -2], 1, 6))
    _rt(mono, lpc=([10, -5, 3, -1], 3, 8))
    _rt(mono, lpc=([1], 0, 2))  # order-1, shift-0 edge


def test_roundtrip_every_stereo_mode():
    rng = np.random.RandomState(3)
    st2 = rng.randint(-20000, 20000, (150, 2))
    for mode in ("independent", "left-side", "right-side", "mid-side"):
        _rt(st2, stereo=mode)
    # extreme values stress the side channel's bps+1 headroom
    edge = np.array([[32767, -32768], [-32768, 32767], [0, -32768]])
    for mode in ("left-side", "right-side", "mid-side"):
        _rt(np.tile(edge, (8, 1)), stereo=mode)


def test_roundtrip_rice_variants():
    rng = np.random.RandomState(4)
    mono = rng.randint(-500, 500, 128)
    _rt(mono, partition_order=2)
    _rt(mono, partition_order=3)
    _rt(mono, wide_rice=True)
    _rt(rng.randint(-100, 100, 64), escape_raw=12)


def test_roundtrip_multiframe_and_depths():
    rng = np.random.RandomState(5)
    _rt(rng.randint(-300, 300, 1000), block_size=256)  # 4 frames
    _rt(rng.randint(-100, 100, 80), bits=8)
    _rt(rng.randint(-(2**11), 2**11, 80), bits=12)
    _rt(rng.randint(-(2**22), 2**22, 80), bits=24)
    _rt(np.zeros((0,), dtype=np.int64))
    _rt(np.array([42]))


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 300),
    seed=st.integers(0, 2**31 - 1),
    channels=st.integers(1, 2),
    stereo=st.sampled_from(
        ["independent", "left-side", "right-side", "mid-side"]
    ),
    order=st.sampled_from([None, -1, 0, 2, 4]),
    porder=st.integers(0, 2),
    wide=st.booleans(),
    block=st.sampled_from([None, 64, 256]),
)
def test_roundtrip_hypothesis(n, seed, channels, stereo, order, porder, wide, block):
    rng = np.random.RandomState(seed)
    samples = rng.randint(-30000, 30000, (n, channels))
    if channels != 2:
        stereo = "independent"
    if block is not None and block % (1 << porder):
        porder = 0
    _rt(samples, stereo=stereo, order=order, partition_order=porder,
        wide_rice=wide, block_size=block)


def test_utf8_coded_number_roundtrip():
    for v in (0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10000,
              0x1FFFFF, 0x3FFFFFF, 0x7FFFFFFF, (1 << 36) - 1):
        enc = _utf8_coded(v)
        bw = MsbWriter()
        for b in enc:
            bw.write(b, 8)
        assert _read_utf8_coded(MsbReader(bw.flush())) == v, v


# -------------------------------------------------------- integrity classes
def _flip(data: bytes, byte_idx: int, bit: int = 0) -> bytes:
    b = bytearray(data)
    b[byte_idx] ^= 1 << bit
    return bytes(b)


def test_crc8_catches_header_corruption():
    data = _rt(np.arange(100) % 500 - 250)
    # frame header starts after fLaC + 4-byte block header + 34-byte
    # STREAMINFO = byte 42; flip a bit in the channel/size nibble byte
    with pytest.raises(ValueError, match="CRC-8|sync|reserved"):
        decode_flac(_flip(data, 45))


def test_crc16_catches_payload_corruption():
    rng = np.random.RandomState(7)
    data = _rt(rng.randint(-1000, 1000, 200))
    # flip a bit deep in the residual payload (well past the header,
    # well before the trailing CRC-16)
    with pytest.raises(ValueError):
        decode_flac(_flip(data, len(data) - 40, 3))


def test_md5_catches_semantic_corruption():
    """Corruption that produces a VALID frame with wrong samples is the
    MD5's job: re-encode different samples, transplant the original
    STREAMINFO (whose MD5 no longer matches), keep frames intact."""
    a = encode_flac(np.arange(64), 8000, 16)
    b = encode_flac(np.arange(64) + 1, 8000, 16)
    hybrid = a[: 8 + 34] + b[8 + 34 :]  # a's magic+STREAMINFO, b's frames
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(hybrid)


def test_corrupt_container_classes():
    data = _rt(np.arange(64) - 32)
    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"fLaX" + data[4:])
    with pytest.raises(ValueError, match="truncated FLAC: metadata"):
        decode_flac(data[:20])
    with pytest.raises(ValueError, match="no STREAMINFO"):
        # replace STREAMINFO type (0) with PADDING (1), keep last-flag
        decode_flac(data[:4] + bytes([0x81]) + data[5:])
    # corrupt the SECOND frame's sync code (two-frame stream): the
    # decoder must reject it, not resynchronize silently
    two = encode_flac(np.arange(64) - 32, 8000, 16, block_size=32)
    first_sync = two.index(b"\xff\xf8", 42)
    second_sync = two.index(b"\xff\xf8", first_sync + 2)
    bad = bytearray(two)
    bad[second_sync] = 0x00
    with pytest.raises(ValueError, match="sync"):
        decode_flac(bytes(bad))


def test_memory_bound_refused_before_allocation():
    data = bytearray(_rt(np.arange(64)))
    # STREAMINFO total-samples field: bytes 8+34-16-5..: rewrite the
    # 36-bit total to the maximum by patching the tail of the fixed
    # layout (bits 144..179 of the 34-byte block starting at byte 8)
    bw = MsbWriter()
    bw.write(64, 16)
    bw.write(64, 16)
    bw.write(0, 24)
    bw.write(0, 24)
    bw.write(44100, 20)
    bw.write(0, 3)
    bw.write(15, 5)
    bw.write((1 << 36) - 1, 36)
    patched = data[:8] + bytearray(bw.flush()) + data[8 + 18 :]
    with pytest.raises(ValueError, match="sample bound"):
        decode_flac(bytes(patched))
    assert (1 << 36) > MAX_SAMPLES


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="16-bit signed"):
        encode_flac(np.array([40000]), 8000, 16)
    with pytest.raises(ValueError, match="block size"):
        encode_flac(np.arange(10), 8000, block_size=8)
    with pytest.raises(ValueError, match="partition order"):
        encode_flac(np.arange(100), 8000, block_size=100, partition_order=16)
    with pytest.raises(ValueError, match="stereo"):
        encode_flac(np.arange(10), 8000, stereo="mid-side")


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 6))
def test_mutation_robustness(seed, n_flips):
    """Bit-flip fuzz: a mutated stream must decode (CRC collisions are
    possible but the samples then still fit the declared layout) or
    raise ValueError — never crash or allocate unboundedly."""
    rng = np.random.RandomState(seed)
    data = bytearray(
        encode_flac(rng.randint(-2000, 2000, (40, 2)), 8000, 16,
                    stereo="mid-side")
    )
    for _ in range(n_flips):
        i = rng.randint(0, len(data))
        data[i] ^= 1 << rng.randint(0, 8)
    try:
        out = decode_flac(bytes(data))
        assert len(out["samples"]) <= MAX_SAMPLES
    except ValueError:
        pass


def test_decode_audio_dispatches_flac():
    from pipelinejobs_indexer_spark.llm.multimodal import decode_audio

    data = encode_flac(np.arange(32) * 3 - 48, 22050, 16)
    out = decode_audio(data, "audio/flac")
    assert out["rate"] == 22050
    assert out["samples"] == tuple((np.arange(32) * 3 - 48).tolist())
    # mp3/ogg keep the honest stub
    with pytest.raises(NotImplementedError, match="mp3/ogg"):
        decode_audio(b"\xff\xfbmp3-frame", "audio/mpeg")


def test_unknown_length_stream_still_bounded(monkeypatch):
    """STREAMINFO total=0 is spec-legal 'unknown length' and bypasses the
    declared-total check, so the decode loop itself must cap accumulated
    samples (ADVICE r8): shrink the bound and feed a total=0 stream that
    exceeds it — the decoder must raise, not keep allocating."""
    import pipelinejobs_indexer_spark.llm.flac as flacmod

    data = bytearray(encode_flac(np.zeros(256, dtype=np.int64), 8000, 16,
                                 block_size=64))
    # rebuild STREAMINFO with total=0 (and zero MD5: the stream is
    # 'unverifiable', which is exactly the hostile shape)
    bw = MsbWriter()
    bw.write(64, 16)   # min block
    bw.write(64, 16)   # max block
    bw.write(0, 24)    # min frame
    bw.write(0, 24)    # max frame
    bw.write(8000, 20)
    bw.write(0, 3)     # channels-1
    bw.write(15, 5)    # bits-1
    bw.write(0, 36)    # total = 0: unknown length
    patched = bytes(data[:8]) + bw.flush() + b"\x00" * 16 + bytes(data[42:])
    # sanity: with the real bound the patched stream decodes fine
    assert len(decode_flac(patched)["samples"]) == 256
    monkeypatch.setattr(flacmod, "MAX_SAMPLES", 128)
    with pytest.raises(ValueError, match="sample bound"):
        flacmod.decode_flac(patched)


# --------------------------- hand-authored spec fixture (ADVICE r8)
def test_hand_authored_verbatim_fixture():
    """A whole FLAC stream written byte-by-byte from RFC 9639 — MSB-first
    packing, STREAMINFO layout, frame header field by field, a VERBATIM
    subframe — with CRC-8/CRC-16 computed by independent test-local
    implementations of the published polynomials and the MD5 via
    hashlib. Never touches encode_flac, so a symmetric encoder/decoder
    spec misreading that survives every round trip fails here."""
    import hashlib

    samples = [100, -7, 32767, -32768]

    def crc8(data):  # poly x^8+x^2+x+1 = 0x07, init 0 (RFC 9639 §9.1.1)
        c = 0
        for b in data:
            c ^= b
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        return c

    def crc16(data):  # poly x^16+x^15+x^2+1 = 0x8005, init 0
        c = 0
        for b in data:
            c ^= b << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        return c

    class Msb:
        def __init__(self):
            self.bits = []

        def w(self, v, n):
            for i in range(n - 1, -1, -1):
                self.bits.append((v >> i) & 1)

        def bytes(self):
            out = bytearray()
            for i in range(0, len(self.bits), 8):
                b = 0
                for bit in self.bits[i : i + 8]:
                    b = (b << 1) | bit
                out.append(b)
            return bytes(out)

    md5 = hashlib.md5()
    for s in samples:
        md5.update(int(s).to_bytes(2, "little", signed=True))

    si = Msb()
    si.w(4, 16)      # min block size
    si.w(4, 16)      # max block size
    si.w(0, 24)      # min frame size (unknown)
    si.w(0, 24)      # max frame size
    si.w(8000, 20)   # sample rate
    si.w(0, 3)       # channels - 1
    si.w(15, 5)      # bits per sample - 1
    si.w(len(samples), 36)
    streaminfo = si.bytes() + md5.digest()
    assert len(streaminfo) == 34

    fh = Msb()
    fh.w(0b11111111111110, 14)  # sync
    fh.w(0, 1)   # reserved
    fh.w(0, 1)   # fixed blocksize strategy (coded number = frame index)
    fh.w(0b0110, 4)  # blocksize: 8-bit value-1 follows header
    fh.w(0b0000, 4)  # sample rate: from STREAMINFO
    fh.w(0b0000, 4)  # channels: 1 (independent)
    fh.w(0b100, 3)   # sample size: 16-bit
    fh.w(0, 1)   # reserved
    header = fh.bytes() + bytes([0x00])       # coded frame number 0
    header += bytes([len(samples) - 1])       # blocksize - 1
    header += bytes([crc8(header)])

    sub = Msb()
    sub.w(0, 1)          # padding bit
    sub.w(0b000001, 6)   # subframe type: VERBATIM
    sub.w(0, 1)          # no wasted bits
    for s in samples:
        sub.w(s & 0xFFFF, 16)
    frame = header + sub.bytes()
    frame += crc16(frame).to_bytes(2, "big")

    data = b"fLaC" + bytes([0x80, 0, 0, 34]) + streaminfo + frame
    from pipelinejobs_indexer_spark.llm.flac import decode_flac

    out = decode_flac(data)
    assert out["rate"] == 8000 and out["channels"] == 1
    assert [int(v) for v in out["samples"]] == samples


def test_crc_published_check_values():
    """External pins for the framing CRCs: the reveng catalogue check
    values for the ASCII string '123456789' — CRC-8 poly 0x07 init 0
    non-reflected = 0xF4; CRC-16 poly 0x8005 init 0 non-reflected
    (CRC-16/UMTS, the FLAC frame CRC) = 0xFEE8; CRC-32 poly 0x04C11DB7
    init 0 non-reflected, no final xor (the Ogg page CRC) = 0x89A1897F.
    A wrong polynomial, init, or bit order cannot produce all three."""
    assert crc_msb(b"123456789", 0x07, 8) == 0xF4
    assert crc_msb(b"123456789", 0x8005, 16) == 0xFEE8
    assert crc_msb(b"123456789", 0x04C11DB7, 32) == 0x89A1897F
    assert crc_msb(b"", 0x07, 8) == 0
    assert crc_msb(b"", 0x8005, 16) == 0
