"""g711.py semantics: G.711 μ-law/A-law expansion pinned on canonical
anchor pairs and all-byte idempotence, segment-search encoders
round-tripped against decode, the IMA ADPCM block walk (header
predictor emission, nibble order, index clamps, int16 clamps, stereo
interleave) hand-verified, the independent RIFF walker's error
classes, and decode_audio's format-tag dispatch."""

from __future__ import annotations

import os
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm import multimodal  # noqa: E402
from pipelinejobs_indexer_spark.llm.g711 import (  # noqa: E402
    IMA_STEPS,
    WAVE_FMT_ALAW,
    WAVE_FMT_IMA_ADPCM,
    WAVE_FMT_MULAW,
    alaw_decode_byte,
    alaw_encode_sample,
    ima_adpcm_decode,
    mulaw_decode_byte,
    mulaw_encode_sample,
    parse_companded_wav,
    write_wav,
)


def test_g711_anchor_vectors():
    # the canonical table corners every published G.711 listing shares
    assert mulaw_decode_byte(0x00) == -32124
    assert mulaw_decode_byte(0x80) == 32124
    assert mulaw_decode_byte(0xFF) == 0
    assert alaw_decode_byte(0x55) == -8
    assert alaw_decode_byte(0xD5) == 8
    assert alaw_decode_byte(0x2A) == -32256  # A-law full scale
    assert alaw_decode_byte(0xAA) == 32256


def test_g711_all_bytes_idempotent():
    # encode(decode(b)) must land back on the same quantization cell
    for b in range(256):
        s = mulaw_decode_byte(b)
        assert mulaw_decode_byte(mulaw_encode_sample(s)) == s, b
        s = alaw_decode_byte(b)
        assert alaw_decode_byte(alaw_encode_sample(s)) == s, b


def test_g711_encode_quantization_bound():
    # segment quantization: error bounded by the local step size
    for s in range(-32000, 32001, 97):
        assert abs(mulaw_decode_byte(mulaw_encode_sample(s)) - s) <= 1024
        assert abs(alaw_decode_byte(alaw_encode_sample(s)) - s) <= 1024


def test_ima_block_hand_decoded():
    p0, i0 = 100, 20
    hdr = struct.pack("<hBB", p0, i0, 0)
    chans = ima_adpcm_decode(hdr + bytes([0x00] * 32), 1, 36)
    # nibble 0: diff = step >> 3, index walks down one per nibble
    want = [p0]
    p = p0
    for t in range(64):
        p += IMA_STEPS[max(i0 - t, 0)] >> 3
        want.append(p)
    assert chans == [want]
    # sign nibble 8 walks the predictor DOWN by the same magnitudes
    chans = ima_adpcm_decode(hdr + bytes([0x88] * 32), 1, 36)
    want = [p0]
    p = p0
    for t in range(64):
        p -= IMA_STEPS[max(i0 - t, 0)] >> 3
        want.append(p)
    assert chans == [want]


def test_ima_clamps():
    # predictor clamp at +32767 (nibble 7 at the table top overshoots)
    hdr = struct.pack("<hBB", 32700, 88, 0)
    chans = ima_adpcm_decode(hdr + bytes([0x77] * 4), 1, 8)
    assert chans[0][1] == 32767 and chans[0][-1] == 32767
    # index clamp at 88: nibble 7 adjusts +8, must stick at 88
    hdr = struct.pack("<hBB", -32700, 88, 0)
    chans = ima_adpcm_decode(hdr + bytes([0xFF] * 4), 1, 8)
    assert chans[0][-1] == -32768  # symmetric clamp at the floor


def test_ima_stereo_interleave():
    h = struct.pack("<hBB", 10, 5, 0) + struct.pack("<hBB", -10, 8, 0)
    body = bytes([0x00] * 4) + bytes([0x88] * 4)  # ch0 up, ch1 down
    chans = ima_adpcm_decode(h + body, 2, 16)
    assert chans[0][0] == 10 and chans[1][0] == -10
    assert chans[0][1] > 10 and chans[1][1] < -10
    wav = write_wav(WAVE_FMT_IMA_ADPCM, h + body, channels=2, rate=8000,
                    bits=4, block_align=16, frames=9)
    out = parse_companded_wav(wav)
    assert out["channels"] == 2 and out["frames"] == 9
    assert out["samples"][0] == 10 and out["samples"][1] == -10
    assert out["samples"][::2] == tuple(chans[0])


def test_ima_error_classes():
    hdr = struct.pack("<hBB", 0, 89, 0)  # step index past the table
    with pytest.raises(ValueError, match="> 88"):
        ima_adpcm_decode(hdr + bytes(32), 1, 36)
    hdr = struct.pack("<hBB", 0, 5, 1)  # nonzero reserved byte
    with pytest.raises(ValueError, match="reserved"):
        ima_adpcm_decode(hdr + bytes(32), 1, 36)
    with pytest.raises(ValueError, match="whole number"):
        ima_adpcm_decode(bytes(35), 1, 36)
    with pytest.raises(ValueError, match="misaligned"):
        ima_adpcm_decode(bytes(36), 2, 36)  # 2ch needs >= 8 header bytes


def test_wav_walker_and_dispatch():
    pay = bytes(range(128))
    wav = write_wav(WAVE_FMT_MULAW, pay, channels=1, rate=8000, bits=8,
                    block_align=1, frames=128)
    # decode_audio dispatches non-PCM tags here
    out = multimodal.decode_audio(wav, "audio/wav")
    assert out["samples"] == tuple(mulaw_decode_byte(b) for b in pay)
    assert out["rate"] == 8000 and out["frames"] == 128
    # odd-size data chunk gets a pad byte and still parses
    wav_odd = write_wav(WAVE_FMT_ALAW, pay[:127], channels=1, rate=8000,
                        bits=8, block_align=1, frames=127)
    assert parse_companded_wav(wav_odd)["frames"] == 127
    # genuinely compressed tags keep the codec refusal (mp3-in-WAV)
    wav_mp3 = write_wav(0x0055, b"\x00" * 16, channels=1, rate=8000,
                        bits=0, block_align=1, frames=16)
    with pytest.raises(NotImplementedError, match="0x0055"):
        multimodal.decode_audio(wav_mp3, "audio/wav")
    # PCM stays on the stdlib wave path end-to-end
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, -2, 3, -4))
    out = multimodal.decode_audio(buf.getvalue(), "audio/wav")
    assert out["samples"] == (1, -2, 3, -4)
    # PCM explicitly rejected by the companded parser (disjoint paths)
    with pytest.raises(ValueError, match="stdlib wave path"):
        parse_companded_wav(buf.getvalue())
    # missing fmt chunk is a structural error
    with pytest.raises(ValueError, match="fmt"):
        parse_companded_wav(b"RIFF\x04\x00\x00\x00WAVE")


def test_mutation_robustness_wav_and_probes():
    """Bit-flip fuzz over the audio surfaces: companded/ADPCM
    WAVs and the Ogg/MP3 probes decode correctly or raise ValueError /
    NotImplementedError — never crash (the pdf15 fuzz discipline)."""
    import random

    from pipelinejobs_indexer_spark.llm.multimodal import (
        probe_mp3,
        probe_ogg,
        synth_mp3_frames,
        synth_ogg,
    )

    rng = random.Random(23)
    mu_pay = bytes(range(128))
    hdr = struct.pack("<hBB", 50, 30, 0)
    fixtures = [
        ("wav", write_wav(WAVE_FMT_MULAW, mu_pay, channels=1, rate=8000,
                          bits=8, block_align=1, frames=128)),
        ("wav", write_wav(WAVE_FMT_IMA_ADPCM, hdr + bytes(32), channels=1,
                          rate=8000, bits=4, block_align=36, frames=65)),
        ("ogg", synth_ogg(7)),
        ("mp3", synth_mp3_frames(9)),
    ]
    for trial in range(300):
        kind, clean = fixtures[trial % 4]
        data = bytearray(clean)
        for _ in range(1 + trial % 6):
            data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
        try:
            if kind == "wav":
                out = multimodal.decode_audio(bytes(data), "audio/wav")
                assert len(out["samples"]) <= 8 * len(data)
            elif kind == "ogg":
                probe_ogg(bytes(data))
            else:
                probe_mp3(bytes(data))
        except (ValueError, NotImplementedError):
            pass



# --------------------------------------------------------------------------
# External conformance: CPython's audioop (an independent C implementation
# of G.711 companding and IMA/DVI ADPCM): codec claims must not rest
# solely on in-repo round trips. audioop is
# deprecated-but-present on this interpreter; skip cleanly if removed.
audioop = pytest.importorskip("audioop")


def test_mulaw_decode_matches_audioop_all_codes():
    from pipelinejobs_indexer_spark.llm.g711 import mulaw_decode_byte

    for b in range(256):
        (ref,) = struct.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))
        assert mulaw_decode_byte(b) == ref, b


def test_alaw_decode_matches_audioop_all_codes():
    from pipelinejobs_indexer_spark.llm.g711 import alaw_decode_byte

    for b in range(256):
        (ref,) = struct.unpack("<h", audioop.alaw2lin(bytes([b]), 2))
        assert alaw_decode_byte(b) == ref, b


def test_alaw_encode_matches_audioop_full_domain():
    from pipelinejobs_indexer_spark.llm.g711 import alaw_encode_sample

    for s in range(-32768, 32768, 17):  # dense stride + exact boundaries
        assert alaw_encode_sample(s) == audioop.lin2alaw(
            struct.pack("<h", s), 2
        )[0], s
    for s in (-32768, -32767, -1, 0, 1, 32766, 32767):
        assert alaw_encode_sample(s) == audioop.lin2alaw(
            struct.pack("<h", s), 2
        )[0], s


def test_mulaw_encode_matches_audioop_after_14bit_quantization():
    """audioop pre-quantizes to 14 bits with an arithmetic >>2 (so
    negative samples round toward -inf) before the segment search; this
    module encodes the 16-bit sample directly, Sun-g711.c style. Both
    are G.711-legal readings — the exact relation, verified over the
    full domain when this test was written, is
    audioop(s) == ours((s >> 2) * 4)."""
    from pipelinejobs_indexer_spark.llm.g711 import mulaw_encode_sample

    for s in range(-32632, 32636, 13):
        q = (s >> 2) * 4
        assert mulaw_encode_sample(q) == audioop.lin2ulaw(
            struct.pack("<h", s), 2
        )[0], s
    # and on the shared exact-agreement subset (positives), no
    # quantization caveat at all
    for s in range(0, 32636, 11):
        assert mulaw_encode_sample(s) == audioop.lin2ulaw(
            struct.pack("<h", s), 2
        )[0], s


def test_ima_adpcm_core_matches_audioop():
    """The nibble->sample state machine must agree with audioop's
    Intel/DVI decoder: decode the same nibble stream through a WAV
    block (predictor 0, step 0 — the first output sample IS the
    header predictor) and through audioop with state (0, 0). Packing
    differs by design: IMA WAV is low-nibble-first, audioop is
    high-nibble-first."""
    from pipelinejobs_indexer_spark.llm.g711 import ima_adpcm_decode

    rng_state = 0x1234
    nibbles = []
    for _ in range(64):
        rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
        nibbles.append(rng_state % 16)
    body = bytes(
        (nibbles[i + 1] << 4) | nibbles[i] for i in range(0, len(nibbles), 2)
    )
    block = struct.pack("<hBB", 0, 0, 0) + body
    mine = ima_adpcm_decode(block, 1, len(block))[0]
    packed = bytes(
        (nibbles[i] << 4) | nibbles[i + 1] for i in range(0, len(nibbles), 2)
    )
    pcm, _state = audioop.adpcm2lin(packed, 2, (0, 0))
    theirs = list(struct.unpack(f"<{len(pcm) // 2}h", pcm))
    assert mine[0] == 0  # the header predictor
    assert mine[1:] == theirs


def test_ieee_float_wav_decodes():
    """WAVE_FMT_FLOAT (tag 3): float32/float64 frames in
    [-1, 1] — the DAW-export format. Exactly-representable values
    round-trip bit-identically; sub-32-bit float widths are corrupt."""
    import struct

    import pytest

    from pipelinejobs_indexer_spark.llm.g711 import parse_companded_wav

    def wav(bits, payload, nch=1, rate=48000):
        width = bits // 8
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 3, nch, rate,
                                    rate * width * nch, width * nch, bits)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    vals = (0.0, 0.5, -0.25, 1.0, -1.0, 0.125)
    out = parse_companded_wav(wav(32, struct.pack("<6f", *vals)))
    assert out["samples"] == vals and out["frames"] == 6
    assert out["rate"] == 48000 and out["channels"] == 1
    out = parse_companded_wav(wav(64, struct.pack("<6d", *vals), nch=2))
    assert out["samples"] == vals and out["frames"] == 3
    with pytest.raises(ValueError, match="float WAV"):
        parse_companded_wav(wav(16, b"\x00" * 8))


def test_ieee_float_wav_misaligned_data_is_loud():
    """A data chunk that is not a whole number of frames
    must raise the module's documented ValueError up front — not a
    struct.error on unpack (float32 mono, 10 bytes) and not a silently
    dropped trailing partial frame (float32 stereo, 12 bytes = 1.5
    frames)."""
    import struct

    import pytest

    from pipelinejobs_indexer_spark.llm.g711 import parse_companded_wav

    def wav(bits, payload, nch=1):
        width = bits // 8
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 3, nch, 48000,
                                    48000 * width * nch, width * nch, bits)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    with pytest.raises(ValueError, match="multiple"):
        parse_companded_wav(wav(32, b"\x00" * 10))  # not a sample multiple
    with pytest.raises(ValueError, match="multiple"):
        parse_companded_wav(wav(32, b"\x00" * 12, nch=2))  # 1.5 frames
    with pytest.raises(ValueError, match="multiple"):
        parse_companded_wav(wav(64, b"\x00" * 20))  # 2.5 doubles
