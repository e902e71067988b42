"""L5: multimodal columns — binary payloads with typed metadata
(BASELINE.json:6 mandate; reference analog: the fixture archive tree
/root/reference/tests/store/uploads/{potato.zip, austin.pdf,
emerald/201808/protein.png} and the magic-byte `filetype` dep,
/root/reference/requirements-dev.txt:18).

Model: media are opaque `binary` columns + a typed metadata struct; all
per-item compute (decode, resize, frame-sample, feature-extract) runs as
Arrow-batched pandas over `mapInPandas`, so Python touches each batch
once and the exchange is columnar.

Decode layer — REAL, pure-stdlib, per format: PNG (png.py: zlib +
defiltering; llm_multimodal_thumbnail_png), baseline JPEG (jpeg.py:
T.81 sequential; llm_multimodal_jpeg), WAV audio (stdlib ``wave``;
llm_multimodal_audio), MP4 container metadata (probe_video;
llm_multimodal_video_probe), and MJPEG-in-AVI frame pixels
(avi_mjpeg_frames + jpeg.py; llm_multimodal_video_frames) — each with
a closed-form DuckDB oracle. Compressed audio (mp3/ogg), webp, and
inter-frame video codecs (H.264 etc.) need codec libraries NOT in this
container — those entry points are stubs raising NotImplementedError
with the exact contract documented; the Spark-side plumbing (schema,
batch iteration, partitioning, output shape) is real and tested
(tests/test_llm.py).

Scale notes: binary payloads dominate bytes, so (1) never shuffle the
content column — extract features first, project content away, then
join/aggregate the small feature frame; (2) size partitions by bytes not
rows (`spark.sql.files.maxPartitionBytes`) because row count is a useless
proxy when blobs vary 1 KB..100 MB; (3) `spark.sql.execution.arrow.
maxRecordsPerBatch` bounds per-batch memory for the pandas stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register
from ..tables import doc_ids, load_table, map_rows, spread
from .bits import crc_msb

# magic-number table (reference analog: `filetype` sniffing; same table as
# functions/udfs.py F12 but over raw bytes here)
_MAGIC = [
    (b"BAM\x01", "application/octet-stream"),  # BAM block header (the domain's file type)
    (b"\x89PNG", "image/png"),
    (b"%PDF", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"RIFF", "audio/wav"),
    (b"\x1f\x8b", "application/gzip"),
]

# printable-ASCII head test, shared by every sniffer (Python, Column, and
# the DuckDB oracles): byte in [0x20, 0x7E] OR tab/LF/CR — text files
# routinely carry a newline within their first 16 bytes.
PRINTABLE_HEX_RE = "^(09|0A|0D|2[0-9A-F]|[3-6][0-9A-F]|7[0-9A-E])*$"
_PRINTABLE_BYTES = frozenset(range(0x20, 0x7F)) | {0x09, 0x0A, 0x0D}

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("head_hex", StringType()),
        StructField("mime_sniffed", StringType()),
    ]
)


def sniff_mime(head: bytes) -> str:
    for magic, mime in _MAGIC:
        if head.startswith(magic):
            return mime
    # tar's magic lives at offset 257 (ustar), outside a 16-byte head:
    # full-content callers get the real answer, head-only callers the
    # octet-stream fallback (consistent on BOTH engine and oracle sides,
    # which share this function's window)
    if len(head) >= 262 and head[257:262] == b"ustar":
        return "application/x-tar"
    if all(b in _PRINTABLE_BYTES for b in head[:16]):
        return "text/plain"
    return "application/octet-stream"


# --------------------------------------------------- decoders and stubs
# PNG decode is REAL — pure stdlib zlib inflate + per-row defiltering
# (png.py), validated by encode/decode round trips over every filter type
# and by parsing the reference's own 512x512 RGB fixture
# (tests/store/uploads/emerald/201808/protein.png). Other codecs need
# libs absent from this container (Pillow, ffmpeg, librosa) and keep the
# documented NotImplementedError contract — swap the function, the
# pandas-stage plumbing is shared.

def decode_image(content: bytes, mime: str) -> "object":
    """Decode an image payload. PNG: real (png.py, stdlib zlib +
    defiltering). Baseline JPEG: real (jpeg.py, pure-stdlib T.81
    sequential decoder — Huffman, dequant, IDCT, 4:2:0/4:2:2 upsample,
    YCbCr->RGB). GIF: real (gif.py, LZW + palette + interlace, first
    frame). Lossless WebP: real (webp.py, VP8L prefix codes + LZ77 +
    color cache + all four transforms). Remaining formats (lossy VP8,
    progressive JPEG re-raised from jpeg.py as ValueError data errors)
    need float-DSP codec libs (Pillow/cv2)."""
    from .png import SIGNATURE, decode_png

    if mime == "image/png" or content[:8] == SIGNATURE:
        return decode_png(content)
    if mime == "image/jpeg" or content[:3] == b"\xff\xd8\xff":
        from .jpeg import decode_jpeg

        return decode_jpeg(content)
    from .gif import SIGNATURES as GIF_SIGNATURES

    if mime == "image/gif" or content[:6] in GIF_SIGNATURES:
        from .gif import decode_gif

        return decode_gif(content)
    if mime == "image/webp" or (
        content[:4] == b"RIFF" and content[8:12] == b"WEBP"
    ):
        from .webp import decode_webp

        return decode_webp(content)
    if mime == "image/tiff" or content[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff

        return decode_tiff(content)
    raise NotImplementedError(
        "non-PNG/JPEG/GIF/WebP/TIFF image decode requires Pillow/cv2 (not "
        "in container); plumbing is real — swap this function only"
    )


def decode_audio(content: bytes, mime: str) -> dict:
    """Decode an audio payload. WAV (RIFF/PCM 8- or 16-bit): REAL, via the
    stdlib ``wave`` parser. FLAC: REAL (flac.py — rice coding, fixed +
    integer-LPC predictors, stereo decorrelation, CRC-8/16 + MD5
    verification; pure integer arithmetic). Both return {rate, channels,
    frames, samples} with samples as signed ints, interleaved. The
    remaining compressed formats (mp3/ogg — float MDCT synthesis) need
    codec libs absent from this container and keep the documented
    NotImplementedError contract."""
    import io
    import struct
    import wave

    if mime in ("audio/flac", "audio/x-flac") or content[:4] == b"fLaC":
        from .flac import decode_flac

        return decode_flac(content)

    if mime in ("audio/wav", "audio/x-wav") or (
        content[:4] == b"RIFF" and content[8:12] == b"WAVE"
    ):
        from .g711 import wav_format_tag

        tag = wav_format_tag(content)
        if tag is not None and tag != 1:
            # non-PCM tags the stdlib wave module cannot read: G.711
            # A-law/μ-law and IMA ADPCM decode for real (g711.py);
            # genuinely compressed tags keep the codec refusal there
            from .g711 import parse_companded_wav

            return parse_companded_wav(content)
        try:
            with wave.open(io.BytesIO(content)) as w:
                rate = w.getframerate()
                nch = w.getnchannels()
                nframes = w.getnframes()
                width = w.getsampwidth()
                raw = w.readframes(nframes)
        except (wave.Error, EOFError, RuntimeError) as exc:
            # normalize the stdlib parser's mixed error classes (incl.
            # chunk.py's bare RuntimeError on corrupt seeks) to this
            # module's corruption contract
            raise ValueError(f"corrupt WAV payload: {exc!r}") from exc
        if width == 2:
            samples = struct.unpack(f"<{len(raw) // 2}h", raw)
        elif width == 1:
            samples = tuple(b - 128 for b in raw)  # WAV 8-bit is unsigned
        elif width == 3:
            # 24-bit PCM (studio/archival audio): 3-byte little-endian
            # two's complement — sign-extension cross-checked against
            # audioop.lin2lin in tests
            samples = tuple(
                int.from_bytes(raw[i : i + 3], "little", signed=True)
                for i in range(0, len(raw) - 2, 3)
            )
        elif width == 4:
            samples = struct.unpack(f"<{len(raw) // 4}i", raw)
        else:
            raise NotImplementedError(f"{8 * width}-bit PCM not supported")
        return {
            "rate": rate,
            "channels": nch,
            "frames": nframes,
            "samples": samples,
        }
    raise NotImplementedError(
        "mp3/ogg decode requires float-MDCT codec libs (soundfile/ffmpeg, "
        "not in container); WAV and FLAC decode are real"
    )


def sample_frames(content: bytes, mime: str, every_n: int = 30) -> "object":
    """Sample every-nth video frame as decoded pixel arrays.

    REAL for MJPEG-in-AVI: the RIFF container walk (avi_mjpeg_frames)
    needs no codec, and each frame is a standalone baseline JPEG the
    pure-stdlib T.81 decoder (jpeg.py) handles — returns a list of
    (frame_idx, pixels) with pixels in decode_jpeg's row-list form.
    Inter-frame-compressed codecs (H.264/VP9/...) genuinely require
    ffmpeg bindings and keep the documented NotImplementedError
    contract."""
    if content[:4] == b"RIFF":
        # A RIFF payload is container territory, not a codec gap: truncated
        # or non-AVI RIFF (e.g. a WAVE fed to the video path) is corrupt
        # INPUT and keeps the ValueError data-error contract — only
        # genuinely non-RIFF codec classes reach NotImplementedError.
        if content[8:12] != b"AVI ":
            raise ValueError(
                "corrupt or non-AVI RIFF payload "
                f"(fourcc {content[8:12]!r}, {len(content)} bytes)"
            )
        return _sample_from_meta(avi_mjpeg_frames(content), every_n)
    raise NotImplementedError(
        "inter-frame video codecs require ffmpeg (not in container); "
        "MJPEG-in-AVI decodes for real via avi_mjpeg_frames + jpeg.py"
    )


def _sample_from_meta(meta: dict, every_n: int) -> list:
    """Decode every n-th frame of an already-walked AVI (single source of
    the sampling rule — sample_frames and the frames query both use it,
    the latter with its own walk so the container is parsed once)."""
    from .jpeg import decode_jpeg

    return [
        (idx, decode_jpeg(frame)[3])
        for idx, frame in enumerate(meta["frames"])
        if idx % every_n == 0
    ]


def avi_mjpeg_frames(content: bytes) -> dict:
    """REAL RIFF/AVI container walk — no codec needed: RIFF is the little-
    endian cousin of the ISO-BMFF box grammar probe_video already walks
    (fourcc + 4-byte LE size, children nested inside LIST chunks, chunks
    word-aligned). Returns {n_frames, width, height, frames:[bytes]} with
    frames the raw per-frame payloads of the '..dc'/'..db' stream chunks
    inside LIST movi, in stream order. Malformed containers raise
    ValueError (loud errors, not wrong frames): truncated chunks, missing
    avih, or an avih frame count disagreeing with the movi chunk count.

    Public-spec provenance: the RIFF chunk grammar and AVI main-header
    layout (avih: 14 little-endian DWORDs; dwTotalFrames at index 4,
    dwWidth/dwHeight at 8/9) are from the published AVI RIFF file format
    specification; no third-party code."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI payload")

    def chunks(buf: bytes, start: int, end: int):
        off = start
        while off + 8 <= end:
            fcc = buf[off : off + 4]
            (size,) = struct.unpack_from("<I", buf, off + 4)
            body = off + 8
            if body + size > end:
                raise ValueError(f"truncated chunk {fcc!r} at {off}")
            yield fcc, body, body + size
            off = body + size + (size & 1)  # chunks are word-aligned

    total = width = height = None
    frames: list[bytes] = []
    for fcc, body, bend in chunks(content, 12, len(content)):
        if fcc != b"LIST":
            continue
        ltype = content[body : body + 4]
        if ltype == b"hdrl":
            for f2, b2, _e2 in chunks(content, body + 4, bend):
                if f2 == b"avih":
                    vals = struct.unpack_from("<14I", content, b2)
                    total, width, height = vals[4], vals[8], vals[9]
        elif ltype == b"movi":

            def collect(start: int, end: int) -> None:
                for f2, b2, e2 in chunks(content, start, end):
                    # '##dc' compressed / '##db' uncompressed video chunks
                    if f2[2:4] in (b"dc", b"db"):
                        frames.append(content[b2:e2])
                    elif f2 == b"LIST" and content[b2 : b2 + 4] == b"rec ":
                        # AVI-RIFF interleave grouping: frame chunks may
                        # nest one level inside 'rec ' LISTs
                        collect(b2 + 4, e2)

            collect(body + 4, bend)
    if total is None:
        raise ValueError("no avih main header (missing LIST hdrl)")
    if total != len(frames):
        raise ValueError(
            f"avih declares {total} frames but movi carries {len(frames)}"
        )
    return {
        "n_frames": len(frames),
        "width": width,
        "height": height,
        "frames": frames,
    }


def probe_video(content: bytes) -> dict:
    """REAL MP4/ISO-BMFF container probe — no codec needed: the box
    structure (4-byte big-endian size + 4-char type, children nested in
    container boxes) is pure struct parsing, exactly like zip central
    directories. Returns brand (ftyp), movie timescale/duration from
    mvhd (v0 and v1 layouts), and the track count (trak boxes under
    moov). MP4 frame pixels still need ffmpeg (the codecs are
    inter-frame); MJPEG-in-AVI frames decode for real (sample_frames)."""
    import struct

    if len(content) < 8 or content[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF/MP4 payload (no leading ftyp box)")

    def boxes(buf: bytes, start: int, end: int):
        off = start
        while off + 8 <= end:
            size, = struct.unpack_from(">I", buf, off)
            btype = buf[off + 4 : off + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize: header grows to 16 bytes
                if off + 16 > end:
                    raise ValueError(f"truncated largesize box at {off}")
                size, = struct.unpack_from(">Q", buf, off + 8)
                hdr = 16
            elif size == 0:  # box extends to the end of the enclosure
                size = end - off
            if size < hdr or off + size > end:
                raise ValueError(f"malformed box {btype!r} at {off}")
            yield btype, off + hdr, off + size
            off += size

    brand = content[8:12].decode("ascii", "replace")
    timescale = duration = None
    n_tracks = 0
    for btype, body, bend in boxes(content, 0, len(content)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in boxes(content, body, bend):
            if ctype == b"mvhd":
                version = content[cbody]
                if version == 1:
                    timescale, = struct.unpack_from(">I", content, cbody + 20)
                    duration, = struct.unpack_from(">Q", content, cbody + 24)
                else:
                    timescale, = struct.unpack_from(">I", content, cbody + 12)
                    duration, = struct.unpack_from(">I", content, cbody + 16)
            elif ctype == b"trak":
                n_tracks += 1
    if timescale is None:
        raise ValueError("no mvhd box — movie header missing")
    if timescale == 0:
        raise ValueError("mvhd timescale is zero — corrupt movie header")
    return {
        "brand": brand,
        "timescale": timescale,
        "duration": duration,
        "duration_ms": duration * 1000 // timescale,
        "n_tracks": n_tracks,
    }


def _byte_feature_rows(doc_id, content):
    """Deterministic byte-level features only (no codec deps): size, md5,
    head bytes, sniffed MIME. Real decoders plug in per-MIME here.
    """
    import hashlib

    yield (
        doc_id, len(content), hashlib.md5(content).hexdigest(),
        content[:8].hex(), sniff_mime(content),
    )


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-shaped as a multimodal table: opaque binary content +
    typed metadata struct. (In production this is the `binaryFile` source
    over an archive tree — path/length/modificationTime/content — which
    yields the identical shape; the documents table stands in because the
    container has the parquet fixtures only.) spread() so the CPU-bound
    per-row decode downstream is not serialized behind the fixture's
    single parquet split (tables.py:76; no-op at real scale)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("content"),
        F.struct(
            F.lit("text/plain").alias("declared_mime"),
            F.col("source").alias("origin"),
            F.col("n_chars").cast("long").alias("declared_size"),
        ).alias("meta"),
    )


def _sniff_mime_col(content):
    """sniff_mime as a pure Column expression: magic-prefix compares on the
    binary column, printable-ASCII fallback via a hex-pair regex over the
    first 16 bytes (each byte in [0x20, 0x7E] <=> hex pair 20..7E)."""
    sniffed = None
    for magic, mime in _MAGIC:
        cond = F.substring(content, 1, len(magic)) == F.lit(magic)
        sniffed = F.when(cond, mime) if sniffed is None else sniffed.when(cond, mime)
    printable = F.hex(F.substring(content, 1, 16)).rlike(PRINTABLE_HEX_RE)
    return sniffed.otherwise(
        F.when(printable, "text/plain").otherwise("application/octet-stream")
    )


@register(
    "llm_multimodal_features",
    sql="""SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS n_bytes,
                  md5(text) AS content_md5,
                  lower(hex(substr(text, 1, 8))) AS head_hex,
                  'text/plain' AS mime_sniffed
           FROM documents""",
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level media features, entirely JVM-side: length/md5/hex/magic
    compares are all built-in Column functions over the binary column, so
    the whole query is one codegen'd scan+project — no Python worker, no
    shuffle, content never leaves the stage. The Arrow/mapInPandas variant
    (`llm_multimodal_features_arrow`) keeps the decode-extensible path; this
    is the plan you run when no codec is needed.
    """
    media = media_table(spark, sf_dir)
    c = F.col("content")
    return media.select(
        "doc_id",
        F.length(c).cast("long").alias("n_bytes"),
        F.md5(c).alias("content_md5"),
        F.lower(F.hex(F.substring(c, 1, 8))).alias("head_hex"),
        _sniff_mime_col(c).alias("mime_sniffed"),
    )


@register(
    "llm_multimodal_features_arrow",
    sql="""SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS n_bytes,
                  md5(text) AS content_md5,
                  lower(hex(substr(text, 1, 8))) AS head_hex,
                  'text/plain' AS mime_sniffed
           FROM documents""",
)
def llm_multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction via mapInPandas — the decode-shaped
    path. Same answer as `llm_multimodal_features`; the point under test is
    the Arrow plumbing a real image/audio decoder needs: binary column in,
    typed feature frame out, content column never shuffled. Real decoders
    (decode_image/decode_audio stubs) plug into `_byte_feature_rows` per-MIME.
    """
    media = media_table(spark, sf_dir).select("doc_id", "content")
    return map_rows(media, _byte_feature_rows, FEATURES_SCHEMA)


FRAME_BYTES = 64   # fake "frame" stride over the byte stream
FRAME_EVERY = 3    # keep every 3rd frame
THUMB_CELLS = 4    # block-mean "resize" to 4 cells

FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_md5", StringType()),
        StructField("n_frames", LongType()),
    ]
)

THUMB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("cell", LongType()),
        StructField("mean_byte", LongType()),
    ]
)


def _fake_frame_rows(doc_id, content):
    """Deterministic frame sampler: the byte stream chunked into
    FRAME_BYTES-sized frames, every FRAME_EVERY-th kept. Real video swaps
    this for an ffmpeg-backed decoder (sample_frames stub) — the fan-out
    shape and output schema stay identical."""
    import hashlib

    n_frames = (len(content) + FRAME_BYTES - 1) // FRAME_BYTES
    for idx in range(0, n_frames, FRAME_EVERY):
        frame = content[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
        yield doc_id, idx, hashlib.md5(frame).hexdigest(), n_frames


@register(
    "llm_multimodal_frames",
    sql=f"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         f AS (
           SELECT doc_id, text, n,
                  CAST(ceil(n / {FRAME_BYTES}.0) AS BIGINT) AS n_frames
           FROM d
         ),
         x AS (
           SELECT doc_id, text, n_frames,
                  unnest(generate_series(0, n_frames - 1)) AS idx
           FROM f
         )
         SELECT doc_id, idx AS frame_idx,
                md5(substr(text, CAST(idx * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES}))
                  AS frame_md5,
                n_frames
         FROM x WHERE idx % {FRAME_EVERY} = 0""",
)
def llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media via mapInPandas: one input row
    fans out to its sampled frames (UDTF shape). The oracle recomputes the
    same frames relationally on the utf-8 bytes, so the Arrow fan-out
    plumbing is value-checked, not just row-counted. Scale: frames-per-row
    is bounded by the media length — partition by bytes, never shuffle
    content, aggregate on the emitted metadata only."""
    media = media_table(spark, sf_dir).select("doc_id", "content")
    return map_rows(media, _fake_frame_rows, FRAMES_SCHEMA)


def resize_image(content: bytes, mime: str, w: int, h: int) -> "object":
    """Decode + area-average resample to (h, w, C). Real for PNG and
    baseline JPEG (decode_image -> png.block_mean_resize); other formats
    keep the NotImplementedError contract until a codec lib is
    provisioned."""
    from .png import block_mean_resize

    return block_mean_resize(decode_image(content, mime), w, h)


PNG_SIDE = 16  # synthesized fixture images are PNG_SIDE x PNG_SIDE gray
PNG_GRID = 2   # thumbnail grid: PNG_GRID x PNG_GRID quadrants


def _quadrant_rows(doc_id: int, img, grid: int):
    """(doc_id, cell, integer mean) per cell of a grid x grid split of a
    square 2-D array, cells numbered row-major: the thumbnail reduction
    the PNG, GIF and WebP legs share."""
    q = img.shape[0] // grid
    for k in range(grid * grid):
        qy, qx = divmod(k, grid)
        cell = img[qy * q : (qy + 1) * q, qx * q : (qx + 1) * q]
        yield doc_id, k, int(cell.sum()) // cell.size


def _png_thumb_rows(doc_id: int):
    """Synthesize a deterministic grayscale PNG per doc (pixel(y, x) =
    (doc_id*7 + y*W + x) % 256, scanline filters cycling 0..4), then run
    the REAL decode — zlib inflate + per-row defiltering including Paeth —
    and emit quadrant pixel means. The oracle recomputes the means straight
    from the pixel formula, so a defiltering bug in any branch breaks the
    value hash."""
    import numpy as np

    from .png import decode_png, encode_png_gray

    w = PNG_SIDE
    yy, xx = np.mgrid[0:w, 0:w]
    img = ((doc_id * 7 + yy * w + xx) % 256).astype(np.uint8)
    # odd docs take the Adam7-interlaced layout: same pixels out, so the
    # closed-form oracle is untouched while the seven-pass scatter path
    # carries driver-hash evidence
    dec = decode_png(
        encode_png_gray(
            img, row_filters=(0, 1, 2, 3, 4), interlace=(doc_id % 2 == 1)
        )
    )
    return _quadrant_rows(doc_id, dec[:, :, 0].astype(np.int64), PNG_GRID)


THUMB_PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("cell", LongType()),
        StructField("mean_px", LongType()),
    ]
)


@register(
    "llm_multimodal_thumbnail_png",
    sql=f"""SELECT d.doc_id, c.k AS cell,
                   CAST(sum((d.doc_id * 7
                             + ((c.k // {PNG_GRID}) * {PNG_SIDE // PNG_GRID} + j.j)
                               * {PNG_SIDE}
                             + ((c.k % {PNG_GRID}) * {PNG_SIDE // PNG_GRID} + i.i))
                            % 256)
                        // {(PNG_SIDE // PNG_GRID) ** 2} AS BIGINT) AS mean_px
            FROM (SELECT doc_id FROM documents) d,
                 generate_series(0, {PNG_GRID * PNG_GRID - 1}) AS c(k),
                 generate_series(0, {PNG_SIDE // PNG_GRID - 1}) AS i(i),
                 generate_series(0, {PNG_SIDE // PNG_GRID - 1}) AS j(j)
            GROUP BY d.doc_id, c.k""",
)
def llm_multimodal_thumbnail_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5d: REAL image decode in the thumbnail path — per doc, a grayscale
    PNG is synthesized from a closed-form pixel formula (using every PNG
    scanline filter type), decoded by the pure-stdlib codec (png.py), and
    reduced to quadrant means. The DuckDB oracle never sees a PNG: it
    recomputes the expected means from the same closed form, so the hash
    certifies the inflate+defilter pipeline end-to-end. Non-PNG media keep
    the block-mean byte path (llm_multimodal_thumbnail) and the documented
    codec-absent stubs."""
    return map_rows(doc_ids(spark, sf_dir), _png_thumb_rows, THUMB_PNG_SCHEMA)


# --------------------------------------------- L5i real GIF decode path
GIF_SIDE = 16   # synthesized fixture GIFs are GIF_SIDE x GIF_SIDE
GIF_GRID = 2    # quadrant grid, the PNG-thumbnail pattern
GIF_COLORS = 64  # palette entries; pal[i] = (3i%256, 5i%256, 7i%256)


def _gif_thumb_rows(doc_id: int):
    """Synthesize a deterministic INTERLACED palette GIF per doc (index
    (y, x) = (doc_id*11 + y*W + x) % GIF_COLORS), then run the REAL
    decode — LZW inflate, de-interlace, palette expansion — and emit
    quadrant means of the per-pixel RGB sums. The oracle recomputes the
    means straight from the index formula, so an LZW, interlace-order,
    or palette bug breaks the value hash."""
    import numpy as np

    from .gif import decode_gif, encode_gif

    w = GIF_SIDE
    pal = np.stack(
        [(np.arange(GIF_COLORS) * m) % 256 for m in (3, 5, 7)], axis=1
    ).astype(np.uint8)
    yy, xx = np.mgrid[0:w, 0:w]
    idx = ((doc_id * 11 + yy * w + xx) % GIF_COLORS).astype(np.uint8)
    dec = decode_gif(encode_gif(idx, pal, interlace=True))
    return _quadrant_rows(doc_id, dec.astype(np.int64).sum(axis=2), GIF_GRID)


THUMB_GIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("cell", LongType()),
        StructField("mean_rgb", LongType()),
    ]
)

_GIF_IDX = (
    f"((d.doc_id * 11"
    f" + ((c.k // {GIF_GRID}) * {GIF_SIDE // GIF_GRID} + j.j) * {GIF_SIDE}"
    f" + ((c.k % {GIF_GRID}) * {GIF_SIDE // GIF_GRID} + i.i))"
    f" % {GIF_COLORS})"
)


@register(
    "llm_multimodal_gif",
    sql=f"""SELECT d.doc_id, c.k AS cell,
                   CAST(sum((3 * {_GIF_IDX}) % 256
                            + (5 * {_GIF_IDX}) % 256
                            + (7 * {_GIF_IDX}) % 256)
                        // {(GIF_SIDE // GIF_GRID) ** 2} AS BIGINT) AS mean_rgb
            FROM (SELECT doc_id FROM documents) d,
                 generate_series(0, {GIF_GRID * GIF_GRID - 1}) AS c(k),
                 generate_series(0, {GIF_SIDE // GIF_GRID - 1}) AS i(i),
                 generate_series(0, {GIF_SIDE // GIF_GRID - 1}) AS j(j)
            GROUP BY d.doc_id, c.k""",
)
def llm_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5i: REAL GIF decode in the thumbnail path (GIF is an image class
    a stdlib-only container can honestly decode: LZW and palettes are
    exact integer work). Per doc, an interlaced 64-color GIF is
    synthesized from a closed-form index formula, decoded by the
    pure-stdlib codec (gif.py: spec-complete LZW with 12-bit growth +
    dictionary reset, interlace reorder, palette expansion), and reduced to quadrant means of the
    RGB sums. The DuckDB oracle never sees a GIF: it recomputes the
    expected means from the same closed form, so the hash certifies the
    LZW+interlace+palette pipeline end-to-end (the
    llm_multimodal_thumbnail_png pattern). Scale shape: identical to
    L5d — embarrassingly parallel mapInPandas, O(rows) output, no
    shuffle of media bytes."""
    return map_rows(doc_ids(spark, sf_dir), _gif_thumb_rows, THUMB_GIF_SCHEMA)


# ------------------------------------------ L5z animated-GIF frame walk
GIF_ANIM_SIDE = 12
GIF_ANIM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("delay_total", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_wsum", LongType()),
    ]
)


def _gif_anim_rows(d: int):
    import numpy as np

    from .gif import decode_gif_frames, encode_gif_frames

    w = GIF_ANIM_SIDE
    pal = np.array(
        [[i * 17 % 256, (200 - i * 9) % 256, i * 23 % 256]
         for i in range(16)],
        dtype=np.uint8,
    )
    n = 2 + d % 3
    yy, xx = np.mgrid[0:w, 0:w]
    frames = [
        {
            "indices": ((d + 3 * xx + 5 * yy + 7 * f) % 16).astype(np.uint8),
            "delay_cs": 4 + (d + f) % 9,
            "disposal": f % 4,
            "interlace": f == 1,
        }
        for f in range(n)
    ]
    dec = decode_gif_frames(encode_gif_frames(frames, pal))
    if len(dec) != n:
        raise ValueError(f"animation decoded {len(dec)} != {n}")
    s = ws = dtot = 0
    for f, fr in enumerate(dec):
        if fr["delay_cs"] != 4 + (d + f) % 9:
            raise ValueError("GCE delay did not round-trip")
        if fr["disposal"] != f % 4:
            raise ValueError("GCE disposal did not round-trip")
        fsum = int(fr["pixels"].astype(np.int64).sum())
        s += fsum
        ws += (f + 1) * fsum
        dtot += fr["delay_cs"]
    yield d, n, dtot, s, ws


@register(
    "llm_multimodal_gif_anim",
    sql=f"""WITH px AS (
             SELECT d.doc_id, f.f,
                    ((d.doc_id + 3 * x.x + 5 * y.y + 7 * f.f) % 16)
                      AS idx
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, {GIF_ANIM_SIDE - 1}) AS x(x),
                  generate_series(0, {GIF_ANIM_SIDE - 1}) AS y(y),
                  generate_series(0, 3) AS f(f)
             WHERE f.f < 2 + d.doc_id % 3),
           fs AS (
             SELECT doc_id, f,
                    CAST(SUM((idx * 17) % 256 + (200 - idx * 9) % 256
                             + (idx * 23) % 256) AS BIGINT) AS fsum
             FROM px GROUP BY doc_id, f)
           SELECT d.doc_id,
                  CAST(2 + d.doc_id % 3 AS BIGINT) AS n_frames,
                  CAST((SELECT SUM(4 + (d.doc_id + g.f) % 9)
                        FROM generate_series(0, 3) AS g(f)
                        WHERE g.f < 2 + d.doc_id % 3) AS BIGINT)
                    AS delay_total,
                  (SELECT CAST(SUM(fsum) AS BIGINT) FROM fs
                   WHERE fs.doc_id = d.doc_id) AS px_sum,
                  (SELECT CAST(SUM((f + 1) * fsum) AS BIGINT) FROM fs
                   WHERE fs.doc_id = d.doc_id) AS px_wsum
           FROM (SELECT doc_id FROM documents) d""",
)
def llm_multimodal_gif_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5z: animated-GIF frame walk — per doc a real
    animation of 2-4 frames (GCE delay/disposal per frame, NETSCAPE
    loop extension, frame 1 interlaced) is encoded, then every frame
    decoded back through decode_gif_frames with its control metadata
    verified in-stage. The oracle recomputes per-frame palette-RGB
    sums and a frame-weighted sum in closed form — a dropped frame,
    swapped frame order, mis-parsed GCE, or per-frame interlace bug
    shifts a value. Externally pinned by the JDK writeToSequence
    fixture (anim.gif, test_conformance.py + the conformance query).
    Scale shape: zero-exchange mapInPandas, O(rows) output.

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) stores uploads opaquely; animation sampling is
    multimodal-ingest surface this engine adds."""
    return map_rows(doc_ids(spark, sf_dir), _gif_anim_rows, GIF_ANIM_SCHEMA)


# -------------------------------------------- L5j real WebP decode path
WEBP_SIDE = 16   # synthesized fixture WebPs are WEBP_SIDE x WEBP_SIDE
WEBP_GRID = 2    # quadrant grid, the PNG/GIF-thumbnail pattern
WEBP_VALS = 48   # pixel formula period (rich enough for LZ77 + cache)


def _webp_thumb_rows(doc_id: int):
    """Synthesize a deterministic RGBA image per doc (v(y, x) =
    (doc_id*17 + y*W + x) % WEBP_VALS; r,g,b = 7v,3v,13v mod 256), encode
    it as a REAL lossless WebP (subtract-green transform + greedy LZ77 +
    4-bit color cache — the production VP8L feature set), run the REAL
    decode — RIFF walk, prefix codes, LZ77/cache resolution, inverse
    add-green — and emit quadrant means of the per-pixel RGB sums. The
    oracle recomputes the means straight from the formula, so a Huffman,
    bit-order, transform, or cache bug breaks the value hash."""
    import numpy as np

    from .webp import decode_webp, encode_webp

    w = WEBP_SIDE
    yy, xx = np.mgrid[0:w, 0:w]
    v = (doc_id * 17 + yy * w + xx) % WEBP_VALS
    img = np.stack(
        [(v * 7) % 256, (v * 3) % 256, (v * 13) % 256, np.full_like(v, 255)],
        axis=2,
    ).astype(np.uint8)
    dec = decode_webp(
        encode_webp(img, subtract_green=True, use_lz77=True, cache_bits=4)
    )
    rgb_sum = dec[:, :, :3].astype(np.int64).sum(axis=2)
    return _quadrant_rows(doc_id, rgb_sum, WEBP_GRID)


_WEBP_V = (
    f"((d.doc_id * 17"
    f" + ((c.k // {WEBP_GRID}) * {WEBP_SIDE // WEBP_GRID} + j.j) * {WEBP_SIDE}"
    f" + ((c.k % {WEBP_GRID}) * {WEBP_SIDE // WEBP_GRID} + i.i))"
    f" % {WEBP_VALS})"
)


@register(
    "llm_multimodal_webp",
    sql=f"""SELECT d.doc_id, c.k AS cell,
                   CAST(sum((7 * {_WEBP_V}) % 256
                            + (3 * {_WEBP_V}) % 256
                            + (13 * {_WEBP_V}) % 256)
                        // {(WEBP_SIDE // WEBP_GRID) ** 2} AS BIGINT) AS mean_rgb
            FROM (SELECT doc_id FROM documents) d,
                 generate_series(0, {WEBP_GRID * WEBP_GRID - 1}) AS c(k),
                 generate_series(0, {WEBP_SIDE // WEBP_GRID - 1}) AS i(i),
                 generate_series(0, {WEBP_SIDE // WEBP_GRID - 1}) AS j(j)
            GROUP BY d.doc_id, c.k""",
)
def llm_multimodal_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5j: REAL lossless-WebP decode in the thumbnail path (VP8L is
    exact integer work a stdlib-only container can honestly decode;
    lossy VP8 keeps its NotImplementedError contract).
    Per doc, an RGBA image is synthesized from a closed-form value
    formula, encoded as a real VP8L bitstream (subtract-green transform,
    greedy LZ77 with mapped short distances, 4-bit color cache,
    canonical prefix codes through the code-length code), decoded by the
    pure-stdlib codec (webp.py), and reduced to quadrant means of the
    RGB sums. The DuckDB oracle never sees a WebP: it recomputes the
    expected means from the same closed form, so the hash certifies the
    prefix-code + LZ77 + cache + transform pipeline end-to-end (the
    llm_multimodal_thumbnail_png / llm_multimodal_gif pattern). Scale
    shape: identical to L5d/L5i — embarrassingly parallel mapInPandas,
    O(rows) output, no shuffle of media bytes."""
    return map_rows(doc_ids(spark, sf_dir), _webp_thumb_rows, THUMB_GIF_SCHEMA)


def _fake_thumb_rows(doc_id, content):
    """Deterministic 'resize': block-mean the byte stream into THUMB_CELLS
    cells (integer mean per cell) with numpy — the same Arrow-in,
    vectorized-compute, typed-frame-out shape a real resampler has."""
    import numpy as np

    arr = np.frombuffer(content, dtype=np.uint8)
    n = len(arr)
    for k in range(THUMB_CELLS):
        cell = arr[(k * n) // THUMB_CELLS : ((k + 1) * n) // THUMB_CELLS]
        # content shorter than THUMB_CELLS bytes leaves some cells empty:
        # they are skipped (the oracle filters the same cells out)
        if len(cell):
            yield doc_id, k, int(cell.sum()) // len(cell)


@register(
    "llm_multimodal_thumbnail",
    sql=f"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents)
         SELECT doc_id, k AS cell,
                CAST(list_sum([ascii(substr(text, CAST(i AS INT), 1))
                               for i in generate_series((k * n) // {THUMB_CELLS} + 1,
                                                        ((k + 1) * n) // {THUMB_CELLS})])
                     // (((k + 1) * n) // {THUMB_CELLS} - (k * n) // {THUMB_CELLS})
                     AS BIGINT) AS mean_byte
         FROM d, generate_series(0, {THUMB_CELLS - 1}) AS t(k)
         WHERE ((k + 1) * n) // {THUMB_CELLS} > (k * n) // {THUMB_CELLS}""",
)
def llm_multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing with a deterministic fake: block-mean the bytes to
    THUMB_CELLS integer cells (numpy over Arrow batches). The oracle
    recomputes the identical integer means from the character codes —
    a real resampler replaces only the numpy kernel (resize_image stub)."""
    media = media_table(spark, sf_dir).select("doc_id", "content")
    return map_rows(media, _fake_thumb_rows, THUMB_SCHEMA)


# ------------------------------------------------ L5e real WAV audio path
AUDIO_RATE = 8000  # PCM sample rate of the synthesized fixtures
AUDIO_PERIOD = 16  # square-wave period in frames

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_channels", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms", LongType()),
        StructField("peak", LongType()),
    ]
)


def _audio_frames(doc_id: int) -> int:
    return 400 + (doc_id % 50) * 16  # divisible by rate/1000 -> exact ms


def _audio_amp(doc_id: int) -> int:
    return 1000 + (doc_id % 97) * 64


def synth_wav(doc_id: int) -> bytes:
    """Deterministic mono PCM square-wave WAV, RIFF container
    hand-assembled with struct (NOT the wave writer — so the stdlib
    parser in decode_audio is an independent check of every header
    field). Sample width cycles per doc — 16-bit, 24-bit (3-byte
    two's complement), 32-bit — with the amplitude scaled
    to the width so RMS/peak stay closed-form."""
    import struct

    n = _audio_frames(doc_id)
    width = [2, 3, 4][doc_id % 3]
    amp = _audio_amp(doc_id) * (1 << (8 * (width - 2)))
    half = AUDIO_PERIOD // 2
    if width == 2:
        pcm = b"".join(
            struct.pack("<h", amp if (i // half) % 2 == 0 else -amp)
            for i in range(n)
        )
    elif width == 3:
        pcm = b"".join(
            (amp if (i // half) % 2 == 0 else -amp).to_bytes(
                3, "little", signed=True
            )
            for i in range(n)
        )
    else:
        pcm = b"".join(
            struct.pack("<i", amp if (i // half) % 2 == 0 else -amp)
            for i in range(n)
        )
    byte_rate = AUDIO_RATE * width
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, 1, AUDIO_RATE, byte_rate, width, 8 * width
        )
        + b"data"
        + struct.pack("<I", len(pcm))
    )
    return hdr + pcm


def _audio_rows(doc_id: int):
    import math

    audio = decode_audio(synth_wav(doc_id), "audio/wav")
    s = audio["samples"]
    yield (
        doc_id, audio["rate"], audio["channels"], audio["frames"],
        audio["frames"] * 1000 // audio["rate"],
        round(math.sqrt(sum(v * v for v in s) / len(s))),
        max(abs(v) for v in s),
    )


@register(
    "llm_multimodal_audio",
    sql=f"""SELECT doc_id,
                  CAST({AUDIO_RATE} AS BIGINT) AS sample_rate,
                  CAST(1 AS BIGINT) AS n_channels,
                  400 + (doc_id % 50) * 16 AS n_frames,
                  (400 + (doc_id % 50) * 16) * 1000 // {AUDIO_RATE} AS duration_ms,
                  (1000 + (doc_id % 97) * 64)
                    * CASE doc_id % 3 WHEN 0 THEN 1
                                      WHEN 1 THEN 256
                                      ELSE 65536 END AS rms,
                  (1000 + (doc_id % 97) * 64)
                    * CASE doc_id % 3 WHEN 0 THEN 1
                                      WHEN 1 THEN 256
                                      ELSE 65536 END AS peak
           FROM documents""",
)
def llm_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5e: REAL audio decode path — per-doc synthesized RIFF/PCM WAV
    bytes are parsed by the stdlib ``wave`` module (decode_audio) and the
    decoded sample stream reduced to signal features (rate, channels,
    frames, duration, RMS, peak) in an Arrow mapInPandas stage. The
    sample width cycles 16/24/32-bit per doc — 24-bit is
    the studio/archival width, its 3-byte sign extension cross-checked
    against audioop — with amplitude scaled so the closed form holds.

    Evidence shape (the png.py closed-form pattern): the WAV container is
    hand-assembled byte-by-byte while CPython's independent wave parser
    decodes it — any header/layout error fails the parse or corrupts the
    frame count; and a ±A square wave has RMS exactly A, so the oracle
    states every feature in closed form from doc_id arithmetic alone. A
    wrong sample width, byte order, or sign convention shifts RMS/peak
    off the closed form and the hash gate catches it.

    Scale: content is synthesized and decoded in place — only the 7-int
    feature row leaves the Python worker, so shuffle volume is O(rows),
    never O(audio bytes); with a real archive the same stage reads the
    binary column (S15 feeds it) instead of synthesizing."""
    return map_rows(doc_ids(spark, sf_dir), _audio_rows, AUDIO_SCHEMA)


# ---------------------------------- L5p companded / ADPCM audio codecs
AUDIO_CODEC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mu_sum", LongType()),
        StructField("alaw_sum", LongType()),
        StructField("adpcm_sum", LongType()),
        StructField("adpcm_last", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def _audio_codec_rows(d: int):
    import struct

    from .g711 import (
        WAVE_FMT_ALAW,
        WAVE_FMT_IMA_ADPCM,
        WAVE_FMT_MULAW,
        write_wav,
    )

    mu_pay = bytes((d + t) % 256 for t in range(128))
    al_pay = bytes((d * 5 + t * 3) % 256 for t in range(128))
    mu = decode_audio(
        write_wav(WAVE_FMT_MULAW, mu_pay, channels=1, rate=8000,
                  bits=8, block_align=1, frames=128),
        "audio/wav",
    )
    al = decode_audio(
        write_wav(WAVE_FMT_ALAW, al_pay, channels=1, rate=8000,
                  bits=8, block_align=1, frames=128),
        "audio/wav",
    )
    # one mono IMA block: header predictor P0 / step index i0, then 64
    # constant nibbles c (0..3: index walks DOWN the step table,
    # predictor strictly accumulates — parameters sized so the int16
    # clamp is provably never hit, keeping the decode on the
    # closed-form grid)
    p0 = d % 1000 - 500
    i0 = d % 51
    c = d % 4
    hdr = struct.pack("<hBB", p0, i0, 0)
    ad = decode_audio(
        write_wav(WAVE_FMT_IMA_ADPCM, hdr + bytes([c | (c << 4)] * 32),
                  channels=1, rate=8000, bits=4, block_align=36, frames=65),
        "audio/wav",
    )
    yield (
        d, sum(mu["samples"]), sum(al["samples"]), sum(ad["samples"]),
        ad["samples"][-1], mu["frames"] + al["frames"] + ad["frames"],
    )


def _ima_steps_values() -> str:
    from .g711 import IMA_STEPS

    return ", ".join(f"({i}, {s})" for i, s in enumerate(IMA_STEPS))


@register(
    "llm_multimodal_audio_codecs",
    sql=f"""WITH steps(idx, step) AS (VALUES {_ima_steps_values()}),
           mu AS (
             SELECT doc_id,
                    CAST(SUM(CASE WHEN u >= 128 THEN 132 - tv
                             ELSE tv - 132 END) AS BIGINT) AS mu_sum
             FROM (
               SELECT d.doc_id,
                      255 - (d.doc_id + s.t) % 256 AS u,
                      ((255 - (d.doc_id + s.t) % 256) % 16 * 8 + 132)
                        * (1 << (((255 - (d.doc_id + s.t) % 256) // 16) % 8))
                        AS tv
               FROM (SELECT doc_id FROM documents) d,
                    generate_series(0, 127) AS s(t))
             GROUP BY doc_id),
           al AS (
             SELECT doc_id,
                    CAST(SUM(CASE WHEN a >= 128 THEN v ELSE -v END)
                         AS BIGINT) AS alaw_sum
             FROM (
               SELECT doc_id, a,
                      CASE WHEN (a // 16) % 8 = 0 THEN a % 16 * 16 + 8
                           WHEN (a // 16) % 8 = 1 THEN a % 16 * 16 + 264
                           ELSE (a % 16 * 16 + 264)
                                  * (1 << ((a // 16) % 8 - 1)) END AS v
               FROM (
                 SELECT d.doc_id,
                        xor((d.doc_id * 5 + s.t * 3) % 256, 85) AS a
                 FROM (SELECT doc_id FROM documents) d,
                      generate_series(0, 127) AS s(t)))
             GROUP BY doc_id),
           ad AS (
             SELECT doc_id,
                    CAST(65 * p0 + SUM((64 - t) * diff) AS BIGINT)
                      AS adpcm_sum,
                    CAST(p0 + SUM(diff) AS BIGINT) AS adpcm_last
             FROM (
               SELECT d.doc_id,
                      d.doc_id % 1000 - 500 AS p0,
                      s.t,
                      st.step // 8
                        + CASE WHEN (d.doc_id % 4) // 2 = 1
                               THEN st.step // 2 ELSE 0 END
                        + CASE WHEN d.doc_id % 4 % 2 = 1
                               THEN st.step // 4 ELSE 0 END AS diff
               FROM (SELECT doc_id FROM documents) d,
                    generate_series(0, 63) AS s(t)
                    JOIN steps st
                      ON st.idx = greatest(d.doc_id % 51 - s.t, 0))
             GROUP BY doc_id, p0)
           SELECT mu.doc_id, mu.mu_sum, al.alaw_sum, ad.adpcm_sum,
                  ad.adpcm_last, CAST(321 AS BIGINT) AS n_frames
           FROM mu JOIN al USING (doc_id) JOIN ad USING (doc_id)""",
)
def llm_multimodal_audio_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5p: REAL companded / ADPCM audio decode — the WAV
    formats the stdlib ``wave`` module cannot read but real archives
    are full of: G.711 μ-law (fmt 7) and A-law (fmt 6), every PSTN /
    telephony capture, and IMA ADPCM (fmt 0x11), the classic 4:1
    voice codec — all exact integer arithmetic (g711.py), so they fit
    the closed-form oracle discipline that keeps mp3/ogg honest
    refusals. Per doc, three WAVs are synthesized (the G.711 payloads
    are modular byte series; the IMA block is a header + 64 constant
    nibbles whose step-table walk is closed-form because the index
    only steps DOWN and the parameters provably never clamp) and
    decoded through decode_audio's real dispatch. The DuckDB oracle
    re-derives every decoded sample arithmetically: the Sun-g711.c
    expansion formulas inline, and the 89-entry IMA step table as a
    VALUES join with the (64-t)-weighted prefix-sum identity turning
    the sequential predictor walk into one aggregate. A wrong bias,
    segment shift, complement, nibble order, or index clamp shifts a
    sum. Scale shape: embarrassingly parallel mapInPandas, O(rows)
    output; the step-table join is a 64x89 broadcast-sized dimension,
    never a data shuffle."""
    return map_rows(doc_ids(spark, sf_dir), _audio_codec_rows, AUDIO_CODEC_SCHEMA)


# --------------------------------------------- L5k real FLAC decode path
FLAC_FRAMES = 64   # samples per synthesized stereo clip
FLAC_SEG = 16      # segment size for the feature sums (4 segments)


def _flac_wave(doc_id: int):
    """Closed-form stereo test signal: left(t) = (7*doc + t²) % 4001 −
    2000, right(t) = (11*doc + 3t) % 4001 − 2000 — quadratic vs linear so
    the two channels stress different predictor orders and mid/side
    carries a genuinely mixed spectrum."""
    import numpy as np

    t = np.arange(FLAC_FRAMES, dtype=np.int64)
    left = (doc_id * 7 + t * t) % 4001 - 2000
    right = (doc_id * 11 + 3 * t) % 4001 - 2000
    return np.stack([left, right], axis=1)


def _flac_rows(doc_id: int):
    import numpy as np

    from .flac import encode_flac

    data = encode_flac(
        _flac_wave(doc_id), 8000, 16, stereo="mid-side", partition_order=2
    )
    audio = decode_audio(data, "audio/flac")
    s = np.array(audio["samples"], dtype=np.int64).reshape(-1, 2)
    for seg in range(FLAC_FRAMES // FLAC_SEG):
        chunk = s[seg * FLAC_SEG : (seg + 1) * FLAC_SEG]
        yield doc_id, seg, int(chunk[:, 0].sum()), int(chunk[:, 1].sum())


FLAC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("seg", LongType()),
        StructField("sum_left", LongType()),
        StructField("sum_right", LongType()),
    ]
)

_FLAC_T = f"(s.seg * {FLAC_SEG} + t.t)"


@register(
    "llm_multimodal_flac",
    sql=f"""SELECT d.doc_id, s.seg,
                   CAST(sum((d.doc_id * 7 + {_FLAC_T} * {_FLAC_T}) % 4001
                            - 2000) AS BIGINT) AS sum_left,
                   CAST(sum((d.doc_id * 11 + 3 * {_FLAC_T}) % 4001
                            - 2000) AS BIGINT) AS sum_right
            FROM (SELECT doc_id FROM documents) d,
                 generate_series(0, {FLAC_FRAMES // FLAC_SEG - 1}) AS s(seg),
                 generate_series(0, {FLAC_SEG - 1}) AS t(t)
            GROUP BY d.doc_id, s.seg""",
)
def llm_multimodal_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5k: REAL FLAC decode in the audio-features path (an audio class
    a stdlib-only container can honestly decode: FLAC is pure integer
    arithmetic, unlike the float-MDCT mp3/ogg stubs).
    Per doc, a closed-form stereo clip is encoded as a real FLAC stream
    (mid-side decorrelation, auto constant/fixed predictors per
    subframe, 4-partition rice residuals, CRC-8/16 framing, stream MD5)
    and decoded by the pure-stdlib codec (flac.py) — which verifies both
    CRCs and the MD5 before emitting per-segment channel sums. The
    DuckDB oracle never sees a FLAC: it recomputes the sums from the
    same closed form, so a rice, predictor, decorrelation, or framing
    bug breaks the value hash (the PNG/GIF/WebP pattern). Scale shape:
    identical to L5e — embarrassingly parallel mapInPandas, O(rows)
    output, no shuffle of audio bytes."""
    return map_rows(doc_ids(spark, sf_dir), _flac_rows, FLAC_SCHEMA)


# ------------------------------------------ L5l real PDF text extraction
PDF_LINES = 4  # lines per synthesized page


def _pdf_pages(doc_id: int) -> list[list[str]]:
    """Closed-form text layer: 1 + doc_id%3 pages of PDF_LINES lines,
    line j on page p = "wA wB" with single-digit A, B from doc_id
    arithmetic — every digit lands in the oracle's sum."""
    n_pages = 1 + doc_id % 3
    return [
        [
            f"w{(doc_id * 5 + p * 11 + j) % 10} w{(doc_id + 3 * j + p) % 10}"
            for j in range(PDF_LINES)
        ]
        for p in range(n_pages)
    ]


def _pdf_container_knobs(d: int) -> dict:
    """The container cycle every synthesized PDF rides. Ciphers: every
    7th doc RC4 (V2/R3), every 11th AES-128 (V4 /AESV2, CBC + sAlT
    object keys), every 13th AES-256 (V5/R6: Algorithm 2.B hardened-KDF
    unwrap, shared file key per spec); precedence 13 > 11 > 7 keeps the
    knobs exclusive and all three ciphers driver-hashed. PDF 1.5
    layouts: d%4==1 -> xref stream with the PNG Up predictor; d%4==3 ->
    xref stream + ObjStm packing (d=21, 33, ... compose 1.5 layouts
    with encryption)."""
    return dict(
        encrypt_rc4=(d % 7 == 0 and d % 11 != 0 and d % 13 != 0),
        encrypt_aes=(d % 11 == 0 and d % 13 != 0),
        encrypt_aes256=(d % 13 == 0),
        xref_stream=(d % 4 == 1),
        objstm=(d % 4 == 3),
    )


def synth_text_pdf(d: int) -> bytes:
    """The L5l fixture: doc d's closed-form text layer (_pdf_pages)
    written as a real PDF whose writer path varies per doc, so every
    extractor branch carries driver-hash evidence."""
    from .pdf import write_pdf

    return write_pdf(
        _pdf_pages(d),
        compress=True,
        use_tj_array=(d % 3 == 1),
        # every 9th-ish doc positions lines with the absolute text
        # matrix (Tm) instead of relative Td moves
        use_tm=(d % 9 == 4),
        hex_strings=(d % 3 == 2),
        ascii85=(d % 5 == 0),
        # font machinery: the same closed-form ASCII text rides every
        # encoding path — WinAnsi/MacRoman base codecs, /Differences
        # remapping the WHOLE charset to codes 161+ (nothing decodes
        # without the map), and Type0 Identity-H 2-byte codes through a
        # /ToUnicode CMap — so a font-table bug shifts counts off the
        # oracle
        font=[None, "winansi", "differences", "type0", "macroman", None][d % 6],
        **_pdf_container_knobs(d),
    )


def _pdf_rows(d: int):
    import re

    from .pdf import extract_pdf_text

    text = extract_pdf_text(synth_text_pdf(d))
    pages = text.split("\f")
    n_lines = sum(len(p.split("\n")) for p in pages)
    digit_sum = sum(int(m) for m in re.findall(r"w(\d)", text))
    yield d, len(pages), n_lines, len(text), digit_sum


PDF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_pages", LongType()),
        StructField("n_lines", LongType()),
        StructField("n_chars", LongType()),
        StructField("digit_sum", LongType()),
    ]
)


@register(
    "llm_multimodal_pdf",
    sql=f"""SELECT d.doc_id,
                   1 + d.doc_id % 3 AS n_pages,
                   {PDF_LINES} * (1 + d.doc_id % 3) AS n_lines,
                   -- each line "wA wB" is 5 chars; a page joins
                   -- {PDF_LINES} lines with \\n; pages join with \\f
                   (1 + d.doc_id % 3) * ({PDF_LINES} * 5 + {PDF_LINES} - 1)
                     + (d.doc_id % 3) AS n_chars,
                   CAST(sum((d.doc_id * 5 + p.p * 11 + j.j) % 10
                            + (d.doc_id + 3 * j.j + p.p) % 10)
                        AS BIGINT) AS digit_sum
            FROM (SELECT doc_id FROM documents) d,
                 generate_series(0, 2) AS p(p),
                 generate_series(0, {PDF_LINES - 1}) AS j(j)
            WHERE p.p < 1 + d.doc_id % 3
            GROUP BY d.doc_id""",
)
def llm_multimodal_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5l: REAL PDF text extraction — the corpus-ingest step
    a training-data pipeline runs on its largest document source, and a
    text layer the stdlib honestly decodes (pdf.py: object-graph parse,
    Root→Pages→Kids tree walk, FlateDecode via zlib + ASCIIHex/ASCII85
    armors, full literal-string escape grammar, BT/Tj/TJ/'/"/Td/T*
    text operators; the WHOLE Standard security handler decrypts for
    real — RC4 V1/V2, AES-128 V4 /AESV2, and AES-256 V5/R6 with the
    Algorithm 2.B hardened KDF, AES through ``cryptography`` pinned on
    the FIPS-197 vectors — while fully-passworded docs and custom handlers
    keep the documented NotImplementedError, and the PDF 1.5
    compressed layout — /Type /XRef cross-reference streams with PNG
    predictors, /Type /ObjStm object streams — is parsed per ISO
    32000 §7.5.7-7.5.8; the reference stores its own austin.pdf
    fixture as an opaque blob — tests/store/uploads/). Per doc, a
    closed-form multi-page text layer is written as a real PDF — the
    writer path VARIES per doc (plain/TJ-array/hex strings × optional
    ASCII85+Flate chain × RC4 every 7th doc, AES-128 every 11th,
    AES-256 every 13th × the d%4 container layout: classic xref
    table / predictor-12 xref stream / xref stream + ObjStm packing),
    so every extractor branch carries driver-hash evidence — then
    extracted, and reduced to page/line/
    char counts plus the digit sum of every token. The DuckDB oracle
    recomputes all four from doc_id arithmetic: a dropped line, a wrong
    filter chain, a broken escape, or a mis-ordered page tree shifts a
    value off the closed form (the PNG/GIF/WebP/FLAC pattern). Scale
    shape: embarrassingly parallel mapInPandas, O(rows) output, no
    document bytes shuffle; decompressed stream volume is capped
    (pdf.py MAX_TEXT_BYTES) so hostile inputs cannot balloon executor
    memory."""
    return map_rows(doc_ids(spark, sf_dir), _pdf_rows, PDF_SCHEMA)


# ------------------------------------------ L5n PDF embedded-image decode
PDF_IMG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_images", LongType()),
        StructField("sum_width", LongType()),
        StructField("sum_height", LongType()),
        StructField("px_sum_jpeg", LongType()),
        StructField("px_sum_raw", LongType()),
        StructField("px_sum_pal", LongType()),
    ]
)

def _fixture_palette(n: int) -> list:
    """The fixture ColorMap closed form shared by the L5r TIFF palette
    and the L5n PDF /Indexed lookup — their oracles replay this exact
    (i*5, i*7, i*11) % 251 arithmetic, so the constant lives ONCE: a
    second hand-written copy could drift from the one its oracle
    replays."""
    return [((i * 5) % 251, (i * 7) % 251, (i * 11) % 251)
            for i in range(n)]


# 4-entry /Indexed lookup for the L5n palette leg
PDF_PALETTE = bytes(c for rgb in _fixture_palette(4) for c in rgb)


def _pdf_image_specs(doc_id: int) -> tuple[list[list[str]], list[list[dict]]]:
    """Per doc: 1 + doc_id%2 pages, each carrying one DC-only grayscale
    JPEG (16x16, 4 blocks, DCs in [-23, 23] so no pixel clamps — every
    pixel of block b is exactly 2*dc + 128 at q=16) and one raw 8x8
    gray bitmap whose byte j is (doc_id*3 + p*7 + j) % 251; the raw
    filter cycles Flate/RLE/LZW/none by doc so all four raster paths
    carry driver-hash evidence."""
    from .jpeg import synth_dc_jpeg

    n_pages = 1 + doc_id % 2
    raw_filter = ["flate", "rle", "lzw", None][doc_id % 4]
    pages, images = [], []
    for p in range(n_pages):
        pages.append([f"img page {p}"])
        dcs = [(doc_id * 3 + p * 5 + b * 7) % 47 - 23 for b in range(4)]
        gray = bytes((doc_id * 3 + p * 7 + j) % 251 for j in range(64))
        images.append(
            [
                {
                    "kind": "jpeg",
                    "data": synth_dc_jpeg([dcs], 16, 16, q=16),
                    "width": 16,
                    "height": 16,
                    "ncomp": 1,
                },
                {
                    "kind": "raw",
                    "pixels": gray,
                    "width": 8,
                    "height": 8,
                    "ncomp": 1,
                    "filter": raw_filter,
                    # every 5th-ish doc carries the raw bitmap INLINE
                    # (BI/ID/EI in the content stream, §8.9.7) instead
                    # of as an XObject — same pixels, same oracle, a
                    # different decode path on the driver hash (inline
                    # supports flate/raw, so it composes with the d%4
                    # filter cycle only on those)
                    "inline": doc_id % 5 == 2 and raw_filter in ("flate", None),
                },
                {
                    # /Indexed palette image whose INDEX DEPTH cycles
                    # 2/4/8 bits per doc (sub-8 packed samples share
                    # the TIFF bit-unpack) — the decoded
                    # RGB is depth-invariant, so one closed-form oracle
                    # covers all three packings
                    "kind": "indexed",
                    "palette": PDF_PALETTE,
                    "base": "/DeviceRGB",
                    "indices": bytes(
                        (doc_id + p * 7 + j) % 4 for j in range(64)
                    ),
                    "width": 8,
                    "height": 8,
                    "bits": [2, 4, 8][doc_id % 3],
                    "filter": "flate" if doc_id % 2 else None,
                },
            ]
        )
    return pages, images


def _pdf_image_rows(d: int):
    from .pdf import extract_pdf_images, write_pdf

    pages, images = _pdf_image_specs(d)
    # the L5l container cycle, so encrypted DCTDecode streams and
    # ObjStm-packed image dictionaries carry evidence here too
    data = write_pdf(pages, images=images, **_pdf_container_knobs(d))
    imgs = [i for page in extract_pdf_images(data) for i in page]

    def px_sum(keep):
        return sum(sum(i["samples"]) for i in imgs if keep(i))

    yield (
        d, len(imgs),
        sum(i["width"] for i in imgs), sum(i["height"] for i in imgs),
        px_sum(lambda i: i["width"] == 16),
        px_sum(lambda i: i["width"] == 8 and i["n_components"] == 1),
        px_sum(lambda i: i["width"] == 8 and i["n_components"] == 3),
    )


@register(
    "llm_multimodal_pdf_images",
    sql="""WITH jp AS (
             SELECT d.doc_id,
                    CAST(SUM(64 * (2 * ((d.doc_id * 3 + p.p * 5 + b.b * 7)
                                        % 47 - 23) + 128)) AS BIGINT)
                      AS px_sum_jpeg
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 1) AS p(p),
                  generate_series(0, 3) AS b(b)
             WHERE p.p < 1 + d.doc_id % 2
             GROUP BY d.doc_id),
           rw AS (
             SELECT d.doc_id,
                    CAST(SUM((d.doc_id * 3 + p.p * 7 + s.s) % 251)
                         AS BIGINT) AS px_sum_raw
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 1) AS p(p),
                  generate_series(0, 63) AS s(s)
             WHERE p.p < 1 + d.doc_id % 2
             GROUP BY d.doc_id),
           pl AS (
             SELECT d.doc_id,
                    CAST(SUM(((d.doc_id + p.p * 7 + s.s) % 4 * 5) % 251
                           + ((d.doc_id + p.p * 7 + s.s) % 4 * 7) % 251
                           + ((d.doc_id + p.p * 7 + s.s) % 4 * 11) % 251)
                         AS BIGINT) AS px_sum_pal
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 1) AS p(p),
                  generate_series(0, 63) AS s(s)
             WHERE p.p < 1 + d.doc_id % 2
             GROUP BY d.doc_id)
           SELECT jp.doc_id,
                  3 * (1 + jp.doc_id % 2) AS n_images,
                  32 * (1 + jp.doc_id % 2) AS sum_width,
                  32 * (1 + jp.doc_id % 2) AS sum_height,
                  jp.px_sum_jpeg,
                  rw.px_sum_raw,
                  pl.px_sum_pal
           FROM jp JOIN rw USING (doc_id)
                JOIN pl USING (doc_id)""",
)
def llm_multimodal_pdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5n: REAL PDF embedded-image decode — the image half
    of corpus PDF ingest, closing the "image filters" refusal the L5l
    docstring documented. Per doc, a multi-page PDF embeds three image
    XObjects per page: a grayscale DC-only baseline JPEG under /Filter
    /DCTDecode (decoded by the in-repo jpeg.py — exactly how real
    generators embed photos), a raw 8-bit gray bitmap whose raster
    filter cycles Flate / RunLengthDecode (§7.4.5) / LZWDecode
    (§7.4.4.2 TIFF variant, MSB-first 9→12-bit codes, EarlyChange) /
    none, and an /Indexed palette image whose index depth
    cycles 2/4/8 bits — the sub-8 packed-sample path (§8.9.5.2,
    sharing the TIFF bit-unpack) under the same cipher/layout matrix. The L5l knob cycle applies on top (RC4/AES-128/AES-256
    ciphers, xref-stream and ObjStm layouts), so an AES-encrypted
    DCT-filtered image inside an ObjStm-packed container is a
    driver-hashed path, not a hope. The oracle recomputes pixel sums
    in closed form from doc_id arithmetic (DC-only blocks decode to
    2*dc+128 per pixel; raw bytes are a modular series) — a wrong
    Huffman code, LZW width bump, RLE run, predictor, or decryption
    order shifts a sum. Scale shape: embarrassingly parallel
    mapInPandas, O(rows) fixed-width output, decoded sample volume
    capped by pdf.py MAX_TEXT_BYTES per document."""
    return map_rows(doc_ids(spark, sf_dir), _pdf_image_rows, PDF_IMG_SCHEMA)


# --------------------------------------------- L5f MP4 container probing
VIDEO_TIMESCALE = 1000  # movie timescale of the synthesized fixtures

VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("brand", StringType()),
        StructField("timescale", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_tracks", LongType()),
    ]
)


def _video_duration(doc_id: int) -> int:
    return 2_000 + (doc_id % 113) * 40  # movie units == ms at timescale 1000


def _video_tracks(doc_id: int) -> int:
    return 1 + doc_id % 3


def synth_mp4(doc_id: int) -> bytes:
    """Deterministic minimal ISO-BMFF tree: ftyp + moov{mvhd, trak...},
    hand-assembled with struct so probe_video's independent box walker
    checks sizes/nesting/field offsets. mvhd v1 for odd docs and v0 for
    even docs, so BOTH header layouts are exercised."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    dur = _video_duration(doc_id)
    if doc_id % 2:  # version 1: 64-bit times
        mvhd = box(
            b"mvhd",
            bytes([1, 0, 0, 0])
            + struct.pack(">QQIQ", 0, 0, VIDEO_TIMESCALE, dur),
        )
    else:  # version 0: 32-bit times
        mvhd = box(
            b"mvhd",
            bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, VIDEO_TIMESCALE, dur),
        )
    traks = b"".join(box(b"trak", b"\x00" * 8) for _ in range(_video_tracks(doc_id)))
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + box(b"moov", mvhd + traks)


def _video_probe_rows(doc_id: int):
    meta = probe_video(synth_mp4(doc_id))
    yield (
        doc_id, meta["brand"], meta["timescale"], meta["duration_ms"],
        meta["n_tracks"],
    )


@register(
    "llm_multimodal_video_probe",
    sql=f"""SELECT doc_id,
                  'isom' AS brand,
                  CAST({VIDEO_TIMESCALE} AS BIGINT) AS timescale,
                  2000 + (doc_id % 113) * 40 AS duration_ms,
                  1 + doc_id % 3 AS n_tracks
           FROM documents""",
)
def llm_multimodal_video_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5f: REAL video-container metadata — the half of video processing
    that needs no codec: a per-doc synthesized ISO-BMFF/MP4 box tree is
    walked by probe_video (pure struct parsing of the size+type box
    grammar, the zip-central-directory pattern) to recover brand, movie
    timescale, duration, and track count in an Arrow mapInPandas stage.
    Both mvhd layouts (v0 32-bit / v1 64-bit times) are exercised —
    odd/even docs alternate versions, so a field-offset mistake in
    either layout breaks half the rows against the closed-form oracle
    (duration and track count are doc_id arithmetic).

    MP4 frame PIXELS still require ffmpeg (inter-frame codecs; MJPEG-in-
    AVI decodes for real — llm_multimodal_video_frames) — this operator
    is the metadata triage a 100 TB video corpus runs FIRST, precisely
    because it reads only box headers: with binaryFile input the scan
    can stop after the moov box instead of fetching terabytes of mdat
    payload."""
    return map_rows(doc_ids(spark, sf_dir), _video_probe_rows, VIDEO_SCHEMA)


# ----------------------------------- L5s EBML / WebM container probe
def _ebml_vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML variable-length integer (RFC 8794 §4): the count
    of leading zero bits in the first byte is the width minus one;
    element IDs keep the marker bit, sizes strip it."""
    if pos >= len(data):
        raise ValueError("truncated EBML vint")
    first = data[pos]
    if first == 0:
        raise ValueError("EBML vint wider than 8 bytes")
    width = 9 - first.bit_length()
    if pos + width > len(data):
        raise ValueError("truncated EBML vint body")
    val = first if keep_marker else first & ((1 << (8 - width)) - 1)
    for b in data[pos + 1 : pos + width]:
        val = (val << 8) | b
    return val, pos + width


def _ebml_children(data: bytes, start: int, end: int):
    pos = start
    while pos < end:
        eid, pos = _ebml_vint(data, pos, keep_marker=True)
        size, pos = _ebml_vint(data, pos, keep_marker=False)
        if pos + size > end:
            raise ValueError(f"EBML element 0x{eid:X} overruns its parent")
        yield eid, pos, pos + size
        pos += size


def probe_webm(content: bytes) -> dict:
    """REAL Matroska/WebM container probe — the EBML element walk (RFC
    8794 vints) needs no codec: DocType from the EBML header,
    TimestampScale + Duration from Segment>Info, and per-type track
    counts from Segment>Tracks. Frame pixels stay with ffmpeg (VP9/AV1
    are inter-frame codecs); like the MP4/Ogg probes this is the
    header-only triage pass a 100 TB video corpus runs first."""
    doctype = None
    timescale = 1_000_000  # Matroska default (ns per timestamp unit)
    duration = None
    n_video = n_audio = 0
    found_header = False
    for eid, body, bend in _ebml_children(content, 0, len(content)):
        if eid == 0x1A45DFA3:  # EBML header
            found_header = True
            for cid, cb, ce in _ebml_children(content, body, bend):
                if cid == 0x4282:  # DocType
                    doctype = content[cb:ce].decode("ascii", "replace")
        elif eid == 0x18538067:  # Segment
            for cid, cb, ce in _ebml_children(content, body, bend):
                if cid == 0x1549A966:  # Info
                    for iid, ib, ie in _ebml_children(content, cb, ce):
                        if iid == 0x2AD7B1:
                            timescale = int.from_bytes(
                                content[ib:ie], "big"
                            )
                        elif iid == 0x4489:  # Duration: IEEE float
                            import struct

                            w = ie - ib
                            if w == 4:
                                (duration,) = struct.unpack(
                                    ">f", content[ib:ie]
                                )
                            elif w == 8:
                                (duration,) = struct.unpack(
                                    ">d", content[ib:ie]
                                )
                            else:
                                raise ValueError(
                                    f"EBML Duration width {w}"
                                )
                elif cid == 0x1654AE6B:  # Tracks
                    for tid, tb, te in _ebml_children(content, cb, ce):
                        if tid != 0xAE:  # TrackEntry
                            continue
                        for fid, fb, fe in _ebml_children(content, tb, te):
                            if fid == 0x83:  # TrackType
                                t = int.from_bytes(content[fb:fe], "big")
                                if t == 1:
                                    n_video += 1
                                elif t == 2:
                                    n_audio += 1
    if not found_header:
        raise ValueError("not an EBML payload (no 0x1A45DFA3 header)")
    if timescale <= 0:
        raise ValueError("bad EBML TimestampScale")
    duration_ms = (
        None
        if duration is None
        else int(duration * timescale / 1_000_000)
    )
    return {
        "doctype": doctype,
        "duration_ms": duration_ms,
        "n_video": n_video,
        "n_audio": n_audio,
    }


def _ebml_el(eid: int, payload: bytes) -> bytes:
    """One EBML element: raw ID bytes + 1-or-2-byte size vint."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    if n < 127:
        size = bytes([0x80 | n])
    elif n < 16383:
        size = bytes([0x40 | (n >> 8), n & 0xFF])
    else:
        raise ValueError("fixture elements stay under 16 KiB")
    return idb + size + payload


def synth_webm(doc_id: int) -> bytes:
    """Deterministic WebM: EBML header (DocType webm), Segment with
    Info (TimestampScale 1e6, float64 Duration on the integer grid so
    the parse is exact) and 1 + doc_id%2 video + doc_id%3 audio
    TrackEntry elements."""
    import struct

    dur = float(2_000 + (doc_id % 113) * 40)
    header = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, b"webm"))
    info = _ebml_el(
        0x1549A966,
        _ebml_el(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
        + _ebml_el(0x4489, struct.pack(">d", dur)),
    )
    tracks = b""
    for k in range(1 + doc_id % 2):
        tracks += _ebml_el(
            0xAE, _ebml_el(0x83, b"\x01") + _ebml_el(0x86, b"V_VP9")
        )
    for k in range(doc_id % 3):
        tracks += _ebml_el(
            0xAE, _ebml_el(0x83, b"\x02") + _ebml_el(0x86, b"A_OPUS")
        )
    segment = _ebml_el(0x18538067, info + _ebml_el(0x1654AE6B, tracks))
    return header + segment


WEBM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("doctype", StringType()),
        StructField("duration_ms", LongType()),
        StructField("n_video", LongType()),
        StructField("n_audio", LongType()),
    ]
)


def _webm_rows(d: int):
    meta = probe_webm(synth_webm(d))
    yield (
        d, meta["doctype"], meta["duration_ms"], meta["n_video"],
        meta["n_audio"],
    )


@register(
    "llm_multimodal_webm_probe",
    sql="""SELECT doc_id,
                  'webm' AS doctype,
                  2000 + (doc_id % 113) * 40 AS duration_ms,
                  1 + doc_id % 2 AS n_video,
                  doc_id % 3 AS n_audio
           FROM documents""",
)
def llm_multimodal_webm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5s: REAL Matroska/WebM container probe — the EBML
    element walk per RFC 8794 (vint IDs keep the marker bit, sizes
    strip it; children bounded by their parents), completing the
    video-container triage family beside MP4 (L5f) and AVI (L5h):
    DocType from the EBML header, TimestampScale + float Duration from
    Segment>Info (the fixture Duration sits on the integer grid so the
    float64 parse is exact — the L5m banded-oracle concern does not
    arise), and per-type TrackEntry counts from Segment>Tracks. VP9/
    AV1 frame pixels stay the honest ffmpeg refusal; at 100 TB this
    header-only pass triages before any decode. Oracle: every field
    from doc_id arithmetic. Scale: zero-exchange mapInPandas."""
    return map_rows(doc_ids(spark, sf_dir), _webm_rows, WEBM_SCHEMA)


# ------------------------------- L5q Ogg / MP3 container + frame probes
#: the Ogg page CRC (RFC 3533 §6) is CRC-32 over this polynomial,
#: non-reflected, init 0, no final xor: bits.crc_msb at width 32
_OGG_CRC_POLY = 0x04C11DB7


def probe_ogg(content: bytes) -> dict:
    """REAL Ogg container probe — no codec needed: pages are located by
    the OggS capture pattern, each page's CRC is verified (field zeroed
    during computation, per RFC 3533 §6), packets are counted from the
    lacing table (a packet ends at every lacing value < 255), and the
    stream duration proxy is the final granule position. Vorbis/Opus
    PACKET decode (float MDCT) keeps the honest refusal in
    decode_audio; this probe is the triage a 100 TB audio corpus runs
    first — it reads headers and skips payload bytes."""
    import struct

    if content[:4] != b"OggS":
        raise ValueError("not an Ogg payload (no OggS capture pattern)")
    pos = 0
    n_pages = 0
    n_packets = 0
    final_granule = 0
    serial = None
    eos = False
    while pos < len(content):
        if content[pos : pos + 4] != b"OggS":
            raise ValueError(f"bad Ogg capture pattern at {pos}")
        if pos + 27 > len(content):
            raise ValueError("truncated Ogg page header")
        version = content[pos + 4]
        if version != 0:
            raise ValueError(f"Ogg stream structure version {version}")
        htype = content[pos + 5]
        granule, ser, _seq, crc, nseg = struct.unpack_from(
            "<qIIIB", content, pos + 6
        )
        seg_table = content[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            raise ValueError("truncated Ogg segment table")
        body_len = sum(seg_table)
        page_end = pos + 27 + nseg + body_len
        if page_end > len(content):
            raise ValueError("truncated Ogg page body")
        page = bytearray(content[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if crc_msb(bytes(page), _OGG_CRC_POLY, 32) != crc:
            raise ValueError(f"Ogg page CRC mismatch at {pos}")
        if serial is None:
            serial = ser
        n_pages += 1
        n_packets += sum(1 for v in seg_table if v < 255)
        final_granule = granule
        eos = bool(htype & 0x04)
        pos = page_end
    return {
        "n_pages": n_pages,
        "n_packets": n_packets,
        "final_granule": final_granule,
        "serial": serial,
        "eos": eos,
    }


def synth_ogg(doc_id: int) -> bytes:
    """Deterministic Ogg stream: 2 + doc_id%4 pages, one packet per
    page (odd pages span two lacing values, 255 + k, so the
    packet-termination rule is exercised), closed-form granules, BOS
    on the first page and EOS on the last."""
    import struct

    n_pages = 2 + doc_id % 4
    serial = doc_id % 100_000
    out = bytearray()
    for i in range(n_pages):
        if i % 2:
            body_len = 255 + (doc_id + i) % 40
            lacing = bytes([255, (doc_id + i) % 40])
        else:
            body_len = (doc_id + i) % 200
            lacing = bytes([body_len])
        htype = (0x02 if i == 0 else 0) | (0x04 if i == n_pages - 1 else 0)
        granule = (i + 1) * (100 + doc_id % 50)
        hdr = b"OggS" + bytes([0, htype]) + struct.pack(
            "<qIIIB", granule, serial, i, 0, len(lacing)
        ) + lacing
        body = bytes((doc_id + j) % 251 for j in range(body_len))
        crc = crc_msb(hdr + body, _OGG_CRC_POLY, 32)
        page = bytearray(hdr + body)
        page[22:26] = struct.pack("<I", crc)
        out += page
    return bytes(out)


#: MPEG-1 Layer III bitrate table (kbit/s, indices 1-14) and sample
#: rates (indices 0-2) — the published header tables
MP3_BITRATES = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
MP3_RATES = [44100, 48000, 32000]


def probe_mp3(content: bytes) -> dict:
    """REAL MPEG audio frame-header walk — the no-codec half of mp3:
    sync words located, MPEG-1 Layer III headers parsed (bitrate /
    sample-rate indices, padding), frame lengths computed as
    144·bitrate/rate + padding, frames counted and the duration derived
    from 1152 samples per frame. Full sample decode (float MDCT +
    synthesis filterbank) keeps the honest refusal in decode_audio."""
    if len(content) < 4 or content[0] != 0xFF or (content[1] & 0xE0) != 0xE0:
        raise ValueError("not an MPEG audio payload (no frame sync)")
    pos = 0
    n_frames = 0
    kbps_first = None
    rate = None
    vbr = False
    while pos < len(content):
        if pos + 4 > len(content):
            raise ValueError("truncated MPEG frame header")
        b1, b2, b3 = content[pos + 1], content[pos + 2], content[pos + 3]
        if content[pos] != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost MPEG frame sync at {pos}")
        version = (b1 >> 3) & 3
        layer = (b1 >> 1) & 3
        if version != 3 or layer != 1:
            raise NotImplementedError(
                "only MPEG-1 Layer III frame headers are probed "
                f"(version bits {version}, layer bits {layer})"
            )
        bidx = (b2 >> 4) & 0xF
        ridx = (b2 >> 2) & 3
        padding = (b2 >> 1) & 1
        if bidx == 0 or bidx == 15:
            raise ValueError(f"free-form/bad bitrate index {bidx} at {pos}")
        if ridx == 3:
            raise ValueError("reserved sample-rate index")
        kbps = MP3_BITRATES[bidx - 1]
        r = MP3_RATES[ridx]
        if kbps_first is None:
            kbps_first, rate = kbps, r
        elif kbps != kbps_first:
            vbr = True
        if r != rate:
            raise ValueError("sample rate changes mid-stream")
        flen = 144_000 * kbps // r + padding
        if flen < 4:
            raise ValueError("implausible MPEG frame length")
        pos += flen
        n_frames += 1
        del b3
    if pos != len(content):
        raise ValueError("trailing garbage after the last MPEG frame")
    return {
        "n_frames": n_frames,
        "kbps": kbps_first,
        "sample_rate": rate,
        "duration_ms": n_frames * 1152 * 1000 // rate,
        "vbr": vbr,
    }


def synth_mp3_frames(doc_id: int) -> bytes:
    """Deterministic CBR MPEG-1 Layer III frame sequence (headers +
    zero payloads): bitrate index 1 + doc_id%14, sample-rate index
    doc_id%3, padding alternating per frame."""
    bidx = 1 + doc_id % 14
    ridx = doc_id % 3
    kbps = MP3_BITRATES[bidx - 1]
    rate = MP3_RATES[ridx]
    out = bytearray()
    for i in range(5 + doc_id % 20):
        padding = i % 2
        hdr = bytes([
            0xFF,
            0xFB,  # MPEG-1 (11), Layer III (01), no CRC (1)
            (bidx << 4) | (ridx << 2) | (padding << 1),
            0,
        ])
        flen = 144_000 * kbps // rate + padding
        out += hdr + bytes(flen - 4)
    return bytes(out)


AUDIO_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ogg_pages", LongType()),
        StructField("ogg_packets", LongType()),
        StructField("ogg_granule", LongType()),
        StructField("mp3_frames", LongType()),
        StructField("mp3_kbps", LongType()),
        StructField("mp3_duration_ms", LongType()),
    ]
)


def _audio_probe_rows(d: int):
    og = probe_ogg(synth_ogg(d))
    mp = probe_mp3(synth_mp3_frames(d))
    yield (
        d, og["n_pages"], og["n_packets"], og["final_granule"],
        mp["n_frames"], mp["kbps"], mp["duration_ms"],
    )


def _mp3_kbps_sql() -> str:
    cases = " ".join(
        f"WHEN {i + 1} THEN {k}" for i, k in enumerate(MP3_BITRATES)
    )
    return f"CASE 1 + doc_id % 14 {cases} END"


def _mp3_rate_sql() -> str:
    cases = " ".join(
        f"WHEN {i} THEN {r}" for i, r in enumerate(MP3_RATES)
    )
    return f"CASE doc_id % 3 {cases} END"


@register(
    "llm_multimodal_audio_probe",
    sql=f"""SELECT doc_id,
                  2 + doc_id % 4 AS ogg_pages,
                  2 + doc_id % 4 AS ogg_packets,
                  (2 + doc_id % 4) * (100 + doc_id % 50) AS ogg_granule,
                  5 + doc_id % 20 AS mp3_frames,
                  CAST({_mp3_kbps_sql()} AS BIGINT) AS mp3_kbps,
                  (5 + doc_id % 20) * 1152 * 1000 // ({_mp3_rate_sql()})
                    AS mp3_duration_ms
           FROM documents""",
)
def llm_multimodal_audio_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5q: REAL Ogg + MP3 metadata triage — the no-codec
    half of the two remaining float-MDCT audio refusals, the L5f
    video-probe pattern applied to audio: per doc, a synthesized Ogg
    stream (RFC 3533 page grammar: capture pattern, lacing tables with
    255-spanning packets, BOS/EOS flags, and REAL per-page CRC
    verification with the 0x04C11DB7 polynomial — a flipped bit fails
    the page) and a CBR MPEG-1 Layer III frame sequence (published
    bitrate/sample-rate header tables, padding-aware frame lengths)
    are walked to pages/packets/granule and frames/bitrate/duration.
    At 100 TB this triage reads only headers and skips payloads —
    exactly what runs before any expensive decode pass. The oracle
    recomputes everything from doc_id arithmetic (the bitrate table as
    a CASE); a wrong lacing rule, CRC, or frame-length formula shifts
    a count. Sample DECODE for mp3/ogg stays the documented honest
    refusal (float MDCT needs codec libs)."""
    return map_rows(doc_ids(spark, sf_dir), _audio_probe_rows, AUDIO_PROBE_SCHEMA)


# --------------------------------------------- L5r baseline TIFF decode
TIFF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("gray_w", LongType()),
        StructField("gray_h", LongType()),
        StructField("gray_sum", LongType()),
        StructField("rgb_sum", LongType()),
        StructField("pal_sum", LongType()),
    ]
)

TIFF_PALETTE = _fixture_palette(16)


def _tiff_gray(doc_id: int) -> list[list[int]]:
    return [[(doc_id * 3 + y * 8 + x) % 251 for x in range(8)]
            for y in range(8)]


def _tiff_rgb(doc_id: int) -> list[list[tuple[int, int, int]]]:
    return [
        [
            (
                (doc_id + 3 * x + 7 * y) % 251,
                (doc_id * 2 + x + y) % 251,
                (doc_id * 5 + 2 * x + 3 * y) % 251,
            )
            for x in range(4)
        ]
        for y in range(4)
    ]


def _tiff_rows(d: int):
    from .tiff import decode_tiff, write_tiff

    # knob cycle: compression none/LZW/PackBits, predictor 1/2, both
    # byte orders, multi-strip splits, and the WhiteIsZero photometric
    # inversion every 7th doc
    h, w, _nc, gray = decode_tiff(
        write_tiff(
            _tiff_gray(d),
            compression=[1, 5, 32773, 8][d % 4],
            predictor=1 + d % 2,
            big_endian=(d // 2) % 2 == 0,
            rows_per_strip=2 + d % 3,
            photometric=0 if d % 7 == 0 else None,
        )
    )
    # predictor 2 rides only LZW/Deflate: TIFF 6.0 §14 defines the
    # predictor as part of those codecs, and libtiff/JDK readers ignore
    # it under PackBits/none. Decoded pixels are predictor-invariant,
    # so the oracle is untouched.
    rgb_comp = [5, 32773, 1, 8][d % 4]
    rgb = decode_tiff(
        write_tiff(
            _tiff_rgb(d),
            spp=3,
            compression=rgb_comp,
            predictor=(1 + (d // 3) % 2 if rgb_comp in (5, 8) else 1),
            big_endian=d % 2 == 0,
            # every 6th-ish doc ships the RGB image as BigTIFF
            big=(d % 6 == 1),
        )
    )[3]
    # palette-color image: indices are doc arithmetic, the ColorMap is
    # the fixed closed-form TIFF_PALETTE. Index depth cycles 4-bit (even
    # docs) / 2-bit (odd docs) — the sub-8 unpack is one loop for every
    # legal depth, and both carry driver-hash evidence
    pbits = 4 if d % 2 == 0 else 2
    pal = decode_tiff(
        write_tiff(
            [[(d + y * 8 + x) % (1 << pbits) for x in range(8)]
             for y in range(8)],
            palette=TIFF_PALETTE[: 1 << pbits],
            bits=pbits,
            compression=[32773, 1, 5, 8][d % 4],
            big_endian=(d // 5) % 2 == 0,
        )
    )[3]
    yield (
        d, w, h, sum(v for row in gray for v in row),
        sum(c for row in rgb for p in row for c in p),
        sum(c for row in pal for p in row for c in p),
    )


@register(
    "llm_multimodal_tiff",
    sql="""WITH g AS (
             SELECT d.doc_id,
                    CAST(SUM((d.doc_id * 3 + s.j) % 251) AS BIGINT)
                      AS gray_sum
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 63) AS s(j)
             GROUP BY d.doc_id),
           r AS (
             SELECT d.doc_id,
                    CAST(SUM(
                        (d.doc_id + 3 * x.x + 7 * y.y) % 251
                        + (d.doc_id * 2 + x.x + y.y) % 251
                        + (d.doc_id * 5 + 2 * x.x + 3 * y.y) % 251
                    ) AS BIGINT) AS rgb_sum
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 3) AS x(x),
                  generate_series(0, 3) AS y(y)
             GROUP BY d.doc_id),
           pl AS (
             SELECT d.doc_id,
                    CAST(SUM((
                      (d.doc_id + s.j)
                        % (CASE WHEN d.doc_id % 2 = 0 THEN 16 ELSE 4 END)
                      * 5) % 251
                      + ((d.doc_id + s.j)
                        % (CASE WHEN d.doc_id % 2 = 0 THEN 16 ELSE 4 END)
                        * 7) % 251
                      + ((d.doc_id + s.j)
                        % (CASE WHEN d.doc_id % 2 = 0 THEN 16 ELSE 4 END)
                        * 11) % 251)
                         AS BIGINT) AS pal_sum
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 63) AS s(j)
             GROUP BY d.doc_id)
           SELECT g.doc_id,
                  CAST(8 AS BIGINT) AS gray_w,
                  CAST(8 AS BIGINT) AS gray_h,
                  g.gray_sum, r.rgb_sum, pl.pal_sum
           FROM g JOIN r USING (doc_id) JOIN pl USING (doc_id)""",
)
def llm_multimodal_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5r: REAL baseline-TIFF decode (tiff.py) — the
    scanned-document archive format a corpus ingest meets right after
    PDF: tag-directory walk in BOTH byte orders, strips with
    RowsPerStrip splits, Compression 1/5/8/32773 (LZW shared
    byte-for-byte with PDF LZWDecode; PackBits is TIFF 6.0 §9's
    scheme where 128 is a no-op, NOT the PDF RunLengthDecode EOD; 8 is
    Adobe Deflate), horizontal-differencing predictor, the WhiteIsZero photometric
    inversion, and palette index depth 4-bit/2-bit (the sub-8 unpack
    is one loop for 1/2/4-bit alike) — all cycled per doc
    so every path carries driver-hash evidence. Bilevel Group 3/4 fax stays an honest refusal: the
    T.4/T.6 code tables are arbitrary published constants a
    from-memory implementation could get self-consistently wrong.
    Oracle: pixel sums in closed form from doc_id arithmetic. Scale
    shape: zero-exchange mapInPandas, fixed-width rows out, pixel
    volume capped per doc (MAX_TEXT_BYTES)."""
    return map_rows(doc_ids(spark, sf_dir), _tiff_rows, TIFF_SCHEMA)


# --------------------------------------------- L5u CCITT fax decode path
FAX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fax_w", LongType()),
        StructField("fax_h", LongType()),
        StructField("black_sum", LongType()),
        StructField("pos_sum", LongType()),
    ]
)


def _fax_bitmap(d: int) -> tuple[int, int, list[list[int]]]:
    """Deterministic bilevel page from doc arithmetic: width 24..36,
    height 6..10, pixel black iff (d + 3x + 5y) % 7 < 3 — clustered
    diagonal runs so every fax mode (vertical, horizontal, pass) codes
    on real transitions."""
    w = 24 + d % 13
    h = 6 + d % 5
    rows = [
        [1 if (d + 3 * x + 5 * y) % 7 < 3 else 0 for x in range(w)]
        for y in range(h)
    ]
    return w, h, rows


def _fax_rows(d: int):
    from .tiff import decode_tiff, write_tiff

    w, h, rows = _fax_bitmap(d)
    # knob cycle: all three CCITT compressions, the G3 2D flag, and
    # strip splitting — the decoded page must be identical through
    # every path
    comp = [2, 3, 4][d % 3]
    tif = write_tiff(
        rows,
        compression=comp,
        t4_two_d=(comp == 3 and (d // 3) % 2 == 0),
        rows_per_strip=h if d % 5 < 3 else (h + 1) // 2,
        big_endian=(d // 7) % 2 == 0,
    )
    dh, dw, _nc, px = decode_tiff(tif)
    if (dh, dw) != (h, w):
        raise ValueError(f"fax geometry {dh}x{dw} != {h}x{w}")
    # photometric-0 output: white=255, black=0; row-major scan order
    # makes the 1-based flat index x + w*y + 1
    black, pos = _black_sums(v for row in px for v in row)
    yield d, w, h, black, pos


def _black_sums(samples) -> tuple[int, int]:
    """(black count, sum of 1-based positions of black samples) over a
    row-major bilevel sample stream where black decodes to 0: the
    weighted sum pins pixel placement, not just density."""
    black = pos = 0
    for i, v in enumerate(samples):
        if v == 0:
            black += 1
            pos += i + 1
    return black, pos


@register(
    "llm_multimodal_tiff_fax",
    sql="""SELECT d.doc_id,
                  CAST(24 + d.doc_id % 13 AS BIGINT) AS fax_w,
                  CAST(6 + d.doc_id % 5 AS BIGINT) AS fax_h,
                  CAST(SUM(CASE WHEN (d.doc_id + 3 * x.x + 5 * y.y) % 7 < 3
                           THEN 1 ELSE 0 END) AS BIGINT) AS black_sum,
                  CAST(SUM(CASE WHEN (d.doc_id + 3 * x.x + 5 * y.y) % 7 < 3
                           THEN x.x + (24 + d.doc_id % 13) * y.y + 1
                           ELSE 0 END) AS BIGINT) AS pos_sum
           FROM (SELECT doc_id FROM documents) d,
                generate_series(0, 35) AS x(x),
                generate_series(0, 9) AS y(y)
           WHERE x.x < 24 + d.doc_id % 13
             AND y.y < 6 + d.doc_id % 5
           GROUP BY d.doc_id""",
)
def llm_multimodal_tiff_fax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5u: REAL CCITT Group 3/4 fax decode (fax.py) — the
    bilevel compression of scanned-document TIFFs. The knob cycle per
    doc covers compression 2 (MH byte-aligned lines), 3 (T.4 EOLs,
    both the 1D and 2D-flag dialects via T4Options), and 4 (T.6 MMR),
    plus strip splitting and both byte orders; the T.4/T.6 run-length
    tables are pinned EXTERNALLY by the JDK-encoded conformance
    fixtures (tests/fixtures/conformance/fax_*.tif, bit-exact both
    directions). Oracle: black-pixel count AND a position-weighted sum
    in closed form from doc_id arithmetic — the weighted sum pins
    pixel PLACEMENT, not just density, so a transposed mode word or a
    mis-sized run cannot cancel out. Scale shape: zero-exchange
    mapInPandas, fixed-width rows out, O(rows) output.

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) catalogs scanned uploads as opaque blobs; fax
    decode is multimodal-ingest surface this engine adds on top."""
    return map_rows(doc_ids(spark, sf_dir), _fax_rows, FAX_SCHEMA)


# ------------------------------------- L5w PDF CCITTFaxDecode filter path
PDF_FAX_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_images", LongType()),
        StructField("black_a", LongType()),
        StructField("wsum_a", LongType()),
        StructField("black_b", LongType()),
        StructField("wsum_b", LongType()),
    ]
)


def _pdf_fax_rows(d: int):
    from .pdf import extract_pdf_images, write_pdf

    wa, ha, rows_a = _fax_bitmap(d)
    wb = 16 + d % 9
    hb = 8 + d % 5
    rows_b = [
        [1 if (2 * d + 1 + 3 * x + 5 * y) % 7 < 3 else 0 for x in range(wb)]
        for y in range(hb)
    ]
    kb = d % 2  # image B cycles /K 0 (MH) and /K 1 (mixed 2D)
    data = write_pdf(
        [["fax doc"]],
        images=[[
            {
                # image A: /K < 0 T.6 MMR — what office scanners actually
                # emit — cycling /EncodedByteAlign, the /BlackIs1 +
                # /Decode [1 0] writer pairing, and the /ImageMask
                # stencil form (no color space)
                "kind": "fax", "rows": rows_a,
                "width": wa, "height": ha, "k": -1,
                "byte_align": d % 2 == 1,
                "black_is_1": d % 5 == 0,
                "mask": d % 3 == 2,
            },
            {
                "kind": "fax", "rows": rows_b,
                "width": wb, "height": hb, "k": kb,
                "byte_align": kb == 0 and d % 3 == 0,
                "black_is_1": d % 5 == 3,
            },
        ]],
        **_pdf_container_knobs(d),
    )
    imgs = extract_pdf_images(data)[0]
    if len(imgs) != 2:
        raise ValueError(f"expected 2 fax images, got {len(imgs)}")
    sums = []
    for im, (w, h) in zip(imgs, ((wa, ha), (wb, hb))):
        if (im["width"], im["height"]) != (w, h):
            raise ValueError("fax image geometry drifted")
        # /Decode-normalized samples: black = gray 0
        sums += _black_sums(im["samples"])
    yield (d, len(imgs), *sums)


@register(
    "llm_multimodal_pdf_fax",
    sql="""WITH a AS (
             SELECT d.doc_id,
                    CAST(SUM(CASE WHEN (d.doc_id + 3 * x.x + 5 * y.y) % 7 < 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS black_a,
                    CAST(SUM(CASE WHEN (d.doc_id + 3 * x.x + 5 * y.y) % 7 < 3
                             THEN x.x + (24 + d.doc_id % 13) * y.y + 1
                             ELSE 0 END) AS BIGINT) AS wsum_a
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 36) AS x(x),
                  generate_series(0, 10) AS y(y)
             WHERE x.x < 24 + d.doc_id % 13
               AND y.y < 6 + d.doc_id % 5
             GROUP BY d.doc_id),
           b AS (
             SELECT d.doc_id,
                    CAST(SUM(CASE WHEN (2 * d.doc_id + 1 + 3 * x.x + 5 * y.y)
                                       % 7 < 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS black_b,
                    CAST(SUM(CASE WHEN (2 * d.doc_id + 1 + 3 * x.x + 5 * y.y)
                                       % 7 < 3
                             THEN x.x + (16 + d.doc_id % 9) * y.y + 1
                             ELSE 0 END) AS BIGINT) AS wsum_b
             FROM (SELECT doc_id FROM documents) d,
                  generate_series(0, 24) AS x(x),
                  generate_series(0, 12) AS y(y)
             WHERE x.x < 16 + d.doc_id % 9
               AND y.y < 8 + d.doc_id % 5
             GROUP BY d.doc_id)
           SELECT a.doc_id,
                  CAST(2 AS BIGINT) AS n_images,
                  a.black_a, a.wsum_a, b.black_b, b.wsum_b
           FROM a JOIN b USING (doc_id)""",
)
def llm_multimodal_pdf_fax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5w: PDF /CCITTFaxDecode raster filter — scanner PDFs
    are fax strips wrapped per page, so this closes the last common
    raster-filter refusal in pdf.py. Per doc, two bilevel image
    XObjects: A is /K < 0 T.6 MMR (the dominant real-world dialect)
    cycling /EncodedByteAlign, the /BlackIs1-with-/Decode-[1 0] writer
    pairing, and the /ImageMask stencil form (§8.9.6.2 — no color
    space, every 3rd doc); B cycles /K 0 (contiguous or byte-aligned
    MH) and /K 1 (EOL + 1D/2D flag-bit T.4). The full L5l container cycle
    (RC4/AES-128/AES-256, xref-stream, ObjStm) applies on top, so an
    AES-encrypted CCITT strip inside an ObjStm container is a
    driver-hashed path. The filter's T.4/T.6 tables and the PDF
    parameter mapping are pinned EXTERNALLY: JDK-TIFFFaxCompressor
    strips rewrapped verbatim as /CCITTFaxDecode streams decode
    bit-exactly (tests/test_conformance.py). Oracle: black count and a
    1-based position-weighted sum per image in closed form — placement
    pinning, so a BlackIs1 inversion, /Decode misread, byte-align
    desync, or transposed fax mode word cannot cancel. Scale shape:
    zero-exchange mapInPandas, O(rows) fixed-width output.

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) catalogs uploaded PDFs as opaque blobs; the
    image-decode surface is what a training-data pipeline adds."""
    return map_rows(doc_ids(spark, sf_dir), _pdf_fax_rows, PDF_FAX_SCHEMA)


# --------------------------------------------- L5x tiled-TIFF layout path
TIFF_TILED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("tiff_w", LongType()),
        StructField("tiff_h", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_wsum", LongType()),
    ]
)


def _tiff_tiled_rows(d: int):
    from .tiff import decode_tiff_pages, write_tiff_multi

    w = 40 + d % 27
    h = 20 + d % 13
    # depth cycle: every 11th doc is 16-BIT gray (2-byte samples in the
    # file byte order), every 5th 4-bit, every 7th 2-bit — bit-packed
    # rows repack per tile; sub-8 samples scale by 255/(2^g - 1),
    # 16-bit come back raw
    g = 16 if d % 11 == 0 else 4 if d % 5 == 0 else (2 if d % 7 == 0 else 8)
    # multi-page chain: every d%4==2 doc carries TWO IFDs (page 1's
    # pattern reseeds by +1009)
    n_pages = 2 if d % 4 == 2 else 1
    pages = [
        [[(x * 5 + y * 11 + d + p * 1009) % (1 << g) for x in range(w)]
         for y in range(h)]
        for p in range(n_pages)
    ]
    # knob cycle: tile grid shapes (edge tiles pad-and-crop on the
    # never-aligned geometry), every byte codec, predictor, both byte
    # orders, BigTIFF every 6th doc
    decoded = decode_tiff_pages(
        write_tiff_multi(
            pages,
            compression=[1, 5, 8, 32773][d % 4],
            predictor=2 if d % 2 and d % 4 != 3 and g == 8 else 1,
            bits=g,
            tile_size=[(16, 16), (32, 16), (16, 32)][d % 3],
            big_endian=(d // 2) % 2 == 0,
            big=d % 6 == 0,
        )
    )
    if len(decoded) != n_pages:
        raise ValueError(f"IFD chain has {len(decoded)} pages, wrote {n_pages}")
    s = ws = 0
    for dh, dw, _nc, got in decoded:
        if (dh, dw) != (h, w):
            raise ValueError(f"tiled geometry {dh}x{dw} != {h}x{w}")
        for y, row in enumerate(got):
            for x, v in enumerate(row):
                s += v
                ws += (x + w * y) * v
    yield d, w, h, s, ws


@register(
    "llm_multimodal_tiff_tiled",
    sql="""WITH g AS (
             SELECT doc_id,
                    CASE WHEN doc_id % 11 = 0 THEN 65536
                         WHEN doc_id % 5 = 0 THEN 16
                         WHEN doc_id % 7 = 0 THEN 4
                         ELSE 256 END AS md,
                    CASE WHEN doc_id % 11 = 0 THEN 1
                         WHEN doc_id % 5 = 0 THEN 17
                         WHEN doc_id % 7 = 0 THEN 85
                         ELSE 1 END AS sc,
                    CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 1 END AS np
             FROM documents)
           SELECT g.doc_id,
                  CAST(40 + g.doc_id % 27 AS BIGINT) AS tiff_w,
                  CAST(20 + g.doc_id % 13 AS BIGINT) AS tiff_h,
                  CAST(SUM(((x.x * 5 + y.y * 11 + g.doc_id
                             + p.p * 1009) % g.md)
                           * g.sc) AS BIGINT) AS px_sum,
                  CAST(SUM((x.x + (40 + g.doc_id % 27) * y.y)
                           * ((x.x * 5 + y.y * 11 + g.doc_id
                               + p.p * 1009) % g.md)
                           * g.sc) AS BIGINT) AS px_wsum
           FROM g,
                generate_series(0, 66) AS x(x),
                generate_series(0, 32) AS y(y),
                generate_series(0, 1) AS p(p)
           WHERE x.x < 40 + g.doc_id % 27
             AND y.y < 20 + g.doc_id % 13
             AND p.p < g.np
           GROUP BY g.doc_id""",
)
def llm_multimodal_tiff_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5x: tiled-TIFF layout decode (TIFF 6.0 §15) — the
    organization pyramidal and GeoTIFF-style scans use. Per doc the
    knob cycle covers three tile grids against a never-tile-aligned
    geometry (edge tiles pad-then-crop), all four byte codecs, the
    horizontal-differencing predictor (which must RESET at each tile
    boundary — a strip-shaped pass would smear across seams), both
    byte orders, and BigTIFF containers; every 5th/7th doc is 4-/2-bit
    bit-packed grayscale (sub-8 depth support — packing
    resets per tile row, samples scale by the exact-integer linear
    mapping x17/x85); every d%4==2 doc is a MULTI-PAGE file (two IFDs
    chained by the next-IFD pointer, decode_tiff_pages walking the
    chain with a cycle guard). Pinned EXTERNALLY by six JDK-written
    tiled fixtures plus the three-page writeToSequence fixture
    (tests/fixtures/conformance/*_tiled*, multipage.tif). Oracle: pixel sum AND a
    position-weighted sum in closed form from doc_id arithmetic, so a
    transposed tile, swapped grid order, or seam-smeared predictor
    cannot cancel. Scale shape: zero-exchange mapInPandas, O(rows)
    fixed-width output.

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) catalogs scans as opaque blobs; tiled decode is
    multimodal-ingest surface this engine adds."""
    return map_rows(doc_ids(spark, sf_dir), _tiff_tiled_rows, TIFF_TILED_SCHEMA)


# ----------------------------------------------- L5g real JPEG decode path
JPEG_Q = 16  # flat quant table: every pixel of a DC-only block = 2*DC + 128

JPEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_components", LongType()),
        StructField("px_tl", LongType()),
        StructField("px_tr", LongType()),
        StructField("px_bl", LongType()),
        StructField("px_br", LongType()),
    ]
)


def _jpeg_dcs(doc_id: int) -> list[int]:
    """Four quantized DC values (one per 8x8 block of a 16x16 image),
    mixing signs so the ones-complement diff encoding and the DC
    prediction chain are both exercised on every row."""
    return [
        doc_id % 41 - 20,
        (doc_id // 7) % 53 - 26,
        -(doc_id % 31),
        doc_id % 23,
    ]


def _jpeg_corner_rows(doc_id: int, jpg: bytes):
    """Decode one 16x16 JPEG to the JPEG_SCHEMA row: geometry plus the
    four corner pixels, one per 8x8 DC block."""
    from .jpeg import decode_jpeg

    h, w, nc, px = decode_jpeg(jpg)
    yield doc_id, w, h, nc, px[0][0], px[0][15], px[15][0], px[15][15]


def _jpeg_rows(doc_id: int):
    from .jpeg import synth_dc_jpeg

    jpg = synth_dc_jpeg([_jpeg_dcs(doc_id)], 16, 16, q=JPEG_Q)
    return _jpeg_corner_rows(doc_id, jpg)


@register(
    "llm_multimodal_jpeg",
    sql=f"""SELECT doc_id,
                  CAST(16 AS BIGINT) AS width,
                  CAST(16 AS BIGINT) AS height,
                  CAST(1 AS BIGINT) AS n_components,
                  128 + 2 * (doc_id % 41 - 20) AS px_tl,
                  128 + 2 * ((doc_id // 7) % 53 - 26) AS px_tr,
                  128 - 2 * (doc_id % 31) AS px_bl,
                  128 + 2 * (doc_id % 23) AS px_br
           FROM documents""",
)
def llm_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5g: REAL JPEG decode path — per-doc hand-assembled baseline JPEG
    bitstreams (jpeg.py synth: DQT/SOF0/DHT/SOS markers, standard Annex K
    Huffman tables, DC-per-block entropy data) decoded by the pure-stdlib
    T.81 decoder in an Arrow mapInPandas stage.

    Evidence shape (png.py pattern): a DC-only block decodes to the flat
    value 2*DC + 128 under the flat q=16 table, so each corner pixel of
    the 16x16 / 4-block image is closed-form doc_id arithmetic the
    DuckDB oracle states directly. The four DCs mix signs per row, so a
    mistake in Huffman code assignment, the ones-complement EXTEND, the
    DC prediction chain, dequantization, or the IDCT's DC term shifts a
    corner off its closed form and the hash gate catches it. Full-AC
    coverage (zigzag, run-lengths, ZRL/EOB) is pinned by unit tests.

    Scale: same story as L5e — bytes synthesized and decoded in place,
    only the 8-int feature row leaves the Python worker. With a real
    corpus the stage reads the binary column (S15 feeds it); a
    production deployment swaps jpeg.py for libjpeg-turbo bindings with
    the identical stage shape — the engine-side contract is unchanged."""
    return map_rows(doc_ids(spark, sf_dir), _jpeg_rows, JPEG_SCHEMA)


# ------------------------------ L5t progressive (SOF2) JPEG decode path
def _jpeg_prog_rows(d: int):
    from .jpeg import synth_progressive_jpeg

    jpg = synth_progressive_jpeg(
        [(dc, 1, 0) for dc in _jpeg_dcs(d)], 16, 16, q=JPEG_Q,
        # odd docs use DC successive approximation (a first scan at
        # Al=1 + a refinement-bit scan), even docs a single
        # full-precision DC scan — both real scan scripts, same
        # closed-form pixels
        refine_dc=(d % 2 == 1),
    )
    return _jpeg_corner_rows(d, jpg)


@register(
    "llm_multimodal_jpeg_progressive",
    sql=f"""SELECT doc_id,
                  CAST(16 AS BIGINT) AS width,
                  CAST(16 AS BIGINT) AS height,
                  CAST(1 AS BIGINT) AS n_components,
                  128 + 2 * (doc_id % 41 - 20) AS px_tl,
                  128 + 2 * ((doc_id // 7) % 53 - 26) AS px_tr,
                  128 - 2 * (doc_id % 31) AS px_bl,
                  128 + 2 * (doc_id % 23) AS px_br
           FROM documents""",
)
def llm_multimodal_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L5t: REAL progressive-JPEG decode — SOF2 is what most
    web JPEGs actually are, and it was this decoder's last honest
    in-reach refusal: scans now accumulate into a per-block coefficient
    store (DC-first, DC refinement bits, AC-first spectral bands with
    EOB runs, AC refinement per T.81 G.1.2.3) with one dequantize+IDCT
    at EOI. Fixtures use the same closed-form DC grid as L5g but
    delivered through a REAL progressive scan script — DC scan (+
    successive-approximation refinement on odd docs), then an AC band
    scan whose all-zero blocks compress via EOB runs under a custom
    (non-Annex-K) Huffman table — so the coefficient store, scan
    sequencing, EOBRUN accounting, and approximation shifts all sit on
    the driver hash; the oracle is the same corner-pixel arithmetic
    (identical final pixels is exactly the claim: progressive is a
    reordering, not a different image). Full random DC+AC progressive
    content is differential-pinned against the baseline decoder in
    unit tests, pixel-exact. Scale: the L5g mapInPandas shape."""
    return map_rows(doc_ids(spark, sf_dir), _jpeg_prog_rows, JPEG_SCHEMA)


# -------------------------- L5m float-DSP (AC) JPEG with Parseval bands
JPEG_DSP_Q = 16


def _jpeg_dsp_blocks(d: int) -> list[tuple[int, int, int]]:
    """Closed-form (dc, u, ac) per block: DCs stay in ±20 and ACs in
    6..30 magnitude so no pixel clamps (max |ac pattern| is
    0.177*q*|ac| ~ 85, plus the ±40 DC shift, inside 3..253)."""
    n = 1 + d % 4
    out = []
    for b in range(n):
        dc = (d * 3 + b * 5) % 41 - 20
        u = 1 + (d + b) % 7
        ac = (((d * 7 + b * 11) % 25) + 6) * (1 if (d + b) % 2 == 0 else -1)
        out.append((dc, u, ac))
    return out


def _jpeg_dsp_rows(d: int):
    from .jpeg import decode_jpeg, synth_ac_jpeg

    q = JPEG_DSP_Q
    blocks = _jpeg_dsp_blocks(d)
    h, w, nc, px = decode_jpeg(synth_ac_jpeg(blocks, 8 * len(blocks), 8, q=q))
    dc_ok = energy_ok = True
    for b, (dc, u, ac) in enumerate(blocks):
        pix = [px[y][8 * b + x] for y in range(8) for x in range(8)]
        mean = sum(pix) / 64.0
        energy = sum((p - mean) ** 2 for p in pix)
        dc_ok = dc_ok and abs(mean - (128 + q * dc / 8.0)) <= 1.0
        energy_ok = energy_ok and (
            abs(energy - (q * ac) ** 2) <= 16 * q * abs(ac) + 64
        )
    yield d, len(blocks), h * w, dc_ok, energy_ok


JPEG_DSP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_blocks", LongType()),
        StructField("n_pixels", LongType()),
        StructField("dc_ok", BooleanType()),
        StructField("energy_ok", BooleanType()),
    ]
)


@register(
    "llm_multimodal_jpeg_dsp",
    sql="""SELECT doc_id,
                  CAST(1 + doc_id % 4 AS BIGINT) AS n_blocks,
                  CAST(64 * (1 + doc_id % 4) AS BIGINT) AS n_pixels,
                  TRUE AS dc_ok, TRUE AS energy_ok
           FROM documents""",
)
def llm_multimodal_jpeg_dsp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5m: the float-DSP door, opened with the tolerance-banded oracle
    pattern (the agg_approx_distinct shape). L5g's
    DC-only blocks collapse the real float IDCT to integers; here every
    block carries one nonzero AC coefficient (synth_ac_jpeg: run-length
    + ZRL paths, frequencies u=1..7 cycled per doc), so the cosine
    terms of the T.81 IDCT — genuinely float, no integer closed form
    per pixel — execute on every doc, and the query certifies them with
    Parseval bands instead of per-pixel equality: a lone quantized AC
    coefficient F at (0,u) reconstructs to a block whose centered
    energy is exactly (q*F)^2 before rounding (T.81's 1/4-scaled
    DCT-III basis is orthogonal), and whose mean is exactly 128 +
    q*dc/8. The emitted booleans assert |energy - (q*ac)^2| <=
    16*q*|ac| + 64 (measured slack ~10x; a missing C_u normalization
    or transposed basis is a ~2x energy error) and |mean - expected|
    <= 1; the oracle recomputes the exact columns from doc_id
    arithmetic and expects every boolean TRUE. This is also the lossy
    codec's semantic truth: encoder and decoder could misread the spec
    symmetrically and still not fake signal fidelity against the
    closed-form source.

    Scale: identical mapInPandas shape to L5g — synthesis + decode in
    the worker, five fixed-width columns out, shuffle O(rows) never
    O(bytes)."""
    return map_rows(doc_ids(spark, sf_dir), _jpeg_dsp_rows, JPEG_DSP_SCHEMA)


# ------------------------------------- L5h real MJPEG/AVI frame-pixel path
AVI_FRAME_EVERY = 2  # sample every 2nd frame (exercises the stride)
AVI_SIDE = 16        # each frame is a 16x16 / 4-block grayscale JPEG

VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_frames", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("px_tl", LongType()),
        StructField("px_tr", LongType()),
        StructField("px_bl", LongType()),
        StructField("px_br", LongType()),
    ]
)


def _avi_n_frames(doc_id: int) -> int:
    return 2 + doc_id % 5


def _avi_frame_dcs(doc_id: int, f: int) -> list[int]:
    """Quantized DC per 8x8 block (TL, TR, BL, BR raster order) of frame
    f — signs mixed per frame so the DC prediction chain and the ones-
    complement encoding are exercised in every frame of every doc."""
    return [
        (doc_id + 11 * f) % 41 - 20,
        (doc_id // 5 + 13 * f) % 53 - 26,
        -((doc_id + 7 * f) % 31),
        (doc_id + 3 * f) % 23,
    ]


def synth_avi_mjpeg(doc_id: int) -> bytes:
    """Deterministic MJPEG-in-AVI fixture: one standalone closed-form
    baseline JPEG per frame, assembled by :func:`assemble_avi_mjpeg`."""
    from .jpeg import synth_dc_jpeg

    jpegs = [
        synth_dc_jpeg([_avi_frame_dcs(doc_id, f)], AVI_SIDE, AVI_SIDE, q=JPEG_Q)
        for f in range(_avi_n_frames(doc_id))
    ]
    return assemble_avi_mjpeg(jpegs)


def assemble_avi_mjpeg(jpegs: list[bytes]) -> bytes:
    """RIFF/AVI container hand-assembled with struct (NOT via the
    walker above — writer and reader share only the public spec, the
    wave/mp4 independence pattern): LIST hdrl (avih + LIST strl(strh
    'vids'/'MJPG' + strf BITMAPINFOHEADER)) + LIST movi with one
    '00dc' chunk per frame. Shared by the L5h fixture and the L2n
    video-fingerprint corpus (llm/dedup.py)."""
    import struct

    def chunk(fcc: bytes, payload: bytes) -> bytes:
        data = fcc + struct.pack("<I", len(payload)) + payload
        return data + (b"\x00" if len(payload) % 2 else b"")

    def rlist(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    n = len(jpegs)
    avih = chunk(
        b"avih",
        struct.pack(
            "<14I",
            33333,              # dwMicroSecPerFrame (~30 fps)
            0, 0, 0x10,         # maxBytesPerSec, padding, AVIF_HASINDEX-less flags
            n,                  # dwTotalFrames
            0, 1,               # initialFrames, dwStreams
            max(map(len, jpegs)),
            AVI_SIDE, AVI_SIDE,
            0, 0, 0, 0,
        ),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"MJPG"
        # dwFlags, wPriority, wLanguage, dwInitialFrames, dwScale, dwRate,
        # dwStart, dwLength, dwSuggestedBufferSize, dwQuality, dwSampleSize,
        # rcFrame(left, top, right, bottom)
        + struct.pack("<I2H8I4h", 0, 0, 0, 0, 1, 30, 0, n,
                      max(map(len, jpegs)), 0, 0, 0, 0, AVI_SIDE, AVI_SIDE),
    )
    strf = chunk(
        b"strf",
        struct.pack("<I2i2H", 40, AVI_SIDE, AVI_SIDE, 1, 24)
        + b"MJPG"
        + struct.pack("<i2I2i", 0, 0, 0, 0, 0),
    )
    hdrl = rlist(b"hdrl", avih + rlist(b"strl", strh + strf))
    movi = rlist(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _video_frame_rows(doc_id: int):
    # one container walk per doc: sample off the walked meta directly
    # (calling sample_frames would re-walk the bytes)
    meta = avi_mjpeg_frames(synth_avi_mjpeg(doc_id))
    s = AVI_SIDE - 1
    for idx, px in _sample_from_meta(meta, AVI_FRAME_EVERY):
        yield (
            doc_id, idx, meta["n_frames"], meta["width"], meta["height"],
            px[0][0], px[0][s], px[s][0], px[s][s],
        )


@register(
    "llm_multimodal_video_frames",
    sql=f"""SELECT d.doc_id, f.f AS frame_idx,
                  2 + d.doc_id % 5 AS n_frames,
                  CAST({AVI_SIDE} AS BIGINT) AS width,
                  CAST({AVI_SIDE} AS BIGINT) AS height,
                  128 + 2 * ((d.doc_id + 11 * f.f) % 41 - 20) AS px_tl,
                  128 + 2 * ((d.doc_id // 5 + 13 * f.f) % 53 - 26) AS px_tr,
                  128 - 2 * ((d.doc_id + 7 * f.f) % 31) AS px_bl,
                  128 + 2 * ((d.doc_id + 3 * f.f) % 23) AS px_br
           FROM documents d, generate_series(0, 5) AS f(f)
           WHERE f.f < 2 + d.doc_id % 5 AND f.f % {AVI_FRAME_EVERY} = 0""",
)
def llm_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5h: REAL video frame-pixel decode — closes the last codec gap that
    pure-stdlib code CAN close (MJPEG frames are standalone baseline
    JPEGs, so no inter-frame codec is needed): per doc, a hand-
    assembled MJPEG-in-AVI container (2-6 frames, each a closed-form
    baseline JPEG) is walked by avi_mjpeg_frames (RIFF chunk grammar —
    struct parsing only) and every AVI_FRAME_EVERY-th frame is decoded
    to pixels by the T.81 decoder (jpeg.py) inside an Arrow mapInPandas
    stage; corner pixels of each sampled frame are emitted (UDTF shape:
    one doc fans out to its sampled frames).

    Evidence shape: writer and walker share only the published RIFF/AVI
    spec; frame DCs are (doc_id, frame_idx) arithmetic, so every output
    cell is closed-form and the DuckDB oracle states it directly —
    a mistake in chunk alignment, the avih layout, frame ordering, the
    sampling stride, or any stage of the JPEG decode shifts a value off
    the closed form and the hash gate catches it. Container-corruption
    classes (truncation, missing avih, frame-count mismatch) are pinned
    by unit tests (tests/test_llm.py).

    Scale: same as L5e/L5g — the container is synthesized and decoded in
    place, only 9-int rows leave the Python worker: shuffle volume is
    O(sampled frames), never O(video bytes). With a real corpus the
    stage reads the binary column (S15 feeds it); inter-frame codecs
    (H.264 etc.) still need ffmpeg and keep the sample_frames stub
    contract — MJPEG is the codec a stdlib-only container can decode
    honestly, and it exercises the identical engine-side plumbing."""
    return map_rows(doc_ids(spark, sf_dir), _video_frame_rows, VIDEO_FRAMES_SCHEMA)


# ------------------------------ L5y committed-fixture conformance query
def _conformance_dir() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        "tests", "fixtures", "conformance",
    )


def _conformance_manifest() -> list[dict]:
    import json
    import os

    path = os.path.join(_conformance_dir(), "manifest.json")
    with open(path) as fh:
        return json.load(fh)


def _conformance_ref(m: dict):
    """The JDK reference dump for one manifest entry, as a numpy array
    shaped (h, w, channels) — uint16 for depth-16 dumps."""
    import os

    import numpy as np

    raw = open(os.path.join(_conformance_dir(), m["pix"]), "rb").read()
    if m.get("depth") == 16:
        ref = np.frombuffer(raw, dtype=">u2").astype("uint32")
    else:
        ref = np.frombuffer(raw, dtype="uint8").astype("uint32")
    return ref.reshape(m["height"], m["width"], m["channels"])


def _conformance_decode(m: dict):
    """Decode one committed fixture through the in-repo codec it
    claims, returning an (h, w, channels) uint32 array."""
    import os

    import numpy as np

    raw = open(os.path.join(_conformance_dir(), m["file"]), "rb").read()
    fmt = m["format"]
    if fmt == "png":
        from .png import decode_png

        got = decode_png(raw)
        if got.ndim == 2:
            got = got[:, :, None]
        return got.astype("uint32")
    if fmt == "gif":
        if m.get("page") is not None:
            from .gif import decode_gif_frames

            return decode_gif_frames(raw)[m["page"]]["pixels"].astype(
                "uint32"
            )
        from .gif import decode_gif

        got = decode_gif(raw)
        if got.ndim == 2:
            got = got[:, :, None]
        return got.astype("uint32")
    if fmt == "jpeg":
        from .jpeg import decode_jpeg

        _h, _w, nc, px = decode_jpeg(raw)
    elif m.get("page") is not None:
        from .tiff import decode_tiff_pages

        _h, _w, nc, px = decode_tiff_pages(raw)[m["page"]]
    else:
        from .tiff import decode_tiff

        _h, _w, nc, px = decode_tiff(raw)
    if nc == 1:
        return np.array(px, dtype="uint32")[:, :, None]
    return np.array(
        [[list(p) for p in row] for row in px], dtype="uint32"
    )


def _conformance_expected(m: dict) -> tuple[int, int]:
    """(px_sum, px_wsum) a correct decoder must reproduce for one
    lossless fixture, computed from the committed JDK dump. Bilevel
    TIFF dumps are equal-valued RGB (IndexColorModel read-back); gray
    decoder output compares against one channel, so the sums here use
    the gray-collapsed reference."""
    ref = _conformance_ref(m)
    if ref.shape[2] == 3 and (
        (ref[:, :, 0] == ref[:, :, 1]).all()
        and (ref[:, :, 0] == ref[:, :, 2]).all()
    ):
        # bilevel/sub-8 fixtures read back through an IndexColorModel,
        # so the JDK dump is equal-valued RGB; gray decoder output
        # compares against one channel
        ref = ref[:, :, :1]
    flat = ref.reshape(-1).astype("int64")
    import numpy as np

    w = np.arange(1, flat.size + 1, dtype="int64")
    return int(flat.sum()), int((flat * w).sum())


CONFORMANCE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("decode_ok", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_wsum", LongType()),
    ]
)


def _conformance_rows(name: str):
    import numpy as np

    m = next(m for m in _conformance_manifest() if m["name"] == name)
    got = _conformance_decode(m)
    ref = _conformance_ref(m)
    if got.shape[2] == 1 and ref.shape[2] == 3:
        ok_gray = (
            (ref[:, :, 0] == ref[:, :, 1]).all()
            and (ref[:, :, 0] == ref[:, :, 2]).all()
        )
        ref = ref[:, :, :1]
    else:
        ok_gray = True
    if m["lossy"]:
        diff = np.abs(got.astype("int64") - ref.astype("int64"))
        ok = bool(
            ok_gray and got.shape == ref.shape
            and diff.max() <= 2 and diff.mean() <= 0.1
        )
        s = ws = -1
    else:
        ok = bool(ok_gray and got.shape == ref.shape and (got == ref).all())
        flat = got.reshape(-1).astype("int64")
        w = np.arange(1, flat.size + 1, dtype="int64")
        s, ws = int(flat.sum()), int((flat * w).sum())
    h, w, ch = got.shape
    yield name, w, h, ch, 1 if ok else 0, s, ws


def _conformance_oracle_sql() -> str:
    """VALUES literals derived from the COMMITTED JDK dumps at
    registration time: the oracle side never runs a codec, it states
    what the independent reference decoded — so the driver hash pins
    this repo's decoders against third-party bytes every sweep."""
    rows = []
    for m in _conformance_manifest():
        if m["lossy"]:
            s = ws = -1
            ch = m["channels"]
        else:
            s, ws = _conformance_expected(m)
            ref = _conformance_ref(m)
            ch = 1 if (
                ref.shape[2] == 3
                and (ref[:, :, 0] == ref[:, :, 1]).all()
                and (ref[:, :, 0] == ref[:, :, 2]).all()
            ) else m["channels"]
        rows.append(
            f"('{m['name']}', {m['width']}, {m['height']}, {ch}, "
            f"1, {s}, {ws})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(name, width, height, channels, decode_ok, "
        "px_sum, px_wsum) ORDER BY name"
    )


@register("llm_multimodal_conformance", sql=_conformance_oracle_sql())
def llm_multimodal_conformance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L5y: third-party codec conformance UNDER THE DRIVER HASH (pytest
    alone would leave the driver sweep blind to codec regressions):
    every committed JDK-encoded
    fixture (PNG at all five legal depths, baseline+progressive JPEG,
    GIF, TIFF across LZW/PackBits/Deflate/fax/tiled/multi-page/
    palette/bilevel) is decoded by the in-repo codecs and compared to
    the JDK reader's own committed pixel dump. The oracle is a VALUES
    table derived from those dumps at registration — DuckDB never runs
    a codec, so the hash gate certifies this repo's decoders against
    INDEPENDENT bytes on every driver sweep, not just in pytest.
    Lossless fixtures pin exact pixel sums and 1-based position-
    weighted sums; lossy (JPEG) fixtures pin the IDCT tolerance band
    via decode_ok. Scale shape: fixture-count rows, one mapInPandas
    pass, zero exchanges; fixtures are repo files (ship via --files on
    a real cluster — this is a certification query, not a data path).

    Reference parity: the reference (SD2E/pipelinejobs-indexer,
    reactor.py:16-213) never decodes pixels; this certifies the decode
    surface this engine adds."""
    names = sorted(m["name"] for m in _conformance_manifest())
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    return map_rows(df.repartition(8), _conformance_rows, CONFORMANCE_SCHEMA)
