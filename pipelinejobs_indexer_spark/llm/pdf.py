"""PDF text extraction on the stdlib (plus ``cryptography`` for AES):
object/stream parsing + content tokenization, no PDF libraries.

Purpose: PDF is one of the largest text-corpus sources an LLM data
pipeline ingests, and its TEXT layer is honestly decodable with the
stdlib — the container is a byte-offset object graph, the standard
content filter is FlateDecode (zlib), the ASCII armors are
ASCIIHexDecode/ASCII85Decode (binascii/base64), and text shows are
PostScript-like operators over escaped strings. The reference ships a
PDF fixture (tests/store/uploads/austin.pdf) that its indexer treats as
an opaque blob; here the text layer is real, in the gif.py/webp.py/
flac.py discipline: a spec-subset writer beside an independent parser
so round trips cross-check both, plus closed-form Spark/DuckDB oracle
evidence (llm/text.py::llm_text_pdf_extract).

Scope: %PDF header, indirect objects located by a full `N G obj` scan
(robust to fixture PDFs with no xref, and immune to stale xref
tables), dictionaries/arrays/names/numbers/strings/hex-strings/refs,
the Root→Pages→Kids page tree (inter-node /Parent cycles rejected),
page /Contents as a single stream or an array (concatenated in
order), stream /Length possibly an indirect ref, filters FlateDecode
(with /DecodeParms PNG predictors) / ASCIIHexDecode / ASCII85Decode
(chained), and the text operators BT/ET, Tj, ', ", TJ (strings
concatenated; kerning numbers are spacing hints, not glyphs, and emit
nothing), with Td/TD (dy != 0), T*, ' and " breaking lines. Literal
strings handle nesting, all escapes, octal codes, and line
continuations. The PDF 1.5 compressed layout is real (ISO 32000
§7.5.7-7.5.8): /Type /XRef cross-reference streams are parsed per the
/W column widths and /Index subsections (PNG Up/Sub/Paeth predictors
reversed, /Prev chains bounded), their type-2 entries locate
compressed objects, and /Type /ObjStm object streams are decoded from
their /N//First header pairs — with a scan-based fallback that
registers ObjStm contents even when the xref stream is stale or
absent, mirroring the `N G obj` scan's robustness for top-level
objects.

Encryption: the ENTIRE Standard security handler decrypts for real —
RC4 (V1/V2, R2/R3: MD5 algorithms 2-5), AES-128 (V4 /AESV2, R4: the
"sAlT" object-key salt, /EncryptMetadata variant, CBC + PKCS#7), and
AES-256 (V5 /AESV3, R5/R6: the Algorithm 2.B hardened SHA-2 KDF over
AES-128-CBC, Algorithm 11/12 U/O verification, raw-CBC /UE //OE key
unwrap, the /Perms ECB self-check). AES is OpenSSL's, through the
``cryptography`` package (a hard import: no fallback), pinned in tests
against the FIPS 197 Appendix C.1/C.3 and SP 800-38A vectors; RC4 is
pure Python (see :func:`_rc4`). All of it with the EMPTY user (or
owner) password, the common "owner-locked" case every reader opens;
documents where BOTH passwords are real raise NotImplementedError.

Fonts: string bytes decode through the Tf-selected font's encoding
machinery, the part of PDF text extraction real-world documents
actually exercise — /ToUnicode CMaps (bfchar + both bfrange forms,
UTF-16BE destinations; how Unicode PDFs carry text), composite
/Type0 Identity-H fonts with 2-byte codes, and simple-font
/Encoding /Differences arrays (glyph names resolved algorithmically
per the AGL spec for uniXXXX/uXXXXXX plus the printable-ASCII name
table) over WinAnsi/MacRoman base encodings (stdlib cp1252 /
mac_roman codecs). Content that names no resolvable font keeps the
latin-1 built-in approximation; predefined non-Identity CMaps and
glyph names outside the AGL subset raise NotImplementedError.

Images: page /Resources → /XObject entries with /Subtype /Image
decode to 8-bit samples (extract_pdf_images) — the raster filters are
real: RunLengthDecode (§7.4.5), LZWDecode (§7.4.4.2 TIFF variant,
MSB-first 9→12-bit codes, EarlyChange, predictors shared with
FlateDecode), DCTDecode through the in-repo baseline JPEG decoder
(jpeg.py), so a JPEG photo embedded the way real generators embed
them comes back as pixels, and CCITTFaxDecode (§7.4.6)
through fax.py — /K selects T.6 MMR (< 0), 1D MH (0) or mixed-2D T.4
(> 0), with /Columns//Rows//BlackIs1//EncodedByteAlign honored and
the packed bilevel raster expanded through the image's /Decode array
(the scanned-document path: a scanner PDF is a CCITT-wrapped fax
strip per page). Device color spaces (Gray/RGB/CMYK) and
[/Indexed base hival lookup] palettes (the lookup is FILE data — a
string or stream — mapped into the base space, §8.6.6.3) at 8 bits
per component are in scope, plus 1-bit /DeviceGray bilevel rasters,
/ImageMask stencil masks (§8.9.6.2: 1-bit, no color space,
extracted through the same /Decode path), and 2/4-bit
packed samples for Indexed palettes and plain /DeviceGray (MSB-first
byte-padded rows §8.9.5.2, sharing the TIFF bit-unpack machinery).

Out of honest scope (documented raises): custom (non-Standard)
security handlers, unknown crypt filters, codec-class raster filters
(JBIG2Decode/JPXDecode), and 16-bit, sub-8 direct-multi-component, or
ICC/separation image formats raise NotImplementedError;
structural corruption (bad header,
unterminated stream/string, missing pages, cyclic or broken refs,
malformed /Encrypt) raises ValueError. Decompressed stream output is
size-capped so a zlib bomb in a hostile PDF cannot balloon memory.
"""

from __future__ import annotations

import functools
import re
import zlib

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from .bits import packbits_encode

#: cap on TOTAL decompressed content-stream bytes per document — a
#: hostile FlateDecode stream must not balloon memory (gif.py bound
#: discipline)
MAX_TEXT_BYTES = 1 << 26

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


# ------------------------------------------------------------------ filters
def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5): length byte 0..127 copies the
    next length+1 bytes; 129..255 repeats the next byte 257-length
    times; 128 is EOD. A stream that runs out before EOD is corrupt."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        ln = data[pos]
        pos += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            chunk = data[pos : pos + ln + 1]
            if len(chunk) < ln + 1:
                raise ValueError("truncated RunLengthDecode literal run")
            out += chunk
            pos += ln + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated RunLengthDecode repeat run")
            out += bytes([data[pos]]) * (257 - ln)
            pos += 1
        if len(out) > MAX_TEXT_BYTES:
            raise ValueError(
                f"RunLengthDecode inflates past the {MAX_TEXT_BYTES}-byte bound"
            )
    raise ValueError("RunLengthDecode stream missing EOD (128)")


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (ISO 32000 §7.4.4.2, the TIFF variant): MSB-first bit
    packing, 9-bit codes growing to 12, 256=ClearTable, 257=EOD, and
    the EarlyChange convention (default 1: the code width grows one
    code early). Standard LZW table reconstruction including the
    K[omega]K case (code == next table index)."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    bitbuf = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZWDecode stream missing EOD (257)")
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        bitbuf &= (1 << nbits) - 1
        if code == 256:
            reset()
            continue
        if code == 257:
            return bytes(out)
        if prev is None:
            if code > 255:
                raise ValueError(f"LZWDecode first code {code} after clear")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZWDecode code {code} beyond table")
        out += entry
        prev = entry
        if len(out) > MAX_TEXT_BYTES:
            raise ValueError(
                f"LZWDecode inflates past the {MAX_TEXT_BYTES}-byte bound"
            )
        if len(table) >= (1 << width) - early and width < 12:
            width += 1


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Writer-side LZW encoder with real dictionary growth, kept in
    lockstep with the decoder's table: the decoder adds one entry per
    code processed after the first since a clear, so the width bump is
    driven by that projected size (the EarlyChange accounting the
    decoder applies). At table index 4093 the dictionary clears —
    12-bit codes never overflow."""
    bits: list[tuple[int, int]] = [(256, 9)]  # leading ClearTable
    d: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    dec_size = 258  # decoder table size BEFORE the next code is processed
    emitted_since_clear = 0

    def emit(code: int) -> None:
        nonlocal width, dec_size, emitted_since_clear
        bits.append((code, width))
        emitted_since_clear += 1
        if emitted_since_clear > 1:
            dec_size += 1
        if dec_size >= (1 << width) - early and width < 12:
            width += 1

    w = b""
    for i in range(len(data)):
        ch = data[i : i + 1]
        if w + ch in d:
            w += ch
            continue
        emit(d[w])
        d[w + ch] = nxt
        nxt += 1
        w = ch
        if nxt > 4093:
            emit(d[w])  # flush the pending prefix before clearing
            bits.append((256, width))
            d = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
            dec_size = 258
            emitted_since_clear = 0
            w = b""
    if w:
        emit(d[w])
    bits.append((257, width))
    buf = 0
    nbuf = 0
    out = bytearray()
    for code, cw in bits:
        buf = (buf << cw) | code
        nbuf += cw
        while nbuf >= 8:
            out.append((buf >> (nbuf - 8)) & 0xFF)
            nbuf -= 8
            buf &= (1 << nbuf) - 1
    if nbuf:
        out.append((buf << (8 - nbuf)) & 0xFF)
    return bytes(out)


class _Lexer:
    """Byte-level PDF object lexer."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d = self.data
        while self.pos < len(d):
            c = d[self.pos : self.pos + 1]
            if c in b"%":  # comment to end of line
                nl = d.find(b"\n", self.pos)
                self.pos = len(d) if nl < 0 else nl + 1
            elif c in _WS:
                self.pos += 1
            else:
                return

    def parse(self):
        """Parse one object at the cursor; returns python values —
        dict / list / bytes (strings) / str (names, prefixed '/') /
        int / float / bool / None / ('ref', num, gen)."""
        self._skip_ws()
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated PDF object")
        c = d[self.pos : self.pos + 1]
        if c == b"<":
            if d[self.pos : self.pos + 2] == b"<<":
                return self._parse_dict()
            return self._parse_hex_string()
        if c == b"(":
            return self._parse_string()
        if c == b"[":
            return self._parse_array()
        if c == b"/":
            return self._parse_name()
        if d.startswith(b"true", self.pos):
            self.pos += 4
            return True
        if d.startswith(b"false", self.pos):
            self.pos += 5
            return False
        if d.startswith(b"null", self.pos):
            self.pos += 4
            return None
        return self._parse_number_or_ref()

    def _parse_dict(self) -> dict:
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.parse()
            if not isinstance(key, str) or not key.startswith("/"):
                raise ValueError("PDF dictionary key is not a name")
            out[key] = self.parse()

    def _parse_array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.parse())

    def _parse_name(self) -> str:
        d = self.data
        start = self.pos
        self.pos += 1
        while self.pos < len(d) and d[self.pos] not in _WS and (
            d[self.pos] not in _DELIM
        ):
            self.pos += 1
        raw = d[start : self.pos].decode("latin-1")
        # #xx hex escapes inside names
        return re.sub(
            r"#([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), raw
        )

    def _parse_hex_string(self) -> bytes:
        d = self.data
        end = d.find(b">", self.pos)
        if end < 0:
            raise ValueError("unterminated PDF hex string")
        hx = bytes(
            b for b in d[self.pos + 1 : end] if bytes([b]) not in _WS
        )
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"  # odd final digit pads with 0 (spec)
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except (UnicodeDecodeError, ValueError) as exc:
            raise ValueError(f"bad PDF hex string: {exc}") from None

    def _parse_string(self) -> bytes:
        d = self.data
        self.pos += 1
        out = bytearray()
        depth = 1
        while True:
            if self.pos >= len(d):
                raise ValueError("unterminated PDF literal string")
            c = d[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash escapes
                if self.pos >= len(d):
                    raise ValueError("unterminated PDF string escape")
                e = d[self.pos]
                self.pos += 1
                if e in b"nrtbf":
                    out.append(
                        {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e]
                    )
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # 1-3 octal digits
                    oct_digits = [e]
                    while (
                        len(oct_digits) < 3
                        and self.pos < len(d)
                        and 0x30 <= d[self.pos] <= 0x37
                    ):
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(bytes(oct_digits), 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.pos < len(d) and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: the char stands for itself
                    out.append(e)
            elif c == 0x28:  # nested (
                depth += 1
                out.append(c)
            elif c == 0x29:  # )
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)

    def _parse_number_or_ref(self):
        d = self.data
        m = re.match(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)", d[self.pos :])
        if not m:
            raise ValueError(
                f"unparsable PDF token at byte {self.pos}: "
                f"{d[self.pos:self.pos + 12]!r}"
            )
        tok = m.group(0)
        self.pos += len(tok)
        if b"." in tok:
            return float(tok)
        # `N G R` indirect reference lookahead
        save = self.pos
        self._skip_ws()
        m2 = re.match(rb"(\d+)\s+R(?![A-Za-z0-9])", d[self.pos :])
        if m2 and not tok.startswith((b"+", b"-")):
            self.pos += m2.end()
            return ("ref", int(tok), int(m2.group(1)))
        self.pos = save
        return int(tok)


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")

# ------------------------------ Standard security handler (RC4, R2/R3)
#: the spec's 32-byte password padding constant (PDF 1.7 §7.6.3.3)
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher, the Standard handler's V1/V2 cipher, in pure
    Python. ``cryptography``'s ARC4 accepts only 40/56/64/80/128/160/
    192/256-bit keys, while PDF per-object keys are ``min(n + 5, 16)``
    bytes (11-15 bytes for a 48-120-bit document); any key length
    works here, and test_rc4_published_vectors' 3/4/6-byte keys pin
    that."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


# ------------------------------------- AES (V4 /AESV2, V5 /AESV3 filters)
# The block cipher is OpenSSL's through ``cryptography``; these helpers
# own the PDF layouts around it. Tests pin them against the FIPS 197
# Appendix C.1/C.3 and SP 800-38A CBC vectors.
def _aes_ecb_block(key: bytes, block: bytes, decrypt: bool = False) -> bytes:
    """One AES block in ECB mode: the V5 /Perms record (ISO 32000-2
    Algorithm 10 writes it, Algorithm 13 checks it)."""
    c = Cipher(algorithms.AES(key), modes.ECB())
    ctx = c.decryptor() if decrypt else c.encryptor()
    return ctx.update(block) + ctx.finalize()


def _aes_cbc_encrypt(
    key: bytes, iv: bytes, data: bytes, pad: bool = True
) -> bytes:
    """PDF /AESV2-/AESV3 stream layout: IV || CBC ciphertext,
    PKCS#7-padded. ``pad=False`` is the raw-CBC mode the V5 key wraps
    (/UE //OE, Algorithm 2.B's 64-block loop) use — the IV is then NOT
    prepended (the callers fix it structurally: zero for key wraps,
    K[16:32] for 2.B)."""
    if pad:
        n = 16 - len(data) % 16
        data += bytes([n]) * n
    elif len(data) % 16:
        raise ValueError("raw AES-CBC needs whole blocks")
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    ct = enc.update(data) + enc.finalize()
    return iv + ct if pad else ct


def _aes_cbc_decrypt(key: bytes, data: bytes, pad: bool = True) -> bytes:
    """Inverse of :func:`_aes_cbc_encrypt`; with ``pad=False`` the data
    is raw whole blocks (no leading IV — caller passes IV-zero
    semantics by construction) and no padding is stripped."""
    if pad and (len(data) < 32 or len(data) % 16):
        raise ValueError(
            f"AES-CBC stream of {len(data)} bytes is not IV + padded blocks"
        )
    if not pad and (len(data) == 0 or len(data) % 16):
        raise ValueError("raw AES-CBC needs whole blocks")
    iv, body = (data[:16], data[16:]) if pad else (bytes(16), data)
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    out = dec.update(body) + dec.finalize()
    if not pad:
        return out
    n = out[-1]
    if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
        raise ValueError("bad AES-CBC padding (corrupt or wrong key)")
    return out[:-n]


@functools.lru_cache(maxsize=64)
def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6): the hardened SHA-2 password hash
    — iterated SHA-256/384/512 selected by an AES-128-CBC round over
    the 64x-repeated input, terminating after >=64 rounds once the last
    cipher byte falls under round-32.

    Memoized: the hash is an anti-brute-force KDF BY DESIGN (>=64 CBC
    passes over a >=2 KiB block, a few ms natively), so each distinct
    (password, salt, udata) is derived once per worker; the fixture
    writer keeps V5 salts doc-independent so a corpus pass pays the
    KDF once, while per-doc stream decryption still runs for real."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _std_file_key(
    user_pw: bytes, o_value: bytes, p: int, doc_id: bytes, r: int, n: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key."""
    import hashlib

    h = hashlib.md5()
    h.update(_pad_password(user_pw))
    h.update(o_value[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(doc_id)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _std_o_value(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O entry."""
    import hashlib

    key = hashlib.md5(_pad_password(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = _rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _std_u_value(file_key: bytes, doc_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U entry."""
    import hashlib

    if r == 2:
        return _rc4(file_key, _PAD)
    u = _rc4(file_key, hashlib.md5(_PAD + doc_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16  # R3 pads U to 32 bytes (tail is arbitrary)


def _object_key(
    file_key: bytes, num: int, gen: int, aes: bool = False
) -> bytes:
    """Per-object key: MD5(file key + objnum[3 LE] + gen[2 LE]); the
    /AESV2 crypt filter additionally salts with the spec's literal
    "sAlT" bytes (ISO 32000 §7.6.2 algorithm 1)."""
    import hashlib

    h = hashlib.md5(
        file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


class _Document:
    """Indirect-object store located by a full scan (no xref reliance —
    robust to the fixture PDFs that omit it and to stale tables)."""

    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF (missing %PDF- header)")
        if data.find(b"%%EOF") < 0:
            raise ValueError("truncated PDF (missing %%EOF)")
        self.data = data
        self.offsets: dict[tuple[int, int], int] = {}
        for m in _OBJ_RE.finditer(data):
            self.offsets[(int(m.group(1)), int(m.group(2)))] = m.end()
        self._cache: dict[tuple[int, int], object] = {}
        self.file_key: bytes | None = None
        self._aes = False
        self._v5 = False
        self._enc_key_obj: tuple[int, int] | None = None
        #: compressed-object registry (PDF 1.5): objnum -> (objstm num,
        #: index within the stream); filled from xref-stream type-2
        #: entries first, then from a scan of /Type /ObjStm headers
        self._objstm_map: dict[int, tuple[int, int]] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._objstm_loading: set[int] = set()
        self._objstm_bytes = 0
        self._setup_encryption()
        self._load_xref_streams()
        self._register_objstms()

    def _setup_encryption(self) -> None:
        """The Standard security handler with an EMPTY user password —
        the common owner-locked case any reader opens: RC4 (V1/V2,
        R2/R3), V4 with an /AESV2 or /V2 crypt filter (R4), and V5 via
        :meth:`_setup_v5`. Custom handlers, unknown crypt filters and
        wrong-password documents raise NotImplementedError; a malformed
        /Encrypt dict is ValueError."""
        enc_ref = None
        for m in re.finditer(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R", self.data):
            enc_ref = (int(m.group(1)), int(m.group(2)))
        if enc_ref is None:
            return
        enc = self.resolve(("ref",) + enc_ref)
        if not isinstance(enc, dict):
            raise ValueError("PDF /Encrypt is not a dictionary")
        v = enc.get("/V")
        if enc.get("/Filter") != "/Standard" or v not in (1, 2, 4, 5):
            raise NotImplementedError(
                "only the Standard security handler (RC4 V1/V2, AES-128 "
                "V4 /AESV2, AES-256 V5 /AESV3) is implemented; custom "
                "security handlers need their own plugins"
            )
        if v == 5:
            self._setup_v5(enc, enc_ref)
            return
        aes = False
        if v == 4:
            # crypt filters (§7.6.5): the default /StdCF drives streams
            cf = self.resolve(enc.get("/CF"))
            if not isinstance(cf, dict):
                raise ValueError("PDF V4 /Encrypt has no /CF dictionary")
            stmf = enc.get("/StmF", "/Identity")
            stdcf = self.resolve(cf.get(stmf))
            if not isinstance(stdcf, dict):
                raise ValueError(f"PDF /Encrypt /StmF {stmf!r} not in /CF")
            cfm = stdcf.get("/CFM")
            if cfm == "/AESV2":
                aes = True
            elif cfm != "/V2":  # /V2 = RC4 under a V4 wrapper
                raise NotImplementedError(
                    f"crypt filter {cfm!r} is not one the V4 Standard "
                    "handler defines (/AESV2 or /V2)"
                )
        r = enc.get("/R")
        if r not in (2, 3, 4):
            raise ValueError(f"bad Standard-handler revision {r!r}")
        if v == 1:
            n = 5
        elif v == 4 and isinstance(stdcf.get("/Length"), int):
            # CF /Length is bytes per the spec (Acrobat also wrote bits)
            cl = stdcf["/Length"]
            n = cl // 8 if cl >= 40 else cl
        else:
            n = int(enc.get("/Length", 40)) // 8
        if not 5 <= n <= 16:
            raise ValueError(f"bad encryption key length {n * 8} bits")
        o = enc.get("/O")
        u = enc.get("/U")
        p = enc.get("/P")
        if not (isinstance(o, bytes) and isinstance(u, bytes)
                and isinstance(p, int)):
            raise ValueError("PDF /Encrypt missing O/U/P entries")
        doc_id = b""
        id_m = None
        for m in re.finditer(rb"/ID\b", self.data):
            id_m = m
        if id_m is not None:
            try:
                ids = _Lexer(self.data, id_m.end()).parse()
                if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                    doc_id = ids[0]
            except ValueError:
                pass  # stray '/ID' bytes inside a stream — no trailer ID
        key = _std_file_key(
            b"", o, p, doc_id, r, n,
            encrypt_metadata=enc.get("/EncryptMetadata", True) is not False,
        )
        expect = _std_u_value(key, doc_id, r)
        ok = u[:16] == expect[:16] if r >= 3 else u[:32] == expect[:32]
        if not ok:
            raise NotImplementedError(
                "password-protected PDF (non-empty user password) — "
                "cannot be decrypted without the password"
            )
        self.file_key = key
        self._aes = aes
        self._enc_key_obj = enc_ref

    def _setup_v5(self, enc: dict, enc_ref: tuple[int, int]) -> None:
        """The V5 handler (ISO 32000-2 §7.6.4): AES-256 with SHA-2
        password hashing — R6's Algorithm 2.B hardened hash (R5's plain
        SHA-256 also accepted), Algorithm 11/12 U- and O-verification
        with the EMPTY password, the file key unwrapped from /UE (or
        /OE for owner-locked docs) by raw AES-256-CBC, and the /Perms
        ECB self-check: hashlib SHA-2 plus the AES helpers above."""
        import hashlib

        r = enc.get("/R")
        if r not in (5, 6):
            raise ValueError(f"bad V5 Standard-handler revision {r!r}")
        cf = self.resolve(enc.get("/CF"))
        stmf = enc.get("/StmF", "/Identity")
        stdcf = self.resolve(cf.get(stmf)) if isinstance(cf, dict) else None
        if not isinstance(stdcf, dict) or stdcf.get("/CFM") != "/AESV3":
            raise NotImplementedError(
                f"V5 crypt filter {stdcf.get('/CFM') if isinstance(stdcf, dict) else None!r} "
                "is not the /AESV3 the Standard handler defines"
            )
        u, o = enc.get("/U"), enc.get("/O")
        ue, oe = enc.get("/UE"), enc.get("/OE")
        if not (isinstance(u, bytes) and isinstance(o, bytes)
                and isinstance(ue, bytes) and isinstance(oe, bytes)
                and len(u) >= 48 and len(o) >= 48
                and len(ue) == 32 and len(oe) == 32):
            raise ValueError("PDF V5 /Encrypt missing/malformed U/O/UE/OE")

        def h(pw: bytes, salt: bytes, udata: bytes) -> bytes:
            if r == 6:
                return _hash_2b(pw, salt, udata)
            return hashlib.sha256(pw + salt + udata).digest()

        if h(b"", u[32:40], b"") == u[:32]:  # Algorithm 11: user pw ""
            ik = h(b"", u[40:48], b"")
            key = _aes_cbc_decrypt(ik, ue, pad=False)
        elif h(b"", o[32:40], u[:48]) == o[:32]:  # Algorithm 12: owner ""
            ik = h(b"", o[40:48], u[:48])
            key = _aes_cbc_decrypt(ik, oe, pad=False)
        else:
            raise NotImplementedError(
                "password-protected PDF (V5: neither the user nor the "
                "owner password is empty) — cannot be decrypted without "
                "the password"
            )
        perms = enc.get("/Perms")
        if isinstance(perms, bytes) and len(perms) >= 16:
            dec = _aes_ecb_block(key, perms[:16], decrypt=True)
            if dec[9:12] != b"adb":
                raise ValueError(
                    "PDF V5 /Perms block fails the 'adb' check — corrupt "
                    "encryption dictionary or mis-derived key"
                )
        self.file_key = key
        self._aes = True
        self._v5 = True
        self._enc_key_obj = enc_ref

    # --------------------------- PDF 1.5 compressed layout (ISO 32000)
    def _load_xref_streams(self) -> None:
        """Parse cross-reference STREAMS (ISO 32000 §7.5.8): follow the
        last ``startxref`` offset and the /Prev chain; type-2 entries
        map compressed objects to their /Type /ObjStm container. Files
        with a classic ``xref`` table (or none at all — fixture PDFs)
        are untouched: the full `N G obj` scan stays authoritative for
        top-level objects."""
        last = None
        for m in re.finditer(rb"startxref\s+(\d+)", self.data):
            last = m
        if last is None:
            return
        offset = int(last.group(1))
        seen_offsets: set[int] = set()
        for _ in range(32):  # bounded /Prev chain (cycles, hostile depth)
            if offset in seen_offsets or not 0 <= offset < len(self.data):
                return
            seen_offsets.add(offset)
            m = _OBJ_RE.match(self.data, offset)
            if m is None:
                return  # classic layout: startxref points at `xref`
            key = (int(m.group(1)), int(m.group(2)))
            info = _Lexer(self.data, m.end()).parse()
            if not isinstance(info, dict) or info.get("/Type") != "/XRef":
                return
            rows = self.stream_bytes(key)
            w = info.get("/W")
            size = info.get("/Size")
            if (not isinstance(w, list) or len(w) != 3
                    or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
                    or w[1] == 0):
                raise ValueError(f"bad PDF xref-stream /W {w!r}")
            if not isinstance(size, int) or size <= 0:
                raise ValueError("bad PDF xref-stream /Size")
            index = info.get("/Index", [0, size])
            if (not isinstance(index, list) or len(index) % 2
                    or not all(isinstance(x, int) and x >= 0 for x in index)):
                raise ValueError(f"bad PDF xref-stream /Index {index!r}")
            width = sum(w)
            n_rows = sum(index[1::2])
            if len(rows) < n_rows * width:
                raise ValueError(
                    f"PDF xref stream holds {len(rows)} bytes, "
                    f"needs {n_rows * width}"
                )
            pos = 0
            for first, count in zip(index[0::2], index[1::2]):
                for num in range(first, first + count):
                    fields = []
                    for wi in w:
                        fields.append(
                            int.from_bytes(rows[pos : pos + wi], "big")
                        )
                        pos += wi
                    ftype = fields[0] if w[0] else 1
                    if ftype == 2:
                        # earliest-seen wins: the chain runs newest ->
                        # oldest, and newer sections supersede /Prev
                        self._objstm_map.setdefault(
                            num, (fields[1], fields[2])
                        )
            prev = info.get("/Prev")
            if not isinstance(prev, int):
                return
            offset = prev
        raise ValueError("PDF xref /Prev chain deeper than 32")

    def _register_objstms(self) -> None:
        """Scan-based fallback: register the contents of every top-level
        /Type /ObjStm from its own header pairs, so compressed objects
        survive a stale/absent xref stream (the same no-xref robustness
        the `N G obj` scan gives top-level objects). Xref-stream entries
        keep priority via setdefault."""
        if b"/ObjStm" not in self.data:
            return
        for key in list(self.offsets):
            try:
                info = _Lexer(self.data, self.offsets[key]).parse()
            except (ValueError, NotImplementedError):
                continue  # unrelated corrupt object: fails if resolved
            if not isinstance(info, dict) or info.get("/Type") != "/ObjStm":
                continue
            try:
                contents = self._decode_objstm(key[0])
            except (ValueError, NotImplementedError):
                continue
            for idx, num in enumerate(contents):
                self._objstm_map.setdefault(num, (key[0], idx))

    def _decode_objstm(self, stm_num: int) -> dict[int, object]:
        """Decode an object stream: /N pairs of (objnum, offset) then the
        serialized objects, offsets relative to /First (§7.5.7)."""
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        if stm_num in self._objstm_loading:
            raise ValueError("cycle between PDF object streams")
        self._objstm_loading.add(stm_num)
        try:
            key = (stm_num, 0)
            if key not in self.offsets:
                raise ValueError(f"PDF object stream {stm_num} not found")
            info = _Lexer(self.data, self.offsets[key]).parse()
            if not isinstance(info, dict) or info.get("/Type") != "/ObjStm":
                raise ValueError(f"PDF object {stm_num} is not /Type /ObjStm")
            n = self.resolve(info.get("/N"))
            first = self.resolve(info.get("/First"))
            if not (isinstance(n, int) and isinstance(first, int)
                    and 0 <= n <= 100_000 and 0 <= first):
                raise ValueError("bad PDF /ObjStm /N or /First")
            content = self.stream_bytes(key)
            self._objstm_bytes += len(content)
            if self._objstm_bytes > MAX_TEXT_BYTES:
                raise ValueError(
                    f"PDF object streams exceed the {MAX_TEXT_BYTES}-byte "
                    "bound"
                )
            if first > len(content):
                raise ValueError("PDF /ObjStm /First past stream end")
            lex = _Lexer(content[:first])
            pairs = []
            for _ in range(n):
                num = lex.parse()
                off = lex.parse()
                if not (isinstance(num, int) and isinstance(off, int)
                        and num > 0 and 0 <= off <= len(content) - first):
                    raise ValueError("bad PDF /ObjStm header pair")
                pairs.append((num, off))
            out: dict[int, object] = {}
            for num, off in pairs:
                out[num] = _Lexer(content, first + off).parse()
            self._objstm_cache[stm_num] = out
            return out
        finally:
            self._objstm_loading.discard(stm_num)

    def resolve(self, obj, depth: int = 0):
        """Follow indirect references (memoized, cycle-bounded)."""
        while isinstance(obj, tuple) and obj and obj[0] == "ref":
            if depth > 32:
                raise ValueError("PDF reference chain too deep (cycle?)")
            key = (obj[1], obj[2])
            if key in self._cache:
                obj = self._cache[key]
                break
            if key not in self.offsets:
                # compressed objects always have generation 0 (§7.5.7)
                if key[1] == 0 and key[0] in self._objstm_map:
                    stm_num, idx = self._objstm_map[key[0]]
                    contents = self._decode_objstm(stm_num)
                    if key[0] not in contents:
                        raise ValueError(
                            f"PDF object {key[0]} missing from object "
                            f"stream {stm_num}"
                        )
                    val = contents[key[0]]
                    self._cache[key] = val
                    obj = val
                    depth += 1
                    continue
                raise ValueError(f"PDF object {key[0]} {key[1]} not found")
            lex = _Lexer(self.data, self.offsets[key])
            val = lex.parse()
            self._cache[key] = val
            obj = val
            depth += 1
        return obj

    def stream_bytes(self, key: tuple[int, int]) -> bytes:
        """Decoded bytes of a stream object (dict followed by
        stream...endstream), honoring /Length and /Filter."""
        if key not in self.offsets:
            if key[1] == 0 and key[0] in self._objstm_map:
                # §7.5.7: stream objects shall not be stored inside an
                # object stream — a ref that lands there is corruption
                raise ValueError(
                    f"PDF object {key[0]} referenced as a stream lives "
                    "inside an object stream"
                )
            raise ValueError(f"PDF stream object {key[0]} {key[1]} not found")
        lex = _Lexer(self.data, self.offsets[key])
        info = lex.parse()
        if not isinstance(info, dict):
            raise ValueError("PDF content object is not a stream")
        lex._skip_ws()
        if not self.data.startswith(b"stream", lex.pos):
            raise ValueError("PDF stream keyword missing after dictionary")
        pos = lex.pos + len(b"stream")
        if self.data[pos : pos + 2] == b"\r\n":
            pos += 2
        elif self.data[pos : pos + 1] == b"\n":
            pos += 1
        length = self.resolve(info.get("/Length"))
        if not isinstance(length, int) or length < 0:
            raise ValueError("PDF stream /Length missing or invalid")
        raw = self.data[pos : pos + length]
        if len(raw) < length:
            raise ValueError("truncated PDF stream body")
        end = self.data.find(b"endstream", pos + length)
        if end < 0:
            raise ValueError("PDF stream missing endstream")
        if (self.file_key is not None and key != self._enc_key_obj
                and info.get("/Type") != "/XRef"):
            # decrypt BEFORE filters (readers reverse the writer's
            # filter-then-encrypt order); the /Encrypt object itself and
            # cross-reference streams (§7.5.8.2) are never encrypted
            if self._aes:
                # V5 uses the file key directly (no per-object MD5
                # derivation, §7.6.4); V4 /AESV2 salts per object
                raw = _aes_cbc_decrypt(
                    self.file_key
                    if self._v5
                    else _object_key(self.file_key, key[0], key[1], aes=True),
                    raw,
                )
            else:
                raw = _rc4(_object_key(self.file_key, key[0], key[1]), raw)
        filters = self.resolve(info.get("/Filter"))
        if filters is None:
            chain = []
        elif isinstance(filters, str):
            chain = [filters]
        elif isinstance(filters, list):
            chain = [self.resolve(f) for f in filters]
        else:
            raise ValueError("bad PDF /Filter entry")
        parms = self.resolve(info.get("/DecodeParms", info.get("/DP")))
        if parms is None or isinstance(parms, dict):
            parms_chain = [parms] * max(len(chain), 1)
        elif isinstance(parms, list):
            parms_chain = [self.resolve(p) for p in parms]
        else:
            raise ValueError("bad PDF /DecodeParms entry")
        if len(parms_chain) < len(chain):
            parms_chain += [None] * (len(chain) - len(parms_chain))
        for f, parm in zip(chain, parms_chain):
            if f == "/FlateDecode":
                try:
                    dec = zlib.decompressobj()
                    raw = dec.decompress(raw, MAX_TEXT_BYTES + 1)
                except zlib.error as exc:
                    raise ValueError(f"bad FlateDecode stream: {exc}") from None
                if len(raw) > MAX_TEXT_BYTES:
                    raise ValueError(
                        f"PDF stream inflates past the {MAX_TEXT_BYTES}-byte "
                        "bound"
                    )
                raw = self._apply_predictor(raw, parm)
            elif f == "/ASCIIHexDecode":
                body = raw.split(b">")[0]
                hx = bytes(b for b in body if bytes([b]) not in _WS)
                if len(hx) % 2:
                    hx += b"0"
                raw = bytes.fromhex(hx.decode("ascii"))
            elif f == "/ASCII85Decode":
                import base64

                body = raw.split(b"~>")[0]
                raw = base64.a85decode(
                    bytes(b for b in body if bytes([b]) not in _WS)
                )
            elif f == "/RunLengthDecode":
                raw = _rle_decode(raw)
            elif f == "/LZWDecode":
                ec = 1
                if isinstance(parm, dict):
                    ec = self.resolve(parm.get("/EarlyChange", 1))
                    if ec not in (0, 1):
                        raise ValueError(f"bad LZW /EarlyChange {ec!r}")
                raw = _lzw_decode(raw, early=ec)
                raw = self._apply_predictor(raw, parm)
            elif f == "/DCTDecode":
                # terminal filter: T.81 output is SAMPLES, not bytes to
                # chain further — decoded with the in-repo baseline JPEG
                # decoder (jpeg.py), interleaved row-major 8-bit
                from .jpeg import decode_jpeg

                h, w, nc, px = decode_jpeg(raw)
                if w * h * nc > MAX_TEXT_BYTES:
                    raise ValueError(
                        f"DCTDecode image inflates past the "
                        f"{MAX_TEXT_BYTES}-byte bound"
                    )
                flat = bytearray()
                for row in px:
                    if nc == 1:
                        flat += bytes(row)
                    else:
                        for pxl in row:
                            flat += bytes(pxl)
                raw = bytes(flat)
            elif f == "/CCITTFaxDecode":
                # terminal filter (§7.4.6): output is the packed 1-bit
                # raster (rows byte-padded, MSB first), decoded through
                # the in-repo T.4/T.6 machinery (fax.py — tables pinned
                # by the JDK conformance fixtures). /BlackIs1 defaults
                # FALSE: decoded 0 bits mean black.
                from .fax import decode_fax_pdf

                parmd = parm if isinstance(parm, dict) else {}
                kk = self.resolve(parmd.get("/K", 0))
                cols = self.resolve(parmd.get("/Columns", 1728))
                nrows = self.resolve(parmd.get("/Rows", 0))
                black1 = self.resolve(parmd.get("/BlackIs1", False))
                balign = self.resolve(
                    parmd.get("/EncodedByteAlign", False)
                )
                if not isinstance(kk, int) or not isinstance(cols, int):
                    raise ValueError("bad CCITTFaxDecode /K or /Columns")
                if not isinstance(nrows, int) or nrows < 0:
                    raise ValueError("bad CCITTFaxDecode /Rows")
                if not nrows:
                    # writers that omit /Rows still declare /Height on
                    # the image dictionary itself
                    h = self.resolve(info.get("/Height"))
                    nrows = h if isinstance(h, int) and h > 0 else None
                if nrows is not None and (cols * nrows) // 8 > MAX_TEXT_BYTES:
                    raise ValueError(
                        f"CCITTFax image inflates past the "
                        f"{MAX_TEXT_BYTES}-byte bound"
                    )
                lines = decode_fax_pdf(
                    raw, cols, nrows, kk, byte_align=bool(balign)
                )
                stride = (cols + 7) >> 3
                if len(lines) * stride > MAX_TEXT_BYTES:
                    raise ValueError(
                        f"CCITTFax image inflates past the "
                        f"{MAX_TEXT_BYTES}-byte bound"
                    )
                packed = bytearray(len(lines) * stride)
                for y, line in enumerate(lines):
                    base = y * stride
                    for x, s in enumerate(line):
                        # fax 1 = black; output bit is the sample under
                        # /BlackIs1, its complement otherwise
                        bit = s if black1 else 1 - s
                        if bit:
                            packed[base + (x >> 3)] |= 0x80 >> (x & 7)
                raw = bytes(packed)
            else:
                raise NotImplementedError(
                    f"PDF filter {f} needs a codec outside the honest "
                    "stdlib scope (JBIG2/JPX)"
                )
        return raw

    def _apply_predictor(self, raw: bytes, parm) -> bytes:
        """Reverse a /DecodeParms predictor on FlateDecode output. PNG
        predictors (/Predictor >= 10, §7.4.4.4) are the ones real xref
        streams use; each row is a filter-type byte plus Columns x
        Colors x BitsPerComponent/8 bytes, defiltered with the same
        per-row logic as png.py."""
        if not isinstance(parm, dict):
            return raw
        pred = self.resolve(parm.get("/Predictor", 1))
        if pred == 1 or pred is None:
            return raw
        if pred == 2:
            # TIFF horizontal differencing: image streams use it with
            # LZW/Flate; xref streams never do
            columns = self.resolve(parm.get("/Columns", 1))
            colors = self.resolve(parm.get("/Colors", 1))
            bpc = self.resolve(parm.get("/BitsPerComponent", 8))
            if bpc != 8:
                raise NotImplementedError(
                    "TIFF predictor 2 with sub-8-bit components"
                )
            if not all(isinstance(x, int) and 1 <= x <= 1 << 20
                       for x in (columns, colors)):
                raise ValueError("bad PDF predictor /Columns//Colors")
            row_len = columns * colors
            if row_len == 0 or len(raw) % row_len:
                raise ValueError(
                    f"TIFF-predictor rows misaligned: {len(raw)} bytes vs "
                    f"{row_len}-byte rows"
                )
            from .tiff import _undiff

            out = bytearray(raw)
            rows = memoryview(out)
            for r0 in range(0, len(out), row_len):
                _undiff(rows[r0 : r0 + row_len], colors)
            return bytes(out)
        if not (isinstance(pred, int) and pred >= 10):
            raise ValueError(f"bad PDF /Predictor {pred!r}")
        import numpy as np

        from .png import _unfilter

        columns = self.resolve(parm.get("/Columns", 1))
        colors = self.resolve(parm.get("/Colors", 1))
        bpc = self.resolve(parm.get("/BitsPerComponent", 8))
        if not all(isinstance(x, int) and 1 <= x <= 1 << 20
                   for x in (columns, colors, bpc)):
            raise ValueError("bad PDF predictor /Columns//Colors//BPC")
        row_len = (columns * colors * bpc + 7) // 8
        bpp = max(1, (colors * bpc + 7) // 8)
        if row_len == 0 or len(raw) % (row_len + 1):
            raise ValueError(
                f"PDF predictor rows misaligned: {len(raw)} bytes is not "
                f"a multiple of {row_len + 1}"
            )
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(-1, row_len + 1)
        prev = np.zeros(row_len, dtype=np.int32)
        out = bytearray()
        for row in arr:
            prev = _unfilter(row[1:].astype(np.int32), prev, int(row[0]), bpp)
            out += prev.astype(np.uint8).tobytes()
        return bytes(out)

    def pages(self) -> list[dict]:
        """Page dictionaries in /Kids order from the Root page tree."""
        root = None
        for m in re.finditer(rb"/Root\s+(\d+)\s+(\d+)\s+R", self.data):
            root = ("ref", int(m.group(1)), int(m.group(2)))
        if root is None:
            # fixture-grade PDFs may lack a trailer: fall back to the
            # first /Type /Catalog object in the scan
            for key in self.offsets:
                val = self.resolve(("ref",) + key)
                if isinstance(val, dict) and val.get("/Type") == "/Catalog":
                    root = ("ref",) + key
                    break
        if root is None:
            raise ValueError("PDF has no document catalog")
        catalog = self.resolve(root)
        if not isinstance(catalog, dict) or "/Pages" not in catalog:
            raise ValueError("PDF catalog has no /Pages tree")
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node_ref, depth: int = 0) -> None:
            # The cycle check only catches revisits; a hostile non-cyclic
            # tree nested thousands deep would otherwise blow Python's
            # recursion limit with an uncaught RecursionError instead of
            # the ValueError this module contracts for corruption.
            if depth > 64:
                raise ValueError("PDF page tree nested deeper than 64 levels")
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                raise ValueError("PDF page-tree node is not a dictionary")
            if id(node) in seen:
                raise ValueError("cycle in PDF page tree")
            seen.add(id(node))
            t = node.get("/Type")
            if t == "/Page":
                out.append(node)
            elif t == "/Pages":
                kids = self.resolve(node.get("/Kids"))
                if not isinstance(kids, list):
                    raise ValueError("PDF /Pages node has no /Kids array")
                for k in kids:
                    walk(k, depth + 1)
            else:
                raise ValueError(f"bad PDF page-tree node type {t!r}")

        walk(catalog["/Pages"])
        return out

    def page_images(self, page: dict) -> list[dict]:
        """Image XObjects of one page, decoded to 8-bit samples:
        /Resources → /XObject entries with /Subtype /Image, each a
        stream whose filter chain ends in sample bytes (FlateDecode /
        RunLengthDecode / LZWDecode raws, or DCTDecode through the
        in-repo baseline JPEG decoder, or CCITTFaxDecode bilevel
        rasters through fax.py). Returns dicts with name, width,
        height, n_components, and the interleaved row-major samples;
        sample length is validated against the geometry so a wrong
        filter chain cannot pass silently. 8-bit components in the
        device color spaces, 1-bit /DeviceGray (expanded 0/255
        through the /Decode array), and 2/4-bit packed samples for
        Indexed palettes / plain gray (TIFF bit-unpack) are
        in scope; 16-bit and sub-8 direct multi-component raise the
        documented NotImplementedError."""
        res = self.resolve(page.get("/Resources"))
        if res is None:
            return []
        if not isinstance(res, dict):
            raise ValueError("PDF /Resources is not a dictionary")
        xobjs = self.resolve(res.get("/XObject"))
        if xobjs is None:
            return []
        if not isinstance(xobjs, dict):
            raise ValueError("PDF /XObject resource is not a dictionary")
        out: list[dict] = []
        for name in sorted(xobjs):
            ref = xobjs[name]
            if not (isinstance(ref, tuple) and ref and ref[0] == "ref"):
                raise ValueError(f"PDF XObject {name} is not an indirect ref")
            info = self.resolve(ref)
            if not isinstance(info, dict) or info.get("/Subtype") != "/Image":
                continue  # form XObjects etc. carry no pixels
            width = self.resolve(info.get("/Width"))
            height = self.resolve(info.get("/Height"))
            if not all(isinstance(x, int) and 0 < x <= 1 << 16
                       for x in (width, height)):
                raise ValueError(f"bad PDF image geometry in {name}")
            bpc = self.resolve(info.get("/BitsPerComponent", 8))
            if bpc == 16:
                raise NotImplementedError(
                    "16-bit PDF image components are out of honest scope"
                )
            if bpc not in (1, 2, 4, 8):
                raise ValueError(f"illegal PDF BitsPerComponent {bpc!r}")
            cs = self.resolve(info.get("/ColorSpace"))
            lookup = None
            if self.resolve(info.get("/ImageMask")) is True:
                # stencil mask (§8.9.6.2): 1-bit, NO color space — the
                # scanner-PDF shape (a CCITTFax strip painted through
                # the fill color). Extracted as bilevel gray through
                # the same 1-bit /Decode path; sample 0 paints, so the
                # default [0 1] lands ink at gray 0 like photometric-0
                # fax files do
                if self.resolve(info.get("/BitsPerComponent")) is None:
                    bpc = 1  # implied by ImageMask (§8.9.6.2)
                if bpc != 1:
                    raise ValueError(
                        f"PDF ImageMask {name} with BitsPerComponent {bpc}"
                    )
                if cs is not None:
                    raise ValueError(
                        f"PDF ImageMask {name} declares a color space"
                    )
                cs = "/DeviceGray"
            if (
                isinstance(cs, list)
                and len(cs) == 4
                and self.resolve(cs[0]) == "/Indexed"
            ):
                # [/Indexed base hival lookup]: the palette is FILE data
                # (§8.6.6.3) — a string or a stream of base-space samples
                base = self.resolve(cs[1])
                hival = self.resolve(cs[2])
                base_n = {"/DeviceGray": 1, "/DeviceRGB": 3,
                          "/DeviceCMYK": 4}.get(base)
                if base_n is None:
                    raise NotImplementedError(
                        f"Indexed base space {base!r} outside device spaces"
                    )
                if not (isinstance(hival, int) and 0 <= hival <= 255):
                    raise ValueError(f"bad Indexed hival {hival!r}")
                lk = cs[3]
                if isinstance(lk, tuple) and lk and lk[0] == "ref":
                    resolved = self.resolve(lk)
                    if isinstance(resolved, bytes):
                        table = resolved
                    else:
                        table = self.stream_bytes((lk[1], lk[2]))
                elif isinstance(lk, bytes):
                    table = lk
                else:
                    raise ValueError("bad Indexed lookup entry")
                if len(table) < (hival + 1) * base_n:
                    raise ValueError(
                        f"Indexed lookup has {len(table)} bytes for "
                        f"{hival + 1} x {base_n} entries"
                    )
                lookup = (table, hival, base_n)
                ncomp = base_n
            else:
                if not isinstance(cs, str):
                    # an array that is not a well-formed /Indexed entry
                    # (fuzz-found: corrupt hival/lookup shapes)
                    raise ValueError(f"malformed PDF /ColorSpace array {cs!r}")
                ncomp = {"/DeviceGray": 1, "/DeviceRGB": 3,
                         "/DeviceCMYK": 4}.get(cs)
                if ncomp is None:
                    raise NotImplementedError(
                        f"PDF image color space {cs!r} (ICC/separation) is "
                        "outside the device-space scope"
                    )
            samples = self.stream_bytes((ref[1], ref[2]))
            if bpc in (2, 4):
                # sub-8-bit packed samples (§8.9.5.2: MSB-first groups,
                # rows byte-padded), sharing the TIFF bit-unpack. In scope: Indexed palettes (any device
                # base — the INDEX is the single packed component) and
                # plain /DeviceGray under the default /Decode; direct
                # sub-8 multi-component and custom /Decode arrays stay
                # loud refusals.
                from .tiff import _unpack_idx

                if lookup is None and ncomp != 1:
                    raise NotImplementedError(
                        f"{bpc}-bit PDF images in {ncomp}-component "
                        "direct color spaces are out of scope"
                    )
                if self.resolve(info.get("/Decode")) is not None:
                    raise NotImplementedError(
                        f"/Decode arrays on {bpc}-bit PDF images"
                    )
                stride = (width * bpc + 7) >> 3
                if len(samples) != stride * height:
                    raise ValueError(
                        f"PDF {bpc}-bit image {name}: {len(samples)} "
                        f"packed bytes for {width}x{height} geometry"
                    )
                vals: list[int] = []
                for y in range(height):
                    vals += _unpack_idx(
                        samples[y * stride : (y + 1) * stride], width, bpc
                    )
                if lookup is None:
                    # plain gray: the exact-integer full-range mapping
                    # (x85 / x17), same convention as TIFF sub-8 gray
                    scale = 255 // ((1 << bpc) - 1)
                    vals = [v * scale for v in vals]
                samples = bytes(vals)
            if bpc == 1:
                # bilevel raster (CCITTFax or raw): rows byte-padded,
                # MSB first; expand to 8-bit gray per /Decode default
                # [0 1] — bit 0 is DeviceGray 0.0 (black), bit 1 white
                if lookup is not None or ncomp != 1:
                    raise NotImplementedError(
                        "1-bit PDF images outside plain /DeviceGray "
                        "(palette/multi-component) are out of scope"
                    )
                stride = (width + 7) >> 3
                if len(samples) != stride * height:
                    raise ValueError(
                        f"PDF bilevel image {name}: {len(samples)} packed "
                        f"bytes for {width}x{height} geometry"
                    )
                dec = self.resolve(info.get("/Decode"))
                if dec is None:
                    lo, hi = 0, 255
                elif (
                    isinstance(dec, list)
                    and len(dec) == 2
                    and all(self.resolve(d) in (0, 1) for d in dec)
                ):
                    lo = 255 * self.resolve(dec[0])
                    hi = 255 * self.resolve(dec[1])
                else:
                    raise ValueError(f"bad 1-bit /Decode array {dec!r}")
                gray = bytearray([lo]) * (width * height)
                for y in range(height):
                    base = y * stride
                    orow = y * width
                    for x in range(width):
                        if samples[base + (x >> 3)] & (0x80 >> (x & 7)):
                            gray[orow + x] = hi
                samples = bytes(gray)
            if lookup is not None:
                table, hival, base_n = lookup
                if len(samples) != width * height:
                    raise ValueError(
                        f"PDF Indexed image {name}: {len(samples)} index "
                        f"bytes for {width}x{height} geometry"
                    )
                mapped = bytearray()
                for idx in samples:
                    if idx > hival:
                        raise ValueError(
                            f"Indexed sample {idx} exceeds hival {hival}"
                        )
                    mapped += table[idx * base_n : (idx + 1) * base_n]
                samples = bytes(mapped)
            if len(samples) != width * height * ncomp:
                raise ValueError(
                    f"PDF image {name}: {len(samples)} sample bytes for "
                    f"{width}x{height}x{ncomp} geometry"
                )
            out.append(
                {
                    "name": name,
                    "width": width,
                    "height": height,
                    "n_components": ncomp,
                    "samples": samples,
                }
            )
        return out


def _page_content(doc: "_Document", page: dict) -> bytes:
    """Concatenated decoded /Contents streams of one page (streams are
    token-delimited at joins per the spec)."""
    raw_contents = page.get("/Contents")
    if raw_contents is None:
        return b""
    if isinstance(raw_contents, tuple) and raw_contents[0] == "ref":
        val = doc.resolve(raw_contents)
        refs = val if isinstance(val, list) else [raw_contents]
    elif isinstance(raw_contents, list):
        refs = raw_contents
    else:
        raise ValueError("bad PDF /Contents entry")
    body = bytearray()
    for r in refs:
        if not (isinstance(r, tuple) and r and r[0] == "ref"):
            raise ValueError("PDF /Contents entry is not a stream ref")
        body += doc.stream_bytes((r[1], r[2]))
        body += b"\n"
    return bytes(body)


def extract_pdf_images(content: bytes) -> list[list[dict]]:
    """Decoded images per page, in page-tree order — the image half of
    corpus PDF ingest (the text half is extract_pdf_text): image
    XObjects from /Resources AND inline BI/ID/EI images from the
    content streams (§8.9.7 — how real generators embed small
    bitmaps). Each page is a list of sample dicts. The total decoded
    volume shares the MAX_TEXT_BYTES bound so a hostile PDF packed
    with images cannot balloon executor memory."""
    doc = _Document(content)
    out: list[list[dict]] = []
    total = 0

    def bump(n: int) -> None:
        nonlocal total
        total += n
        if total > MAX_TEXT_BYTES:
            raise ValueError(
                f"PDF image samples exceed the {MAX_TEXT_BYTES}-byte bound"
            )

    for page in doc.pages():
        imgs = doc.page_images(page)
        bump(sum(len(i["samples"]) for i in imgs))
        k = 0
        for kind, val in _tokenize_content(_page_content(doc, page)):
            if kind != "inlimg":
                continue
            params, raw = val
            # bound INSIDE the loop: many small /Fl bombs must trip the
            # cap before they accumulate, not after the page finishes
            bump(len(raw))
            imgs.append(
                {
                    "name": f"__inline{k}",
                    "width": params["/W"],
                    "height": params["/H"],
                    "n_components": params["_ncomp"],
                    "samples": raw,
                }
            )
            k += 1
        out.append(imgs)
    return out


_INLINE_CS = {"/G": 1, "/DeviceGray": 1, "/RGB": 3, "/DeviceRGB": 3,
              "/CMYK": 4, "/DeviceCMYK": 4}


def _parse_inline_image(lex: "_Lexer") -> tuple[dict, bytes]:
    """BI ... ID <raw> EI (§8.9.7): key/value pairs with the
    abbreviated names, then raw sample data whose extent is computed
    (uncompressed) or discovered by the zlib stream's own end (/Fl).
    Returns (params, decoded samples)."""
    d = lex.data
    params: dict = {}
    while True:
        lex._skip_ws()
        if d.startswith(b"ID", lex.pos):
            lex.pos += 2
            break
        if lex.pos >= len(d):
            raise ValueError("inline image missing ID")
        key = lex._parse_name()
        params[key] = lex.parse()
    if lex.pos < len(d) and d[lex.pos] in _WS:
        lex.pos += 1  # exactly one whitespace after ID
    w = params.get("/W", params.get("/Width"))
    h = params.get("/H", params.get("/Height"))
    bpc = params.get("/BPC", params.get("/BitsPerComponent", 8))
    cs = params.get("/CS", params.get("/ColorSpace", "/G"))
    filt = params.get("/F", params.get("/Filter"))
    if not all(isinstance(x, int) and 0 < x <= 1 << 12 for x in (w, h)):
        raise ValueError(f"bad inline image geometry {w!r}x{h!r}")
    if bpc != 8:
        raise NotImplementedError(
            f"{bpc}-bit inline image components (8-bit decodes honestly)"
        )
    ncomp = _INLINE_CS.get(cs)
    if ncomp is None:
        raise NotImplementedError(
            f"inline image color space {cs!r} outside the device spaces"
        )
    need = w * h * ncomp
    if need > MAX_TEXT_BYTES:
        raise ValueError("inline image exceeds the decode bound")
    if filt in ("/Fl", "/FlateDecode"):
        dec = zlib.decompressobj()
        try:
            raw = dec.decompress(d[lex.pos :], need + 1)
        except zlib.error as exc:
            raise ValueError(f"bad inline image Flate data: {exc}") from None
        if not dec.eof:
            raise ValueError("inline image Flate stream did not terminate")
        consumed = len(d) - lex.pos - len(dec.unused_data)
        lex.pos += consumed
    elif filt is None:
        raw = d[lex.pos : lex.pos + need]
        lex.pos += need
    else:
        raise NotImplementedError(
            f"inline image filter {filt!r} (only /Fl and raw decode here; "
            "big images belong in XObjects)"
        )
    if len(raw) != need:
        raise ValueError(
            f"inline image has {len(raw)} sample bytes for "
            f"{w}x{h}x{ncomp} geometry"
        )
    lex._skip_ws()
    if not d.startswith(b"EI", lex.pos):
        raise ValueError("inline image missing EI terminator")
    lex.pos += 2
    params["/W"], params["/H"] = w, h
    params["_ncomp"] = ncomp
    return params, raw


def _tokenize_content(data: bytes):
    """Yield ('str', bytes) / ('num', float) / ('op', name) /
    ('arr', list) / ('inlimg', (params, samples)) tokens from a
    content stream."""
    lex = _Lexer(data)
    d = data
    while True:
        lex._skip_ws()
        if lex.pos >= len(d):
            return
        c = d[lex.pos : lex.pos + 1]
        if c == b"(":
            yield ("str", lex._parse_string())
        elif c == b"<" and d[lex.pos : lex.pos + 2] != b"<<":
            yield ("str", lex._parse_hex_string())
        elif c == b"<":
            yield ("dict", lex._parse_dict())
        elif c == b"[":
            yield ("arr", lex._parse_array())
        elif c == b"/":
            yield ("name", lex._parse_name())
        elif re.match(rb"[+-.\d]", c):
            yield ("num", lex._parse_number_or_ref())
        else:
            m = re.match(rb"[A-Za-z'\"*][A-Za-z0-9'\"*]*", d[lex.pos :])
            if not m:
                raise ValueError(
                    f"unparsable PDF content token {d[lex.pos:lex.pos + 8]!r}"
                )
            lex.pos += m.end()
            op = m.group(0).decode("latin-1")
            if op == "BI":
                # raw sample bytes follow — they MUST be consumed here
                # or they would shred the token stream
                yield ("inlimg", _parse_inline_image(lex))
            else:
                yield ("op", op)


# --------------------------------------------------------- font encodings
#: the AGL names a spec-subset extractor must know without the full
#: 4000-entry Adobe Glyph List: ASCII letters name themselves, and these
#: are the published names of the remaining printable-ASCII glyphs
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
}

_BASE_CODECS = {
    None: "latin-1",  # no /Encoding: built-in ≈ Standard, latin-1 subset
    "/WinAnsiEncoding": "cp1252",
    "/MacRomanEncoding": "mac_roman",
}


def _glyph_char(name: str) -> str:
    """Glyph name → character: single ASCII letters name themselves,
    uniXXXX / uXXXX[XX] are algorithmic per the AGL specification, and
    the printable-ASCII table covers the rest; anything else (the long
    tail of the full AGL) is an honest refusal."""
    n = name.lstrip("/")
    if len(n) == 1 and (n.isalpha() or n.isdigit()):
        return n
    if n in _GLYPH_NAMES:
        return _GLYPH_NAMES[n]
    if n.startswith("uni") and len(n) == 7:
        try:
            return chr(int(n[3:], 16))
        except ValueError:
            pass
    if n.startswith("u") and 5 <= len(n) <= 7:
        try:
            return chr(int(n[1:], 16))
        except ValueError:
            pass
    raise NotImplementedError(
        f"glyph name {name!r} is outside the AGL subset (ASCII + uniXXXX)"
    )


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap's bfchar/bfrange sections into a
    code → text map (destinations are UTF-16BE, possibly multi-char).
    Spec-subset of the CMap grammar real generators emit."""
    out: dict[int, str] = {}

    def utf16(hexs: bytes) -> str:
        try:
            return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be")
        except (ValueError, UnicodeDecodeError) as exc:
            raise ValueError(f"bad ToUnicode destination <{hexs!r}>: {exc}")

    for section in re.finditer(
        rb"beginbfchar(.*?)endbfchar", data, re.DOTALL
    ):
        pairs = re.findall(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                           section.group(1))
        for src, dst in pairs:
            out[int(src, 16)] = utf16(dst)
    array_re = re.compile(
        rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\]"
    )
    for section in re.finditer(
        rb"beginbfrange(.*?)endbfrange", data, re.DOTALL
    ):
        body = section.group(1)
        # array form FIRST, and blanked out of the body before the
        # triple scan — the destination list is itself a run of hex
        # strings, so a naive triple regex would match INSIDE it and
        # flood the map with phantom ranges (soak-found: a destination
        # pair like <00E9> <4E2D> <6587> spanned the real codes)
        for lo, hi, arr in array_re.findall(body):
            dsts = re.findall(rb"<([0-9A-Fa-f]+)>", arr)
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if len(dsts) != hi_i - lo_i + 1:
                raise ValueError("ToUnicode bfrange array length mismatch")
            for k, d in enumerate(dsts):
                out[lo_i + k] = utf16(d)
        body = array_re.sub(b"", body)
        # triple form: <lo> <hi> <dst>
        for lo, hi, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", body
        ):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i - lo_i > 0xFFFF:
                raise ValueError("ToUnicode bfrange unreasonably wide")
            base = utf16(dst)
            if not base:
                raise ValueError("empty ToUnicode bfrange destination")
            for k in range(hi_i - lo_i + 1):
                out[lo_i + k] = base[:-1] + chr(ord(base[-1]) + k)
    return out


def _font_decoder(doc: "_Document", font: dict):
    """Build a string-bytes → text decoder for one font dictionary.
    Precedence per the spec's text-extraction guidance: /ToUnicode
    wins, then /Encoding /Differences over the base encoding, then the
    base encoding itself. Composite /Type0 fonts decode 2-byte
    Identity-H codes through their /ToUnicode CMap (how real Unicode
    PDFs carry text); other CMap encodings are honest refusals."""
    tou: dict[int, str] | None = None
    tou_ref = font.get("/ToUnicode")
    if isinstance(tou_ref, tuple) and tou_ref and tou_ref[0] == "ref":
        tou = _parse_tounicode(doc.stream_bytes((tou_ref[1], tou_ref[2])))
    if font.get("/Subtype") == "/Type0":
        enc = doc.resolve(font.get("/Encoding"))
        if enc not in ("/Identity-H", "/Identity-V"):
            raise NotImplementedError(
                f"Type0 font /Encoding {enc!r} needs a predefined CMap "
                "(only Identity-H/V + /ToUnicode decode honestly)"
            )
        if tou is None:
            raise NotImplementedError(
                "Type0 font without /ToUnicode cannot map to text"
            )

        def dec0(bs: bytes) -> str:
            if len(bs) % 2:
                raise ValueError("odd-length Identity-H string")
            out = []
            for i in range(0, len(bs), 2):
                code = (bs[i] << 8) | bs[i + 1]
                if code not in tou:
                    raise ValueError(
                        f"Identity-H code {code} missing from /ToUnicode"
                    )
                out.append(tou[code])
            return "".join(out)

        return dec0
    enc = doc.resolve(font.get("/Encoding"))
    base = None
    diffs: dict[int, str] = {}
    if isinstance(enc, str):
        base = enc
    elif isinstance(enc, dict):
        base = doc.resolve(enc.get("/BaseEncoding"))
        darr = doc.resolve(enc.get("/Differences"))
        if darr is not None:
            if not isinstance(darr, list):
                raise ValueError("PDF /Differences is not an array")
            code = None
            for item in darr:
                if isinstance(item, (int, float)):
                    code = int(item)
                    if not 0 <= code <= 255:
                        raise ValueError(f"/Differences code {code}")
                elif isinstance(item, str):
                    if code is None:
                        raise ValueError("/Differences name before code")
                    diffs[code] = _glyph_char(item)
                    code += 1
                else:
                    raise ValueError("bad /Differences entry")
    elif enc is not None:
        raise ValueError("bad PDF font /Encoding entry")
    if base not in _BASE_CODECS:
        raise NotImplementedError(
            f"font base encoding {base!r} (no stdlib codec; WinAnsi/"
            "MacRoman/built-in decode honestly)"
        )
    codec = _BASE_CODECS[base]

    def dec(bs: bytes) -> str:
        out = []
        for b in bs:
            if tou is not None and b in tou:
                out.append(tou[b])
            elif b in diffs:
                out.append(diffs[b])
            else:
                try:
                    out.append(bytes([b]).decode(codec))
                except UnicodeDecodeError:
                    raise ValueError(
                        f"byte 0x{b:02x} undefined in {codec}"
                    ) from None
        return "".join(out)

    return dec


def _page_fonts(doc: "_Document", page: dict) -> dict:
    """Name → decoder for the page's /Resources /Font entries."""
    res = doc.resolve(page.get("/Resources"))
    if not isinstance(res, dict):
        return {}
    fonts = doc.resolve(res.get("/Font"))
    if fonts is None:
        return {}
    if not isinstance(fonts, dict):
        raise ValueError("PDF /Font resource is not a dictionary")
    out = {}
    for name, ref in fonts.items():
        fd = doc.resolve(ref)
        if not isinstance(fd, dict):
            raise ValueError(f"PDF font {name} is not a dictionary")
        out[name] = _font_decoder(doc, fd)
    return out


def _default_decoder(bs: bytes) -> str:
    return bs.decode("latin-1")


def extract_pdf_text(content: bytes) -> str:
    """Extract the text layer of a classic-layout PDF: pages in tree
    order (pages joined by form feed "\\f"), text-show strings in
    content order, lines broken by Td/TD with dy != 0, T*, ' and ".
    TJ kerning numbers emit nothing (spacing hints, not glyphs).
    Strings decode through the Tf-selected font's encoding machinery
    (/ToUnicode CMaps, /Differences over WinAnsi/MacRoman bases,
    Type0 Identity-H); content that names no font keeps the latin-1
    built-in approximation."""
    doc = _Document(content)
    pages_text: list[str] = []
    total = 0
    for page in doc.pages():
        if page.get("/Contents") is None:
            pages_text.append("")
            continue
        body = _page_content(doc, page)
        total += len(body)
        if total > MAX_TEXT_BYTES:
            raise ValueError(
                f"PDF content streams exceed the {MAX_TEXT_BYTES}-byte bound"
            )
        fonts = _page_fonts(doc, page)
        decoder = _default_decoder
        lines: list[str] = []
        cur: list[str] = []
        cur_ty: float | None = None  # last Tm vertical position
        stack: list = []  # operand accumulator

        def endline() -> None:
            lines.append("".join(cur))
            cur.clear()

        for kind, val in _tokenize_content(bytes(body)):
            if kind != "op":
                stack.append((kind, val))
                continue
            if val == "Tf" and len(stack) >= 2 and stack[-2][0] == "name":
                # unresolvable names keep the latin-1 built-in (fixture
                # PDFs with no /Resources reference /F1 symbolically)
                decoder = fonts.get(stack[-2][1], _default_decoder)
            elif val == "Tj" and stack and stack[-1][0] == "str":
                cur.append(decoder(stack[-1][1]))
            elif val in ("'", '"') and stack and stack[-1][0] == "str":
                if cur:
                    endline()
                cur.append(decoder(stack[-1][1]))
            elif val == "TJ" and stack and stack[-1][0] == "arr":
                for item in stack[-1][1]:
                    if isinstance(item, bytes):
                        cur.append(decoder(item))
            elif val in ("Td", "TD"):
                dy = stack[-1][1] if len(stack) >= 1 and stack[-1][0] == "num" else 0
                if dy != 0 and cur:
                    endline()
            elif val == "Tm":
                # text matrix set (the absolute positioning real
                # generators emit): a vertical move = new line
                if (
                    len(stack) >= 6
                    and all(k == "num" for k, _ in stack[-6:])
                ):
                    ty = stack[-1][1]
                    if cur and ty != cur_ty:
                        endline()
                    cur_ty = ty
            elif val == "T*":
                if cur:
                    endline()
            elif val == "ET":
                if cur:
                    endline()
            stack.clear()
        if cur:
            endline()
        pages_text.append("\n".join(lines))
    return "\f".join(pages_text)


# --------------------------------------------------------------- writer
def _utf16_hex(c: str) -> str:
    """One character as the UTF-16BE hex a ToUnicode destination holds."""
    return c.encode("utf-16-be").hex().upper()


def _escape_string(s: bytes) -> bytes:
    out = bytearray()
    for b in s:
        if b in b"()\\":
            out += b"\\" + bytes([b])
        elif b == 10:
            out += b"\\n"
        elif b == 13:
            out += b"\\r"
        elif b < 32 or b > 126:
            out += ("\\%03o" % b).encode()
        else:
            out.append(b)
    return bytes(out)


def write_pdf(
    pages: list[list[str]],
    *,
    compress: bool = True,
    use_tj_array: bool = False,
    use_tm: bool = False,
    hex_strings: bool = False,
    ascii85: bool = False,
    encrypt_rc4: bool = False,
    encrypt_aes: bool = False,
    encrypt_aes256: bool = False,
    user_password: bytes = b"",
    xref_stream: bool = False,
    objstm: bool = False,
    images: list[list[dict]] | None = None,
    font: str | None = None,
) -> bytes:
    """Write a PDF whose text layer is ``pages`` (a list of pages, each
    a list of text lines). Spec-subset but real: proper object graph,
    page tree, xref and trailer; content streams use BT/Td/Tj/T*/ET
    (or TJ arrays / hex strings / an ASCII85+Flate filter chain under
    the knobs, so the extractor's alternate paths round-trip).
    ``encrypt_rc4`` applies the Standard security handler (V2/R3,
    128-bit RC4, filter-then-encrypt order), ``encrypt_aes`` its V4
    /AESV2 crypt filter (AES-128-CBC, IV || PKCS#7-padded blocks), and
    ``encrypt_aes256`` its V5/R6 form (AES-256, Algorithm 2.B KDF,
    /UE //OE key wraps, /Perms); a non-empty ``user_password``
    produces a user-locked document (still owner-openable under V5,
    whose owner password here is empty — corrupt /O to fully lock). ``xref_stream`` emits the PDF 1.5 layout: a
    /Type /XRef cross-reference stream (W=[1 3 2], PNG Up predictor
    12) instead of the classic table+trailer; ``objstm`` (implies
    ``xref_stream``) additionally packs every non-stream object into a
    /Type /ObjStm located by type-2 xref entries — the post-2003
    layout most real-world PDFs use (ISO 32000 §7.5.7-7.5.8).
    ``images``, when given, is per-page: each entry a dict either
    ``{"kind": "jpeg", "data": <baseline JPEG bytes>, "width", "height",
    "ncomp"}`` (embedded verbatim under /Filter /DCTDecode, the way
    real generators embed photos) or ``{"kind": "raw", "pixels":
    <8-bit samples>, "width", "height", "ncomp", "filter": "flate" |
    "rle" | "lzw" | None}``; each becomes an image XObject referenced
    from the page /Resources and drawn with a ``q cm Do Q`` sequence
    after the text block.
    ``font`` selects how string bytes encode (the extractor must map
    them back through the font machinery): None keeps the bare-latin-1
    fixture shape (no /Font resource); ``"winansi"``/``"macroman"``
    declare a simple font with that base /Encoding and encode text
    with the matching stdlib codec; ``"differences"`` remaps the
    document's whole charset to codes 161+ via an /Encoding
    /Differences array of uniXXXX names (so nothing decodes without
    consulting the map); ``"type0"`` emits a composite Identity-H font
    with 2-byte codes in a high CID block and a /ToUnicode CMap using
    BOTH bfchar and array-form bfrange sections."""
    if objstm:
        xref_stream = True
    if encrypt_rc4 + encrypt_aes + encrypt_aes256 > 1:
        raise ValueError(
            "choose one of encrypt_rc4 / encrypt_aes / encrypt_aes256"
        )
    enc = None
    _enc_stream = None
    v5_extra = None  # (ue, oe, perms) for the V5 dictionary
    if encrypt_rc4 or encrypt_aes or encrypt_aes256:
        import hashlib

        doc_id = hashlib.md5(repr(pages).encode()).digest()
        p_val = -3904  # standard permissive permission bits
        if encrypt_aes256:
            # V5/R6: the file key is random in the spec (deterministic
            # here for reproducible fixtures) and wrapped via the SHA-2
            # hardened hash of each password (ISO 32000-2 algorithms
            # 8/9); empty owner password keeps the doc owner-openable.
            # Salts and key are doc-INDEPENDENT on purpose: Algorithm
            # 2.B is an anti-brute-force KDF, and fixed inputs let the
            # lru_cache on _hash_2b derive it once per worker across a
            # whole corpus — per-doc encryption still differs via
            # content and IVs.
            file_key = (
                hashlib.md5(b"graft-v5-K1").digest()
                + hashlib.md5(b"graft-v5-K2").digest()
            )
            vs = hashlib.md5(b"graft-v5-vs").digest()[:8]
            ks = hashlib.md5(b"graft-v5-ks").digest()[:8]
            vso = hashlib.md5(b"graft-v5-vo").digest()[:8]
            kso = hashlib.md5(b"graft-v5-ko").digest()[:8]
            pw = user_password[:127]
            u_val = _hash_2b(pw, vs, b"") + vs + ks
            ue_val = _aes_cbc_encrypt(
                _hash_2b(pw, ks, b""), bytes(16), file_key, pad=False
            )
            o_val = _hash_2b(b"", vso, u_val) + vso + kso
            oe_val = _aes_cbc_encrypt(
                _hash_2b(b"", kso, u_val), bytes(16), file_key, pad=False
            )
            perms_val = _aes_ecb_block(
                file_key,
                (p_val & 0xFFFFFFFF).to_bytes(4, "little")
                + b"\xff\xff\xff\xffTadbripp"[:12],
            )
            v5_extra = (ue_val, oe_val, perms_val)
        else:
            enc_r = 4 if encrypt_aes else 3
            o_val = _std_o_value(b"", user_password, enc_r, 16)
            file_key = _std_file_key(
                user_password, o_val, p_val, doc_id, enc_r, 16
            )
            u_val = _std_u_value(file_key, doc_id, enc_r)
        enc = (file_key, o_val, u_val, p_val, doc_id)

        def _enc_stream(stream: bytes, num: int) -> bytes:
            if encrypt_aes or encrypt_aes256:
                # deterministic IV (writer-side only; any IV is valid)
                iv = hashlib.md5(
                    doc_id + num.to_bytes(3, "little") + b"iv"
                ).digest()
                key = (
                    file_key
                    if encrypt_aes256
                    else _object_key(file_key, num, 0, aes=True)
                )
                return _aes_cbc_encrypt(key, iv, stream)
            return _rc4(_object_key(file_key, num, 0), stream)
    objs: list[tuple[bytes, bool]] = []

    def add(body: bytes, compressed: bool = False) -> int:
        objs.append((body, compressed))
        return len(objs)  # 1-based object number

    n_pages = len(pages)
    # reserve: 1 catalog, 2 pages-node; page i -> obj 3+2i, content 4+2i;
    # image XObjects follow the pages in global order from 3+2*n_pages
    page_refs = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    if images is not None and len(images) != n_pages:
        raise ValueError("images must have one (possibly empty) list per page")
    img_specs = images if images is not None else [[] for _ in range(n_pages)]
    img_names: list[list[tuple[str, int] | None]] = []
    _gi = 0
    for _per_page in img_specs:
        _row: list[tuple[str, int] | None] = []
        for _spec in _per_page:
            if _spec.get("inline"):
                _row.append(None)  # BI/ID/EI in the content stream
            else:
                _row.append((f"Im{_gi}", 3 + 2 * n_pages + _gi))
                _gi += 1
        img_names.append(_row)
    # font objects follow the images; the encoder turns line text into
    # string bytes per the selected mode
    font_num = 3 + 2 * n_pages + _gi
    charset = sorted({ch for pg in pages for ln in pg for ch in ln})
    if font is None:
        def enc_text(s: str) -> bytes:
            return s.encode("latin-1")

        font_res = ""
    elif font in ("winansi", "macroman"):
        _codec = "cp1252" if font == "winansi" else "mac_roman"

        def enc_text(s: str) -> bytes:
            return s.encode(_codec)

        font_res = f"/Font << /F1 {font_num} 0 R >>"
    elif font == "differences":
        if len(charset) > 94:
            raise ValueError(
                "differences font mode holds <= 94 distinct characters"
            )
        _code_of = {c: 161 + i for i, c in enumerate(charset)}

        def enc_text(s: str) -> bytes:
            return bytes(_code_of[c] for c in s)

        font_res = f"/Font << /F1 {font_num} 0 R >>"
    elif font == "type0":
        _cid_of = {c: 0x4E01 + i for i, c in enumerate(charset)}

        def enc_text(s: str) -> bytes:
            return b"".join(_cid_of[c].to_bytes(2, "big") for c in s)

        font_res = f"/Font << /F1 {font_num} 0 R >>"
    else:
        raise ValueError(f"bad font mode {font!r}")
    add(b"<< /Type /Catalog /Pages 2 0 R >>", objstm)
    add(
        f"<< /Type /Pages /Kids [{page_refs}] /Count {n_pages} >>".encode(),
        objstm,
    )
    for i, lines in enumerate(pages):
        content_num = 4 + 2 * i
        res_parts = []
        xobj_refs = [e for e in img_names[i] if e is not None]
        if xobj_refs:
            xo = " ".join(f"/{nm} {num} 0 R" for nm, num in xobj_refs)
            res_parts.append(f"/XObject << {xo} >>")
        if font_res:
            res_parts.append(font_res)
        res = f" /Resources << {' '.join(res_parts)} >>" if res_parts else ""
        add(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_num} 0 R{res} >>".encode(),
            objstm,
        )
        if use_tm:
            ops = [b"BT /F1 12 Tf"]
        else:
            ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            raw = enc_text(line)
            if use_tm:
                # absolute positioning via the text matrix — the op
                # real generators emit per line
                ops.append(b"1 0 0 1 72 %d Tm" % (720 - 14 * j))
            elif j > 0:
                ops.append(b"0 -14 Td")
            if use_tj_array and " " in line:
                # split the TEXT (not the bytes): a multi-byte font code
                # may legitimately contain 0x20
                parts = line.split(" ")
                arr = b" -250 ".join(
                    b"("
                    + _escape_string(
                        enc_text(p + (" " if k < len(parts) - 1 else ""))
                    )
                    + b")"
                    for k, p in enumerate(parts)
                )
                ops.append(b"[" + arr + b"] TJ")
            elif hex_strings:
                ops.append(b"<" + raw.hex().encode() + b"> Tj")
            else:
                ops.append(b"(" + _escape_string(raw) + b") Tj")
        ops.append(b"ET")
        for k, entry in enumerate(img_names[i]):
            spec = img_specs[i][k]
            if entry is None:
                # inline image (§8.9.7): abbreviated keys, one
                # whitespace after ID, raw or /Fl sample data
                body = spec["pixels"]
                csname = {1: "/G", 3: "/RGB", 4: "/CMYK"}[
                    spec.get("ncomp", 1)
                ]
                if spec.get("filter") == "flate":
                    body = zlib.compress(body)
                    fdecl = b" /F /Fl"
                elif spec.get("filter") is None:
                    fdecl = b""
                else:
                    raise ValueError("inline images take flate or None")
                ops.append(
                    f"q {spec['width'] * 4} 0 0 {spec['height'] * 4} "
                    f"{60 + 90 * k} 80 cm".encode()
                )
                ops.append(
                    f"BI /W {spec['width']} /H {spec['height']} /BPC 8 "
                    f"/CS {csname}".encode()
                    + fdecl + b" ID " + body + b" EI Q"
                )
                continue
            nm, _num = entry
            ops.append(
                f"q {spec['width'] * 4} 0 0 {spec['height'] * 4} "
                f"{60 + 90 * k} 80 cm /{nm} Do Q".encode()
            )
        stream = b"\n".join(ops)
        filters = []
        if compress:
            stream = zlib.compress(stream)
            filters.append("/FlateDecode")
        if ascii85:
            import base64

            stream = base64.a85encode(stream) + b"~>"
            filters.insert(0, "/ASCII85Decode")
        if enc is not None:  # filters first, encryption last (spec order)
            stream = _enc_stream(stream, content_num)
        if len(filters) == 1:
            fl = f" /Filter {filters[0]}"
        elif filters:
            fl = f" /Filter [{' '.join(filters)}]"
        else:
            fl = ""
        head = f"<< /Length {len(stream)}{fl} >>".encode()
        add(head + b"\nstream\n" + stream + b"\nendstream")
    for i, per_page in enumerate(img_specs):
        for k, spec in enumerate(per_page):
            if img_names[i][k] is None:
                continue  # inline: already emitted in the content stream
            _nm, num = img_names[i][k]
            ncomp = spec.get("ncomp", 1)
            cspace = {1: "/DeviceGray", 3: "/DeviceRGB", 4: "/DeviceCMYK"}
            if ncomp not in cspace:
                raise ValueError(f"bad image ncomp {ncomp}")
            cs_entry = None
            if spec["kind"] == "jpeg":
                body = spec["data"]
                fl = " /Filter /DCTDecode"
            elif spec["kind"] == "indexed":
                # [/Indexed base hival <hex lookup>] with index samples
                pal = spec["palette"]
                base = spec.get("base", "/DeviceRGB")
                bn = {"/DeviceGray": 1, "/DeviceRGB": 3,
                      "/DeviceCMYK": 4}[base]
                if len(pal) % bn:
                    raise ValueError("palette length misaligned with base")
                body = spec["indices"]
                if len(body) != spec["width"] * spec["height"]:
                    raise ValueError("indexed pixels do not match geometry")
                if max(body) >= len(pal) // bn:
                    raise ValueError("index exceeds palette size")
                ibits = spec.get("bits", 8)
                if ibits not in (2, 4, 8):
                    raise ValueError(f"bad indexed bits {ibits!r}")
                if ibits != 8:
                    # sub-8 index packing (MSB-first, rows byte-padded
                    # §8.9.5.2) via the TIFF bit-packer
                    if max(body) >= (1 << ibits):
                        raise ValueError("index exceeds declared depth")
                    from .tiff import _pack_gray

                    w = spec["width"]
                    body = b"".join(
                        _pack_gray(body[y * w : (y + 1) * w], w, ibits)
                        for y in range(spec["height"])
                    )
                cs_entry = (
                    f"[/Indexed {base} {len(pal) // bn - 1} <{pal.hex()}>]"
                )
                filt = spec.get("filter")
                if filt == "flate":
                    body = zlib.compress(body)
                    fl = " /Filter /FlateDecode"
                elif filt is None:
                    fl = ""
                else:
                    raise ValueError(f"bad indexed filter {filt!r}")
            elif spec["kind"] == "raw":
                body = spec["pixels"]
                if len(body) != spec["width"] * spec["height"] * ncomp:
                    raise ValueError("raw image pixels do not match geometry")
                rbits = spec.get("bits", 8)
                if rbits not in (2, 4, 8):
                    raise ValueError(f"bad raw bits {rbits!r}")
                if rbits != 8:
                    # sub-8 gray — pixels are the RAW small
                    # samples (0..2^bits-1), packed like the indexed leg
                    if ncomp != 1:
                        raise ValueError("sub-8-bit raw images are gray only")
                    if max(body) >= (1 << rbits):
                        raise ValueError("sample exceeds declared depth")
                    from .tiff import _pack_gray

                    w = spec["width"]
                    body = b"".join(
                        _pack_gray(body[y * w : (y + 1) * w], w, rbits)
                        for y in range(spec["height"])
                    )
                filt = spec.get("filter")
                if filt == "flate":
                    body = zlib.compress(body)
                    fl = " /Filter /FlateDecode"
                elif filt == "rle":
                    body = packbits_encode(body) + b"\x80"  # EOD
                    fl = " /Filter /RunLengthDecode"
                elif filt == "lzw":
                    body = _lzw_encode(body)
                    fl = " /Filter /LZWDecode"
                elif filt is None:
                    fl = ""
                else:
                    raise ValueError(f"bad image filter {filt!r}")
            elif spec["kind"] == "fax":
                # bilevel image under /Filter /CCITTFaxDecode (§7.4.6):
                # "rows" are 0/1 samples with 1 = black (or "encoded"
                # carries externally-produced fax bytes verbatim). The
                # coded stream always codes black runs as black; what
                # /BlackIs1 changes is the DECODED bit convention, so a
                # writer electing BlackIs1 pairs it with /Decode [1 0]
                # to keep the painted image identical — both halves of
                # that pairing are then on the reader's path.
                from .fax import encode_ccitt_pdf

                kk = spec.get("k", -1)
                balign = bool(spec.get("byte_align", False))
                body = spec.get("encoded")
                if body is None:
                    body = encode_ccitt_pdf(
                        spec["rows"], spec["width"], kk, byte_align=balign
                    )
                black1 = bool(spec.get("black_is_1", False))
                parms = (
                    f"/K {kk} /Columns {spec['width']} "
                    f"/Rows {spec['height']}"
                    + (" /BlackIs1 true" if black1 else "")
                    + (" /EncodedByteAlign true" if balign else "")
                    + (" /EndOfLine true" if kk > 0 else "")
                )
                fl = (
                    f" /Filter /CCITTFaxDecode /DecodeParms << {parms} >>"
                    + (" /Decode [1 0]" if black1 else "")
                    # stencil-mask form (§8.9.6.2): no color space, the
                    # raster paints through the fill color
                    + (" /ImageMask true" if spec.get("mask") else "")
                )
            else:
                raise ValueError(f"bad image kind {spec.get('kind')!r}")
            if enc is not None:
                body = _enc_stream(body, num)
            bpc = (
                1
                if spec["kind"] == "fax"
                else spec.get("bits", 8)
                if spec["kind"] in ("indexed", "raw")
                else 8
            )
            cs_part = (
                ""
                if spec.get("kind") == "fax" and spec.get("mask")
                else f"/ColorSpace {cs_entry or cspace[ncomp]} "
            )
            head = (
                f"<< /Type /XObject /Subtype /Image /Width {spec['width']} "
                f"/Height {spec['height']} "
                f"{cs_part}"
                f"/BitsPerComponent {bpc} /Length {len(body)}{fl} >>"
            ).encode()
            got = add(head + b"\nstream\n" + body + b"\nendstream")
            if got != num:
                raise AssertionError(
                    f"image object numbering drifted: {got} != {num}"
                )
    if font in ("winansi", "macroman"):
        base = "/WinAnsiEncoding" if font == "winansi" else "/MacRomanEncoding"
        got = add(
            (
                f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                f"/Encoding {base} >>"
            ).encode(),
            objstm,
        )
    elif font == "differences":
        names = " ".join("/uni%04X" % ord(c) for c in charset)
        got = add(
            (
                f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                f"/Encoding << /BaseEncoding /WinAnsiEncoding "
                f"/Differences [161 {names}] >> >>"
            ).encode(),
            objstm,
        )
    elif font == "type0":
        desc_num, tou_num = font_num + 1, font_num + 2
        got = add(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID "
                f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R] "
                f"/ToUnicode {tou_num} 0 R >>"
            ).encode(),
            objstm,
        )
        add(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GraftCID >>",
            objstm,
        )
        # the CMap exercises BOTH mapping forms: bfchar entries for the
        # first codes, one array-form bfrange for the remainder
        n_char = min(4, len(charset))
        bfchar = "".join(
            f"<{0x4E01 + i:04X}> <{_utf16_hex(c)}>\n"
            for i, c in enumerate(charset[:n_char])
        )
        cmap = (
            "/CIDInit /ProcSet findresource begin\n"
            "12 dict begin\nbegincmap\n"
            "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            f"{n_char} beginbfchar\n{bfchar}endbfchar\n"
        )
        if len(charset) > n_char:
            dsts = " ".join(
                f"<{_utf16_hex(c)}>" for c in charset[n_char:]
            )
            cmap += (
                "1 beginbfrange\n"
                f"<{0x4E01 + n_char:04X}> <{0x4E00 + len(charset):04X}> "
                f"[{dsts}]\nendbfrange\n"
            )
        cmap += "endcmap\nend\nend\n"
        stm = cmap.encode("ascii")
        tou_filter = ""
        if compress:
            stm = zlib.compress(stm)
            tou_filter = " /Filter /FlateDecode"
        if enc is not None:
            stm = _enc_stream(stm, tou_num)
        add(
            (
                f"<< /Length {len(stm)}{tou_filter} >>"
            ).encode()
            + b"\nstream\n" + stm + b"\nendstream"
        )
    if font is not None and got != font_num:
        raise AssertionError(
            f"font object numbering drifted: {got} != {font_num}"
        )
    trailer_extra = ""
    if enc is not None:
        _, o_val, u_val, p_val, doc_id = enc
        if encrypt_aes256:
            ue_val, oe_val, perms_val = v5_extra
            enc_body = (
                "<< /Filter /Standard /V 5 /R 6 /Length 256 "
                "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                "/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> "
                f"/OE <{oe_val.hex()}> /UE <{ue_val.hex()}> "
                f"/Perms <{perms_val.hex()}> /P {p_val} >>"
            )
        elif encrypt_aes:
            enc_body = (
                "<< /Filter /Standard /V 4 /R 4 /Length 128 "
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                "/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> /P {p_val} >>"
            )
        else:
            enc_body = (
                "<< /Filter /Standard /V 2 /R 3 /Length 128 "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> /P {p_val} >>"
            )
        enc_num = add(enc_body.encode())
        trailer_extra = (
            f" /Encrypt {enc_num} 0 R"
            f" /ID [<{doc_id.hex()}> <{doc_id.hex()}>]"
        )
    objstm_num = None
    objstm_index: dict[int, int] = {}  # objnum -> index within the ObjStm
    if objstm:
        compressed = [
            (num, body)
            for num, (body, comp) in enumerate(objs, start=1)
            if comp
        ]
        header = bytearray()
        payload = bytearray()
        for idx, (num, body) in enumerate(compressed):
            header += f"{num} {len(payload)} ".encode()
            payload += body + b" "
            objstm_index[num] = idx
        first = len(header)
        stm = bytes(header + payload)
        filters = " /Filter /FlateDecode"
        stm = zlib.compress(stm)
        objstm_num = len(objs) + 1
        if enc is not None:
            stm = _enc_stream(stm, objstm_num)
        objstm_num = add(
            (
                f"<< /Type /ObjStm /N {len(compressed)} /First {first} "
                f"/Length {len(stm)}{filters} >>"
            ).encode()
            + b"\nstream\n" + stm + b"\nendstream"
        )

    if not xref_stream:
        out = bytearray(b"%PDF-1.4\n")
        offsets = [0]
        for num, (body, _) in enumerate(objs, start=1):
            offsets.append(len(out))
            out += f"{num} 0 obj ".encode() + body + b" endobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (
            f"trailer << /Size {len(objs) + 1} /Root 1 0 R{trailer_extra} >>\n"
            f"startxref\n{xref_at}\n%%EOF\n"
        ).encode()
        return bytes(out)

    # PDF 1.5 layout: no trailer keyword — the /Type /XRef stream object
    # carries the trailer entries and the W=[1 3 2] entry rows
    out = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}
    for num, (body, comp) in enumerate(objs, start=1):
        if comp:
            continue
        top_offsets[num] = len(out)
        out += f"{num} 0 obj ".encode() + body + b" endobj\n"
    xref_num = len(objs) + 1
    xref_at = len(out)
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535  # free-list head
        elif num == xref_num:
            t, f2, f3 = 1, xref_at, 0  # the xref stream itself
        elif num in objstm_index:
            t, f2, f3 = 2, objstm_num, objstm_index[num]
        else:
            t, f2, f3 = 1, top_offsets[num], 0
        rows += bytes([t]) + f2.to_bytes(3, "big") + f3.to_bytes(2, "big")
    row_w = 6
    parms = ""
    if not objstm:
        # PNG Up predictor (12) — the encoding real generators emit;
        # the objstm variant stays unpredicted so both decode paths
        # carry round-trip evidence
        pred = bytearray()
        prev = bytes(row_w)
        for i in range(0, len(rows), row_w):
            row = rows[i : i + row_w]
            pred += b"\x02" + bytes(
                (row[j] - prev[j]) & 0xFF for j in range(row_w)
            )
            prev = row
        rows = pred
        parms = f" /DecodeParms << /Predictor 12 /Columns {row_w} >>"
    data = zlib.compress(bytes(rows))
    head = (
        f"<< /Type /XRef /Size {size} /W [1 3 2] /Index [0 {size}] "
        f"/Root 1 0 R{trailer_extra} /Length {len(data)} "
        f"/Filter /FlateDecode{parms} >>"
    ).encode()
    out += (
        f"{xref_num} 0 obj ".encode() + head
        + b"\nstream\n" + data + b"\nendstream endobj\n"
    )
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)
