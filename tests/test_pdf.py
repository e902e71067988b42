"""pdf.py text-extraction semantics: write→extract round trips over
every content encoding (plain/TJ/hex × Flate/ASCII85 chains ×
Td/Tm positioning), the container layouts (classic xref table; PDF
1.5 xref streams with PNG predictors + object streams; hybrid
reference), the full Standard security handler (RC4 V2/R3, AES-128
V4 with the FIPS 197 C.1 vector, AES-256 V5/R6 with the C.3 vector
and Algorithm 2.B KDF), string escape grammar, page-tree order,
corrupt-container classes, the honest NotImplementedError scope
(custom handlers, unknown crypt filters, fully-passworded docs,
image filters), the decompression bound, and bit-flip robustness.
Writer and extractor share only the published PDF grammar, so a
round trip cross-checks independently-written paths."""

from __future__ import annotations

import hashlib
import os
import sys
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipelinejobs_indexer_spark.llm.pdf import (  # noqa: E402
    MAX_TEXT_BYTES,
    extract_pdf_text,
    write_pdf,
)


def _rt(pages, **kw) -> bytes:
    data = write_pdf(pages, **kw)
    assert extract_pdf_text(data) == "\f".join(
        "\n".join(lines) for lines in pages
    )
    return data


# ------------------------------------------------------------ round trips
def test_roundtrip_every_encoding():
    pages = [["hello world", "second line"], ["page two"]]
    _rt(pages)
    _rt(pages, compress=False)
    _rt(pages, use_tj_array=True)
    _rt(pages, hex_strings=True)
    _rt(pages, ascii85=True)                  # ASCII85 -> Flate chain
    _rt(pages, ascii85=True, compress=False)  # ASCII85 alone


def test_roundtrip_escape_grammar():
    # parens (nested and escaped), backslashes, octal-forcing bytes,
    # \n \r \t shows, and high latin-1
    pages = [[
        "parens (nested (deep)) and \\ backslash",
        "tabs\tand\rcarriage",
        "high bytes: \xe9\xfc\xff",
    ]]
    _rt(pages)
    _rt(pages, hex_strings=True)


def test_roundtrip_page_tree_order():
    pages = [[f"page {i} line {j}" for j in range(3)] for i in range(9)]
    data = _rt(pages)
    text = extract_pdf_text(data)
    assert text.split("\f")[4].startswith("page 4")


@settings(max_examples=25, deadline=None)
@given(
    n_pages=st.integers(1, 5),
    n_lines=st.integers(0, 6),
    seed=st.integers(0, 2**31 - 1),
    tj=st.booleans(),
    hx=st.booleans(),
    a85=st.booleans(),
    comp=st.booleans(),
)
def test_roundtrip_hypothesis(n_pages, n_lines, seed, tj, hx, a85, comp):
    import random

    rng = random.Random(seed)
    alphabet = (
        "abc XYZ 019 ()\\\t"  # includes every escape-relevant class
        + "\xe9\xfc"
    )
    pages = [
        [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
            for _ in range(n_lines)
        ]
        for _ in range(n_pages)
    ]
    _rt(pages, use_tj_array=tj, hex_strings=hx, ascii85=a85, compress=comp)


# ----------------------------------------------------------- error classes
def test_corrupt_container_classes():
    data = write_pdf([["hello"]])
    with pytest.raises(ValueError, match="%PDF"):
        extract_pdf_text(b"GIF89a" + data)
    with pytest.raises(ValueError, match="%%EOF"):
        extract_pdf_text(data[: data.index(b"%%EOF")])
    with pytest.raises(ValueError, match="no document catalog"):
        extract_pdf_text(b"%PDF-1.4\n%%EOF\n")
    # break the content stream's zlib body (keep lengths intact)
    start = data.index(b"stream\n") + 7
    bad = bytearray(data)
    bad[start] ^= 0xFF
    bad[start + 1] ^= 0xFF
    with pytest.raises(ValueError, match="FlateDecode"):
        extract_pdf_text(bytes(bad))
    # /Length exceeding the remaining bytes is a truncation error
    import re

    data2 = write_pdf([["x"]], compress=False)
    bad2 = re.sub(rb"/Length \d+", b"/Length 99999", data2, count=1)
    assert bad2 != data2
    with pytest.raises(ValueError, match="truncated PDF stream|endstream"):
        extract_pdf_text(bad2)


def test_rc4_encryption_roundtrip():
    """The Standard handler's RC4 variants decrypt for real (empty user
    password — the owner-locked case every reader opens), across every
    content encoding; filter-then-encrypt order is the spec's."""
    pages = [["hello world", "with (parens) \\ and \xe9"], ["page two"]]
    want = "\f".join("\n".join(lines) for lines in pages)
    for kw in ({}, {"use_tj_array": True}, {"hex_strings": True},
               {"ascii85": True}, {"compress": False}):
        data = write_pdf(pages, encrypt_rc4=True, **kw)
        assert b"/Encrypt" in data and b"hello" not in data
        assert extract_pdf_text(data) == want


def test_honest_not_implemented_scope():
    # a REAL user password locks the document: U verification fails
    with pytest.raises(NotImplementedError, match="password-protected"):
        extract_pdf_text(
            write_pdf([["x"]], encrypt_rc4=True, user_password=b"secret")
        )
    # the whole Standard handler is real now (RC4, AES-128, AES-256);
    # what remains honest refusals: custom security handlers, unknown
    # crypt filters, and genuinely passworded documents
    data = write_pdf([["x"]], encrypt_aes=True)
    with pytest.raises(NotImplementedError, match="custom"):
        extract_pdf_text(data.replace(b"/V 4 /R 4", b"/V 7 /R 7"))
    with pytest.raises(NotImplementedError, match="V4 Standard"):
        extract_pdf_text(data.replace(b"/CFM /AESV2", b"/CFM /AESV9"))
    # a V4 dict with no crypt-filter table is malformed, not a refusal
    with pytest.raises(ValueError, match="/CF"):
        extract_pdf_text(
            write_pdf([["x"]], encrypt_rc4=True).replace(
                b"/V 2 /R 3", b"/V 4 /R 4"
            )
        )
    # codec-class raster filters stay honest refusals
    with pytest.raises(NotImplementedError, match="JBIG2"):
        extract_pdf_text(
            write_pdf([["x"]], compress=False).replace(
                b"<< /Length", b"<< /Filter /JBIG2Decode /Length"
            )
        )
    # DCTDecode is REAL now — on non-JPEG bytes it's a data error
    with pytest.raises(ValueError, match="JPEG"):
        extract_pdf_text(
            write_pdf([["x"]], compress=False).replace(
                b"<< /Length", b"<< /Filter /DCTDecode /Length"
            )
        )


def test_decompression_bound():
    # a zlib bomb: tiny compressed stream declaring gigabytes
    bomb = zlib.compress(b"\x00" * (MAX_TEXT_BYTES + 2), 9)
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(bomb)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + bomb
        + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    assert len(body) < MAX_TEXT_BYTES // 4  # the input itself is small
    with pytest.raises(ValueError, match="bound"):
        extract_pdf_text(body)


def test_page_tree_cycle_rejected():
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [2 0 R] /Count 1 >> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    with pytest.raises(ValueError, match="cycle"):
        extract_pdf_text(body)


def test_reference_layout_fixture_extracts_empty():
    """The synthesized austin.pdf fixture (the reference's upload-store
    layout: no xref, no /Contents) must parse as a page with no text —
    not crash, not raise."""
    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pipelinejobs_indexer_spark", "fixtures", "uploads", "austin.pdf",
    )
    with open(fix, "rb") as fh:
        assert extract_pdf_text(fh.read()) == ""


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 6))
def test_mutation_robustness(seed, n_flips):
    import random

    rng = random.Random(seed)
    data = bytearray(write_pdf([["hello world", "line"], ["p2"]]))
    for _ in range(n_flips):
        data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
    try:
        text = extract_pdf_text(bytes(data))
        assert len(text) <= MAX_TEXT_BYTES
    except (ValueError, NotImplementedError):
        pass


def test_page_tree_depth_bounded():
    """A non-cyclic page tree nested past 64 levels must raise ValueError
    (the module's corruption contract), never RecursionError (ADVICE r8)."""
    objs = [b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"]
    depth = 80
    for i in range(depth):
        num = 2 + i
        kid = num + 1
        objs.append(
            b"%d 0 obj << /Type /Pages /Kids [%d 0 R] /Count 1 >> endobj\n"
            % (num, kid)
        )
    objs.append(b"%d 0 obj << /Type /Page >> endobj\n" % (2 + depth))
    body = b"%PDF-1.4\n" + b"".join(objs) + b"trailer << /Root 1 0 R >>\n%%EOF\n"
    with pytest.raises(ValueError, match="deeper than"):
        extract_pdf_text(body)


# ------------------------------------------------- PDF 1.5 compressed layout
def test_roundtrip_pdf15_layouts():
    pages = [["hello world", "second line"], ["page two"]]
    _rt(pages, xref_stream=True)                      # PNG Up predictor 12
    _rt(pages, objstm=True)                           # + object stream
    _rt(pages, objstm=True, use_tj_array=True, ascii85=True)
    _rt(pages, xref_stream=True, hex_strings=True, compress=False)
    _rt(pages, xref_stream=True, encrypt_rc4=True)    # xref never encrypted
    _rt(pages, objstm=True, encrypt_rc4=True)         # ObjStm IS encrypted


def test_xref_stream_type2_entries_locate_objects():
    """The type-2 entries of the /Type /XRef stream (W=[1 3 2], §7.5.8)
    must map every compressed object to its ObjStm container."""
    from pipelinejobs_indexer_spark.llm.pdf import _Document

    doc = _Document(write_pdf([["a"], ["b"]], objstm=True))
    # catalog(1), pages node(2), both page dicts(3, 5) are compressed
    assert set(doc._objstm_map) >= {1, 2, 3, 5}
    stms = {stm for stm, _ in doc._objstm_map.values()}
    assert len(stms) == 1
    # ... and the objects genuinely resolve through the ObjStm
    cat = doc.resolve(("ref", 1, 0))
    assert cat.get("/Type") == "/Catalog"


def test_objstm_scan_fallback_survives_stale_xref():
    """A stale/broken startxref must not lose compressed objects: the
    scan-based ObjStm registration mirrors the `N G obj` scan."""
    import re

    data = write_pdf([["fallback text"]], objstm=True)
    broken = re.sub(rb"startxref\s+\d+", b"startxref\n999999999", data)
    assert extract_pdf_text(broken) == "fallback text"


def test_xref_stream_corruption_classes():
    import re

    data = write_pdf([["x"]], xref_stream=True)
    with pytest.raises(ValueError, match="/W"):
        extract_pdf_text(data.replace(b"/W [1 3 2]", b"/W [1 3]"))
    with pytest.raises(ValueError, match="/Size"):
        extract_pdf_text(re.sub(rb"/Size \d+", b"/Size 0", data))
    with pytest.raises(ValueError, match="/Index"):
        extract_pdf_text(re.sub(rb"/Index \[0 (\d+)\]", rb"/Index [0 \1 7]",
                                data))
    # declare more rows than the stream holds
    with pytest.raises(ValueError, match="needs"):
        extract_pdf_text(re.sub(rb"/Index \[0 (\d+)\]", b"/Index [0 9999]",
                                data))


def test_predictor_misalignment_rejected():
    """Predictor rows must tile the inflated stream exactly."""
    import re

    data = write_pdf([["x"]], xref_stream=True)
    # lie about the columns: 6-byte rows no longer tile at 7+1
    bad = data.replace(b"/Predictor 12 /Columns 6", b"/Predictor 12 /Columns 7")
    with pytest.raises(ValueError, match="misaligned"):
        extract_pdf_text(bad)
    # TIFF predictor 2 is REAL now (round 9): applied to the xref
    # stream it merely garbles the table, and the scan-based fallback
    # still opens the document — the stale-xref robustness claim
    assert extract_pdf_text(
        data.replace(b"/Predictor 12 /Columns 6", b"/Predictor 2")
    ) == "x"
    # sub-8-bit components remain the documented refusal
    with pytest.raises(NotImplementedError, match="sub-8-bit"):
        extract_pdf_text(
            data.replace(
                b"/Predictor 12 /Columns 6",
                b"/Predictor 2 /BitsPerComponent 4",
            )
        )


def test_objstm_header_corruption_rejected():
    data = write_pdf([["x"]], objstm=True)
    with pytest.raises(ValueError, match="/N or /First|header pair|not found"):
        extract_pdf_text(data.replace(b"/Type /ObjStm /N 3", b"/Type /ObjStm /N -1"))


def test_stream_ref_into_objstm_rejected():
    """§7.5.7: streams can't live inside an ObjStm — /Contents pointing
    at a compressed object is corruption, reported precisely."""
    import re

    from pipelinejobs_indexer_spark.llm.pdf import _Document

    doc = _Document(write_pdf([["x"]], objstm=True))
    with pytest.raises(ValueError, match="inside an object stream"):
        doc.stream_bytes((1, 0))


def test_objstm_cycle_guard():
    from pipelinejobs_indexer_spark.llm.pdf import _Document

    doc = _Document(write_pdf([["x"]], objstm=True))
    stm = next(iter({s for s, _ in doc._objstm_map.values()}))
    doc._objstm_cache.clear()
    doc._objstm_loading.add(stm)
    with pytest.raises(ValueError, match="cycle between"):
        doc._decode_objstm(stm)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 6))
def test_mutation_robustness_pdf15(seed, n_flips):
    """Bit-flip fuzz over the 1.5 compressed layout: decode correctly
    or raise ValueError/NotImplementedError — never crash."""
    import random

    rng = random.Random(seed)
    data = bytearray(write_pdf([["hello world", "line"], ["p2"]],
                               objstm=(seed % 2 == 0), xref_stream=True))
    for _ in range(n_flips):
        data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
    try:
        out = extract_pdf_text(bytes(data))
        assert len(out) <= MAX_TEXT_BYTES
    except (ValueError, NotImplementedError):
        pass


# --------------------------------------------------- AES-128 (V4 /AESV2)
def test_aes_block_pins_fips197_vector():
    """External golden vector: FIPS 197 Appendix C.1. The cipher is
    validated against the published standard, not a round trip of our
    own code."""
    from pipelinejobs_indexer_spark.llm.pdf import _aes_ecb_block

    key = bytes(range(16))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = _aes_ecb_block(key, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_ecb_block(key, ct, decrypt=True) == pt
    # ... and the FIPS 197 Appendix B cipher example, under the Appendix
    # A.1 key (the native cipher exposes no key schedule to pin)
    key2 = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    ct2 = _aes_ecb_block(key2, bytes.fromhex("3243f6a8885a308d313198a2e0370734"))
    assert ct2.hex() == "3925841d02dc09fbdc118597196a0b32"


def test_roundtrip_aes_encrypted():
    pages = [["hello world", "second line"], ["page two"]]
    _rt(pages, encrypt_aes=True)
    _rt(pages, encrypt_aes=True, objstm=True)       # encrypted ObjStm
    _rt(pages, encrypt_aes=True, xref_stream=True)  # xref never encrypted
    _rt(pages, encrypt_aes=True, ascii85=True, use_tj_array=True)


def test_aes_passworded_refused_and_corruption_rejected():
    data = write_pdf([["x"]], encrypt_aes=True, user_password=b"secret")
    with pytest.raises(NotImplementedError, match="password-protected"):
        extract_pdf_text(data)
    # flip one ciphertext byte: CBC decrypt yields garbage -> the zlib
    # filter or the padding check reports corruption, never a crash
    good = write_pdf([["x"]], encrypt_aes=True)
    import re

    m = re.search(rb"stream\r?\n", good)
    i = m.end() + 20
    bad = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1 :]
    with pytest.raises(ValueError):
        extract_pdf_text(bad)


def test_aes_cbc_layout_rejected():
    from pipelinejobs_indexer_spark.llm.pdf import _aes_cbc_decrypt

    with pytest.raises(ValueError, match="IV"):
        _aes_cbc_decrypt(bytes(16), b"short")
    with pytest.raises(ValueError, match="padding"):
        _aes_cbc_decrypt(bytes(16), bytes(32))


# ------------------------------------------------ AES-256 (V5 /AESV3, R6)
def test_aes256_block_pins_fips197_c3_vector():
    """External golden vector: FIPS 197 Appendix C.3 (AES-256), plus the
    14-round key schedule implied by matching it."""
    from pipelinejobs_indexer_spark.llm.pdf import _aes_ecb_block

    key = bytes(range(32))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = _aes_ecb_block(key, pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert _aes_ecb_block(key, ct, decrypt=True) == pt


def test_roundtrip_aes256_encrypted():
    pages = [["hello world", "second line"], ["page two"]]
    _rt(pages, encrypt_aes256=True)
    _rt(pages, encrypt_aes256=True, objstm=True)
    _rt(pages, encrypt_aes256=True, xref_stream=True)
    _rt(pages, encrypt_aes256=True, ascii85=True, use_tj_array=True)


def test_aes256_owner_path_and_refusals():
    """The writer's owner password is empty, so a user-passworded V5 doc
    opens via Algorithm 12 (the owner /OE unwrap) — and once the /O
    hash is corrupted too, the honest password refusal fires. /Perms
    failing its 'adb' self-check is corruption, not a refusal."""
    pages = [["locked"]]
    data = write_pdf(pages, encrypt_aes256=True, user_password=b"secret")
    assert extract_pdf_text(data) == "locked"  # owner path
    import re

    m = re.search(rb"/O <([0-9a-f]{96})>", data)
    o_hex = m.group(1)
    flipped = bytearray.fromhex(o_hex.decode())
    flipped[0] ^= 0xFF
    locked = data.replace(o_hex, flipped.hex().encode())
    with pytest.raises(NotImplementedError, match="password-protected"):
        extract_pdf_text(locked)
    # corrupt /Perms on an otherwise-open doc: 'adb' check is ValueError
    good = write_pdf(pages, encrypt_aes256=True)
    m = re.search(rb"/Perms <([0-9a-f]{32})>", good)
    p_hex = m.group(1)
    bad_perms = bytearray.fromhex(p_hex.decode())
    bad_perms[0] ^= 0xFF
    with pytest.raises(ValueError, match="adb"):
        extract_pdf_text(good.replace(p_hex, bad_perms.hex().encode()))
    # unknown V5 crypt filter stays a refusal
    with pytest.raises(NotImplementedError, match="AESV3"):
        extract_pdf_text(good.replace(b"/CFM /AESV3", b"/CFM /AESV4"))


# --------------------------------------- Tm positioning + hybrid layout
def test_tm_text_matrix_line_semantics():
    """Tm (absolute text-matrix positioning — what real generators
    emit per line) breaks lines on vertical moves only: a Tm to the
    SAME baseline continues the line, a different ty starts a new
    one."""
    pages = [["alpha beta", "gamma", "delta"], ["page two"]]
    _rt(pages, use_tm=True)
    _rt(pages, use_tm=True, hex_strings=True)
    _rt(pages, use_tm=True, objstm=True, encrypt_aes=True)
    body = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (foo) Tj "
        b"1 0 0 1 150 700 Tm (bar) Tj 1 0 0 1 72 686 Tm (baz) Tj ET"
    )
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(data) == "foobar\nbaz"


def test_hybrid_reference_layout_survives():
    """A hybrid-reference file (what MS Word emits): classic xref table
    + trailer whose /XRefStm points at the compressed layout. The
    scan-based ObjStm registration must open it even though the
    startxref chain leads to the classic table."""
    import re

    data = write_pdf([["hybrid text", "line"]], objstm=True)
    # graft a classic trailer AFTER the xref-stream layout: startxref
    # now points at a classic `xref` keyword whose trailer carries
    # /XRefStm (which this parser ignores — the scan covers it)
    m = re.search(rb"startxref\s+(\d+)\s*%%EOF", data)
    xref_stream_at = int(m.group(1))
    classic = (
        b"xref\n0 1\n0000000000 65535 f \n"
        b"trailer << /Size 99 /Root 1 0 R /XRefStm "
        + str(xref_stream_at).encode() + b" >>\n"
    )
    at = len(data[: m.start()])
    hybrid = (
        data[: m.start()] + classic
        + b"startxref\n" + str(at).encode() + b"\n%%EOF\n"
    )
    assert extract_pdf_text(hybrid) == "hybrid text\nline"


# ------------------------------------------------------- image XObjects
def _gray(n: int, a: int = 7, b: int = 3) -> bytes:
    return bytes((i * a + b) % 251 for i in range(n))


def test_image_roundtrip_all_filters_layouts_ciphers():
    """Image XObjects decode to exact samples across every raster
    filter (DCTDecode via jpeg.py, Flate, RLE, LZW, none), in every
    container layout and under every Standard-handler cipher."""
    from pipelinejobs_indexer_spark.llm.jpeg import synth_dc_jpeg
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    dcs = [5, -10, 3, 7]
    jpg = synth_dc_jpeg([dcs], 16, 16, q=16)
    gray = _gray(64)
    imgs = [
        [
            {"kind": "jpeg", "data": jpg, "width": 16, "height": 16, "ncomp": 1},
            {"kind": "raw", "pixels": gray, "width": 8, "height": 8,
             "ncomp": 1, "filter": "flate"},
        ],
        [
            {"kind": "raw", "pixels": gray, "width": 8, "height": 8,
             "ncomp": 1, "filter": "rle"},
            {"kind": "raw", "pixels": _gray(64 * 3, 11, 5), "width": 8,
             "height": 8, "ncomp": 3, "filter": "lzw"},
            {"kind": "raw", "pixels": gray, "width": 8, "height": 8,
             "ncomp": 1, "filter": None},
        ],
    ]
    pages = [["hello world", "line two"], ["page two"]]
    for kw in (
        {},
        {"encrypt_rc4": True},
        {"encrypt_aes": True},
        {"encrypt_aes256": True},
        {"xref_stream": True},
        {"objstm": True},
        {"objstm": True, "encrypt_aes": True},
        {"compress": False},
        {"ascii85": True},
    ):
        data = write_pdf(pages, images=imgs, **kw)
        # text layer is untouched by the image ops (q/cm/Do/Q)
        assert extract_pdf_text(data) == "hello world\nline two\fpage two", kw
        pg = extract_pdf_images(data)
        assert [len(p) for p in pg] == [2, 3], kw
        j = pg[0][0]
        assert (j["width"], j["height"], j["n_components"]) == (16, 16, 1)
        # DC-only JPEG closed form: every pixel of a block = 2*dc + 128
        assert sum(j["samples"]) == 64 * sum(2 * d + 128 for d in dcs), kw
        assert pg[0][1]["samples"] == gray, kw
        assert pg[1][0]["samples"] == gray, kw
        assert pg[1][1]["samples"] == _gray(64 * 3, 11, 5), kw
        assert pg[1][1]["n_components"] == 3, kw
        assert pg[1][2]["samples"] == gray, kw


@given(
    bits=st.sampled_from([2, 4]),
    w=st.integers(1, 17),
    h=st.integers(1, 6),
    indexed=st.booleans(),
    flate=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_sub8_image_roundtrip_hypothesis(bits, w, h, indexed, flate, seed):
    """Property (round 13): any geometry/depth/filter of a sub-8 PDF
    image — Indexed or plain gray — round-trips through write_pdf ->
    extract_pdf_images to exactly the expected samples (fuzzes the
    row byte-padding edges the fixed fixtures cannot)."""
    from pipelinejobs_indexer_spark.llm.pdf import (
        extract_pdf_images,
        write_pdf,
    )

    n = 1 << bits
    vals = bytes((seed + x * 3 + y * 7) % n for y in range(h)
                 for x in range(w))
    if indexed:
        npal = min(n, 4) if bits == 2 else n
        pal = bytes(
            c for i in range(npal)
            for c in ((i * 5 + seed) % 251, (i * 7) % 251, (i * 11) % 251)
        )
        vals = bytes(v % npal for v in vals)
        spec = {"kind": "indexed", "palette": pal, "base": "/DeviceRGB",
                "indices": vals, "width": w, "height": h, "bits": bits,
                "filter": "flate" if flate else None}
        expect = bytes(c for i in vals for c in pal[i * 3 : (i + 1) * 3])
        ncomp = 3
    else:
        spec = {"kind": "raw", "pixels": vals, "width": w, "height": h,
                "ncomp": 1, "bits": bits,
                "filter": "flate" if flate else None}
        expect = bytes(v * (255 // (n - 1)) for v in vals)
        ncomp = 1
    img = extract_pdf_images(write_pdf([["p"]], images=[[spec]]))[0][0]
    assert (img["samples"], img["n_components"]) == (expect, ncomp)
    assert (img["width"], img["height"]) == (w, h)


def test_sub8_images_round_trip():
    """Round 13 (VERDICT r12 item 6): 2/4-bit packed samples decode for
    Indexed palettes and plain /DeviceGray — MSB-first byte-padded rows
    (§8.9.5.2) through the shared TIFF bit-unpack — across filters and
    the cipher/layout matrix; direct sub-8 RGB stays a refusal."""
    from pipelinejobs_indexer_spark.llm.pdf import (
        extract_pdf_images,
        write_pdf,
    )

    pal = bytes(
        c for i in range(4)
        for c in ((i * 5) % 251, (i * 7) % 251, (i * 11) % 251)
    )
    idx = bytes((x + 2 * y) % 4 for y in range(5) for x in range(9))
    gray4 = bytes((x + y) % 16 for y in range(3) for x in range(7))
    images = [[
        {"kind": "indexed", "palette": pal, "base": "/DeviceRGB",
         "indices": idx, "width": 9, "height": 5, "bits": 2,
         "filter": "flate"},
        {"kind": "raw", "pixels": gray4, "width": 7, "height": 3,
         "ncomp": 1, "bits": 4, "filter": None},
    ]]
    exp_idx = bytes(c for i in idx for c in pal[i * 3 : (i + 1) * 3])
    exp_gray = bytes(v * 17 for v in gray4)  # exact full-range mapping
    for kw in ({}, {"encrypt_aes": True}, {"objstm": True},
               {"encrypt_rc4": True, "xref_stream": True}):
        data = write_pdf([["p0"]], images=images, **kw)
        a, b = extract_pdf_images(data)[0]
        assert (a["samples"], a["n_components"]) == (exp_idx, 3), kw
        assert (b["samples"], b["n_components"]) == (exp_gray, 1), kw
    # direct sub-8 multi-component: reader refusal (writer refuses too)
    data = write_pdf([["p0"]], images=[[
        {"kind": "raw", "pixels": gray4, "width": 7, "height": 3,
         "ncomp": 1, "bits": 4, "filter": None}]])
    with pytest.raises(NotImplementedError, match="direct color"):
        extract_pdf_images(
            data.replace(b"/ColorSpace /DeviceGray /BitsPerComponent 4",
                         b"/ColorSpace /DeviceRGB  /BitsPerComponent 4")
        )
    with pytest.raises(ValueError, match="gray only"):
        write_pdf([["p0"]], images=[[
            {"kind": "raw", "pixels": bytes(21 * 3), "width": 7,
             "height": 3, "ncomp": 3, "bits": 4, "filter": None}]])


def test_image_error_classes():
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    gray = _gray(64)
    img = [{"kind": "raw", "pixels": gray, "width": 8, "height": 8,
            "ncomp": 1, "filter": "flate"}]
    data = write_pdf([["x"]], images=[img])
    # sample-length mismatch: lie about /Width
    with pytest.raises(ValueError, match="sample bytes"):
        extract_pdf_images(data.replace(b"/Width 8", b"/Width 7"))
    # sub-8 depths decode since round 13 — declaring 4-bit over 8-bit
    # sized data is now a loud geometry error, not a refusal
    with pytest.raises(ValueError, match="packed bytes"):
        extract_pdf_images(
            data.replace(b"/BitsPerComponent 8", b"/BitsPerComponent 4")
        )
    # 16-bit stays the documented refusal
    with pytest.raises(NotImplementedError, match="16-bit"):
        extract_pdf_images(
            data.replace(b"/BitsPerComponent 8", b"/BitsPerComponent 16")
        )
    # an illegal depth is malformed, loud
    with pytest.raises(ValueError, match="BitsPerComponent"):
        extract_pdf_images(
            data.replace(b"/BitsPerComponent 8", b"/BitsPerComponent 3")
        )
    # indexed / ICC color spaces are a documented refusal
    with pytest.raises(NotImplementedError, match="color space"):
        extract_pdf_images(
            data.replace(b"/ColorSpace /DeviceGray", b"/ColorSpace /Indexed")
        )
    # a form XObject (no /Subtype /Image) carries no pixels: skipped
    assert extract_pdf_images(
        data.replace(b"/Subtype /Image", b"/Subtype /Form ")
    ) == [[]]
    # writer-side geometry validation
    with pytest.raises(ValueError, match="geometry"):
        write_pdf([["x"]], images=[[{"kind": "raw", "pixels": gray,
                                     "width": 9, "height": 8, "ncomp": 1,
                                     "filter": None}]])
    with pytest.raises(ValueError, match="one .* per page"):
        write_pdf([["x"], ["y"]], images=[img])


def test_lzw_rle_codec_units():
    """The two new §7.4 byte filters, pinned independently of PDF
    containers: the classic ABABABA LZW stream (K-omega-K table
    reconstruction) byte-for-byte, code-width growth across the
    511/1023/2047 boundaries and the 4093 table clear, and both
    decoders' corruption classes."""
    import random

    from pipelinejobs_indexer_spark.llm.bits import packbits_encode
    from pipelinejobs_indexer_spark.llm.pdf import (
        _lzw_decode,
        _lzw_encode,
        _rle_decode,
    )

    # hand-checkable spec stream: Clear,65,66,258('AB'),260('ABA'),65,EOD
    # in MSB-first 9-bit codes
    assert _lzw_encode(b"ABABABA") == bytes.fromhex("80104850282404")
    assert _lzw_decode(bytes.fromhex("80104850282404")) == b"ABABABA"
    rng = random.Random(11)
    long = bytes(rng.randrange(256) for _ in range(60_000))
    assert _lzw_decode(_lzw_encode(long)) == long  # crosses every width
    for data in (b"", b"A", b"A" * 500, (b"ABC" * 999)[:2000], long[:333]):
        assert _lzw_decode(_lzw_encode(data)) == data
        assert _rle_decode(packbits_encode(data) + b"\x80") == data
    with pytest.raises(ValueError, match="EOD"):
        _rle_decode(b"\x04hello")  # literal run, then no EOD
    with pytest.raises(ValueError, match="truncated"):
        _rle_decode(b"\x7fshort")
    with pytest.raises(ValueError, match="EOD"):
        _lzw_decode(_lzw_encode(b"abc")[:-2])
    with pytest.raises(ValueError, match="after clear"):
        # first code after clear must be a literal; 9-bit 300 is not
        _lzw_decode(bytes([0b10000000, 0b01001011, 0b00000000]))
    with pytest.raises(ValueError, match="beyond table"):
        # clear, literal 65, then code 300 with no table entry past 257
        _lzw_decode(bytes([0x80, 0x10, 0x65, 0x80]))


# ---------------------------------------------------------- font encodings
def test_font_modes_roundtrip_nonascii():
    """Every font mode must carry text the bare latin-1 path cannot
    prove: accented latin through WinAnsi/MacRoman/Differences, CJK
    through Type0 Identity-H + ToUnicode — across the string-encoding
    knobs, ciphers, and container layouts."""
    pages = [["hello world", "caf\xe9 na\xefve \xfcber"], ["page two \xe9\xe8"]]
    want = "\f".join("\n".join(p) for p in pages)
    for mode in ("winansi", "macroman", "differences", "type0"):
        for kw in ({}, {"use_tj_array": True}, {"hex_strings": True},
                   {"ascii85": True}, {"compress": False}, {"use_tm": True},
                   {"encrypt_aes": True}, {"objstm": True},
                   {"objstm": True, "encrypt_rc4": True}):
            data = write_pdf(pages, font=mode, **kw)
            assert extract_pdf_text(data) == want, (mode, kw)
    # CJK: representable by NO single-byte encoding — Type0 only
    pages2 = [["中文 text", "日本語 line"]]
    data = write_pdf(pages2, font="type0", use_tj_array=True)
    assert extract_pdf_text(data) == "中文 text\n日本語 line"
    # a Differences doc's string bytes are FULLY remapped: the raw
    # content must not contain the plaintext even uncompressed
    data = write_pdf([["secret words"]], font="differences", compress=False)
    assert b"secret" not in data
    assert extract_pdf_text(data) == "secret words"
    # type0 charset crossing the 0x20-low-byte code is TJ-safe (the
    # split is on text, not encoded bytes)
    chars = "".join(chr(0x100 + i) for i in range(40))
    pages3 = [[chars[:20] + " " + chars[20:]]]
    data = write_pdf(pages3, font="type0", use_tj_array=True)
    assert extract_pdf_text(data) == pages3[0][0]


def test_font_error_classes():
    from pipelinejobs_indexer_spark.llm.pdf import (
        _glyph_char,
        _parse_tounicode,
    )

    # glyph-name subset: algorithmic + printable ASCII, honest refusal past it
    assert _glyph_char("/uni00E9") == "\xe9"
    assert _glyph_char("/A") == "A" and _glyph_char("/nine") == "9"
    assert _glyph_char("/u1F600") == "\U0001f600"
    with pytest.raises(NotImplementedError, match="AGL subset"):
        _glyph_char("/eacute")  # full-AGL name outside the subset
    # Type0 without /ToUnicode cannot map to text
    data = write_pdf([["abc"]], font="type0", compress=False)
    with pytest.raises(NotImplementedError, match="ToUnicode"):
        extract_pdf_text(data.replace(b"/ToUnicode", b"/ToNothingg"))
    # non-Identity Type0 CMaps are a refusal
    with pytest.raises(NotImplementedError, match="predefined CMap"):
        extract_pdf_text(data.replace(b"/Identity-H", b"/GBK-EUC-H "))
    # unknown simple-font base encoding is a refusal
    data = write_pdf([["abc"]], font="winansi", compress=False)
    with pytest.raises(NotImplementedError, match="base encoding"):
        extract_pdf_text(
            data.replace(b"/WinAnsiEncoding", b"/PDFDocEncodin")
        )
    # bfrange array length mismatch is corruption
    with pytest.raises(ValueError, match="length mismatch"):
        _parse_tounicode(
            b"1 beginbfrange <0001> <0003> [<0041> <0042>] endbfrange"
        )
    # odd-length Identity-H string is corruption
    data = write_pdf([["ab"]], font="type0", compress=False)
    start = data.index(b"BT")
    end = data.index(b"ET", start)
    body = data[start:end]
    m = body.index(b"(")
    n = body.index(b")", m)
    # splice one byte out of the 2-byte-code string
    bad = data[: start + m + 1] + data[start + m + 2 : ]
    with pytest.raises(ValueError, match="odd-length"):
        extract_pdf_text(bad)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 12))
def test_mutation_robustness_images_fonts(seed, n_flips):
    """Bit-flip fuzz over the round-9 surfaces — image XObjects (all
    four raster filters) and font machinery (Differences + Type0
    ToUnicode): decode correctly or raise ValueError /
    NotImplementedError — never crash, never balloon."""
    import random

    from pipelinejobs_indexer_spark.llm.jpeg import synth_dc_jpeg
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    rng = random.Random(seed)
    gray = bytes((i * 7 + 3) % 251 for i in range(64))
    pal = bytes(b for i in range(16)
                for b in ((i * 5) % 251, (i * 7) % 251, (i * 11) % 251))
    imgs = [[
        {"kind": "jpeg", "data": synth_dc_jpeg([[5, -3, 2, 9]], 16, 16, q=16),
         "width": 16, "height": 16, "ncomp": 1},
        {"kind": "raw", "pixels": gray, "width": 8, "height": 8, "ncomp": 1,
         "filter": ["flate", "rle", "lzw", None][seed % 4]},
        {"kind": "raw", "pixels": gray, "width": 8, "height": 8, "ncomp": 1,
         "filter": ["flate", None][seed % 2], "inline": True},
        {"kind": "indexed", "indices": bytes(j % 16 for j in range(64)),
         "palette": pal, "width": 8, "height": 8,
         "filter": ["flate", None][seed % 2]},
    ]]
    data = bytearray(write_pdf(
        [["hello world", "line"]],
        images=imgs,
        font=["differences", "type0", "winansi"][seed % 3],
        objstm=(seed % 2 == 0),
    ))
    for _ in range(n_flips):
        data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
    try:
        out = extract_pdf_text(bytes(data))
        assert len(out) <= MAX_TEXT_BYTES
    except (ValueError, NotImplementedError):
        pass
    try:
        pages = extract_pdf_images(bytes(data))
        assert sum(len(i["samples"]) for p in pages for i in p) <= MAX_TEXT_BYTES
    except (ValueError, NotImplementedError):
        pass


def test_indexed_image_colorspace():
    """[/Indexed base hival lookup] image XObjects: the palette is FILE
    data (a hex-string lookup), indices map through it into the base
    space; out-of-range indices and short lookups are corruption; ICC
    bases stay refusals."""
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    pal = bytes(
        b for i in range(16) for b in ((i * 5) % 251, (i * 7) % 251,
                                       (i * 11) % 251)
    )
    idx = bytes((3 * j) % 16 for j in range(64))
    img = {"kind": "indexed", "indices": idx, "palette": pal,
           "width": 8, "height": 8, "filter": "flate"}
    want = b"".join(pal[i * 3 : (i + 1) * 3] for i in idx)
    for kw in ({}, {"objstm": True}, {"encrypt_aes": True},
               {"compress": False}, {"xref_stream": True},
               {"encrypt_rc4": True, "objstm": True}):
        out = extract_pdf_images(write_pdf([["x"]], images=[[img]], **kw))
        assert out[0][0]["n_components"] == 3
        assert out[0][0]["samples"] == want, kw
    # gray base
    img2 = {"kind": "indexed", "indices": idx, "palette": bytes(range(16)),
            "width": 8, "height": 8, "base": "/DeviceGray", "filter": None}
    out = extract_pdf_images(write_pdf([["x"]], images=[[img2]]))[0][0]
    assert out["n_components"] == 1 and out["samples"] == idx
    # index past hival is corruption
    data = write_pdf([["x"]], images=[[dict(img, filter=None)]])
    with pytest.raises(ValueError, match="hival"):
        extract_pdf_images(data.replace(idx, bytes([255]) + idx[1:]))
    # short lookup table is corruption
    with pytest.raises(ValueError, match="lookup has"):
        extract_pdf_images(
            data.replace(b"/Indexed /DeviceRGB 15", b"/Indexed /DeviceRGB 99")
        )
    # ICC base stays a refusal
    with pytest.raises(NotImplementedError, match="base space"):
        extract_pdf_images(
            data.replace(b"/Indexed /DeviceRGB ", b"/Indexed /ICCBased32 ")
        )


def test_inline_images():
    """BI/ID/EI inline images (§8.9.7): raw sample bytes inside the
    content stream must not shred the tokenizer; abbreviated keys,
    computed extents (raw) and self-terminating zlib (/Fl) both decode;
    text around them survives; error classes are loud."""
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    gray = bytes((i * 7 + 3) % 251 for i in range(64))
    rgbpx = bytes((i * 3 + 1) % 251 for i in range(4 * 4 * 3))
    imgs = [[
        {"kind": "raw", "pixels": gray, "width": 8, "height": 8,
         "ncomp": 1, "filter": "flate", "inline": True},
        {"kind": "raw", "pixels": gray, "width": 8, "height": 8,
         "ncomp": 1, "filter": "rle"},
        {"kind": "raw", "pixels": rgbpx, "width": 4, "height": 4,
         "ncomp": 3, "filter": None, "inline": True},
    ]]
    for kw in ({}, {"compress": False}, {"encrypt_aes": True},
               {"objstm": True}, {"use_tj_array": True}, {"ascii85": True},
               {"font": "type0"}):
        data = write_pdf([["hello world", "line two"]], images=imgs, **kw)
        assert extract_pdf_text(data) == "hello world\nline two", kw
        byname = {i["name"]: i for i in extract_pdf_images(data)[0]}
        assert byname["__inline0"]["samples"] == gray, kw
        assert byname["__inline1"]["samples"] == rgbpx, kw
        assert byname["__inline1"]["n_components"] == 3, kw
        assert byname["/Im0"]["samples"] == gray, kw
    # error classes: missing EI, bad geometry, unsupported filter
    data = write_pdf([["x"]], images=[[dict(imgs[0][2])]], compress=False)
    with pytest.raises(ValueError, match="EI"):
        extract_pdf_images(data.replace(b" EI Q", b" EQ Q"))
    with pytest.raises(ValueError, match="geometry"):
        extract_pdf_images(data.replace(b"/W 4 /H 4", b"/W 0 /H 4"))
    with pytest.raises(NotImplementedError, match="filter"):
        extract_pdf_images(
            data.replace(b"/CS /RGB ID", b"/CS /RGB /F /AHx ID")
        )
    with pytest.raises(NotImplementedError, match="color space"):
        extract_pdf_images(data.replace(b"/CS /RGB", b"/CS /Lab"))


def test_progressive_jpeg_inside_pdf():
    """Cross-layer: a PROGRESSIVE JPEG under /Filter /DCTDecode — the
    decoder upgrade propagates through the PDF image path without any
    plumbing changes (and through encrypted/ObjStm containers)."""
    from pipelinejobs_indexer_spark.llm.jpeg import synth_progressive_jpeg
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    dcs = [5, -10, 3, 7]
    jpg = synth_progressive_jpeg([(d, 1, 0) for d in dcs], 16, 16,
                                 q=16, refine_dc=True)
    img = {"kind": "jpeg", "data": jpg, "width": 16, "height": 16,
           "ncomp": 1}
    for kw in ({}, {"encrypt_aes256": True, "objstm": True}):
        out = extract_pdf_images(write_pdf([["x"]], images=[[img]], **kw))
        assert sum(out[0][0]["samples"]) == 64 * sum(
            2 * d + 128 for d in dcs
        ), kw


def test_tounicode_array_destinations_do_not_flood():
    """Soak-found: a bfrange ARRAY's destination list is itself a run
    of hex strings, so a naive triple-form regex matches inside it —
    a destination pair like <00E9> <4E2D> <6587> then floods thousands
    of phantom codes ACROSS the real bfchar range. The parser must
    consume array bodies before scanning triples."""
    from pipelinejobs_indexer_spark.llm.pdf import _parse_tounicode

    # the minimized real-world shape: 16-char charset whose array
    # destinations span 0x00E9 and CJK values
    pages = [["éac \\X\\(X\t)文céYa\\éé  Z\t)a(\t文a Y(0)b"],
             ["中 Y9 文"]]
    want = "\f".join("\n".join(p) for p in pages)
    for kw in ({}, {"use_tj_array": True}, {"ascii85": True},
               {"encrypt_aes": True, "objstm": True}):
        got = extract_pdf_text(write_pdf(pages, font="type0", **kw))
        assert got == want, kw
    # direct parser pin: triple-lookalike inside an array stays inert
    cmap = _parse_tounicode(
        b"1 beginbfchar <4E01> <0041> endbfchar\n"
        b"1 beginbfrange <4E05> <4E07> [<00E9> <4E2D> <6587>] endbfrange"
    )
    assert cmap[0x4E01] == "A"
    assert cmap[0x4E05] == "\xe9" and cmap[0x4E07] == "文"
    assert 0x4E02 not in cmap and len(cmap) == 4


# --------------------------------------------------------------------------
# Published cipher test vectors (round-10 external conformance): the PDF
# Standard-handler crypto primitives checked against constants from the
# public specifications — RC4 (the classic Key/Wiki/Secret vectors),
# FIPS 197 Appendix C ECB examples, NIST SP 800-38A CBC examples. A
# transcribed S-box / key-schedule / MixColumns error cannot survive these.
def test_rc4_published_vectors():
    from pipelinejobs_indexer_spark.llm.pdf import _rc4

    for key, pt, ct_hex in [
        (b"Key", b"Plaintext", "bbf316e8d940af0ad3"),
        (b"Wiki", b"pedia", "1021bf0420"),
        (b"Secret", b"Attack at dawn", "45a01f645fc35b383552544b9bf5"),
    ]:
        assert _rc4(key, pt).hex() == ct_hex, key
        assert _rc4(key, bytes.fromhex(ct_hex)) == pt, key  # symmetric


def test_aes_fips197_appendix_c_vectors():
    from pipelinejobs_indexer_spark.llm.pdf import _aes_ecb_block

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    # C.1: AES-128
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    ct = _aes_ecb_block(key, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_ecb_block(key, ct, decrypt=True) == pt
    # C.3: AES-256
    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    ct = _aes_ecb_block(key, pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert _aes_ecb_block(key, ct, decrypt=True) == pt


def test_aes_cbc_nist_sp800_38a_vectors():
    """SP 800-38A F.2 through the PDF CBC helpers themselves: raw mode
    (``pad=False``) is bare CBC, and the padded stream layout is
    IV || the same ciphertext || one PKCS#7 block."""
    from pipelinejobs_indexer_spark.llm.pdf import (
        _aes_cbc_decrypt,
        _aes_cbc_encrypt,
    )

    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    p1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    p2 = bytes.fromhex("ae2d8a571e03ac9c9eb76fac45af8e51")
    # F.2.1 CBC-AES128.Encrypt, first two blocks
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    ct = _aes_cbc_encrypt(key, iv, p1 + p2, pad=False)
    c1, c2 = ct[:16], ct[16:]
    assert c1.hex() == "7649abac8119b246cee98e9b12e9197d"
    assert c2.hex() == "5086cb9b507219ee95db113a917678b2"
    stream = _aes_cbc_encrypt(key, iv, p1 + p2)
    assert stream[:48] == iv + ct and len(stream) == 64
    assert _aes_cbc_decrypt(key, stream) == p1 + p2
    # F.2.5 CBC-AES256.Encrypt, first block
    key = bytes.fromhex(
        "603deb1015ca71be2b73aef0857d7781"
        "1f352c073b6108d72d9810a30914dff4"
    )
    c1 = _aes_cbc_encrypt(key, iv, p1, pad=False)
    assert c1.hex() == "f58c4c04d6e5f1ba779eabfb5f7bfbd6"


@pytest.mark.parametrize(
    "args, digest",
    [
        (
            (b"", hashlib.md5(b"graft-v5-vs").digest()[:8], b""),
            "fbbce994f1a14285ccf3680951a7f601"
            "9eb8a791c8b98b56ff8ab61291e42494",
        ),
        (
            (b"secret", bytes(range(8)), b""),
            "952a028e406d92accedad37501d7f8ff"
            "e7e3d9582c35336d4e434b580de7de76",
        ),
        (
            (b"", bytes(8), bytes(range(48))),
            "559f7b3d24059e28ab240638e7f2e864"
            "daa77df7ecc51f248d6d41fbd5aced34",
        ),
    ],
    ids=["writer-salt", "password", "udata"],
)
def test_hash_2b_pinned_vectors(args, digest):
    """ISO 32000-2 Algorithm 2.B digests pinned from an independent
    pure-Python AES implementation: the KDF's SHA-2 selection reads the
    cipher output, so any AES or CBC-chaining slip changes the digest."""
    from pipelinejobs_indexer_spark.llm.pdf import _hash_2b

    assert _hash_2b.__wrapped__(*args).hex() == digest


# --------------------------------------------------------------------------
# Structure-aware fuzz (round 10, VERDICT r9 item 8): beyond bit flips —
# surgically corrupted 1.5-layout structures. Contract everywhere:
# correct text (the scan fallback rescued it) or ValueError; never a
# crash, hang, or silently wrong output.
def _extract_or_valueerror(data: bytes) -> str | None:
    try:
        return extract_pdf_text(data)
    except ValueError:
        return None


def test_truncated_xref_stream_never_crashes():
    data = write_pdf([["x"]], xref_stream=True)
    stream_at = data.rindex(b"stream\n")
    end_at = data.rindex(b"\nendstream")
    for cut in range(stream_at + 7, end_at, max(1, (end_at - stream_at) // 13)):
        got = _extract_or_valueerror(data[:cut])
        assert got in (None, "x"), cut
    # also: intact xref object but body zeroed (inflate garbage)
    bad = data[:stream_at + 7] + b"\0" * (end_at - stream_at - 7) + data[end_at:]
    assert _extract_or_valueerror(bad) in (None, "x")


def test_objstm_misdeclared_n_and_first():
    data = write_pdf([["x"]], objstm=True)
    assert b"/Type /ObjStm /N 3" in data
    for bad_header in (
        b"/Type /ObjStm /N 30",     # more pairs than the stream holds
        b"/Type /ObjStm /N 0",      # no pairs: every lookup must miss
        b"/Type /ObjStm /N 999999", # header-pair flood
    ):
        got = _extract_or_valueerror(
            data.replace(b"/Type /ObjStm /N 3", bad_header)
        )
        assert got in (None, "x"), bad_header
    import re

    m = re.search(rb"/ObjStm /N 3 /First (\d+)", data)
    assert m
    for first in (b"0", b"1", b"999999"):
        got = _extract_or_valueerror(
            data[: m.start(1)] + first + data[m.end(1) :]
        )
        assert got in (None, "x"), first


def _rewrite_xref_rows(data: bytes, mutate) -> bytes:
    """Decompress the (unpredicted, objstm-layout) xref stream, hand the
    6-byte [type, f2:3, f3:2] rows to ``mutate``, and splice the
    recompressed table back with a fixed-up /Length."""
    import re
    import zlib

    stream_at = data.rindex(b"stream\n") + 7
    end_at = data.rindex(b"\nendstream")
    rows = bytearray(zlib.decompress(data[stream_at:end_at]))
    mutate(rows)
    packed = zlib.compress(bytes(rows))
    head_at = data.rindex(b"<< /Type /XRef")
    head = data[head_at:stream_at]
    head = re.sub(
        rb"/Length \d+", b"/Length %d" % len(packed), head
    )
    return data[:head_at] + head[: head.rindex(b"stream\n") + 7] + packed + data[end_at:]


def test_self_referential_objstm_rejected():
    """A type-2 xref row claiming the ObjStm lives inside ITSELF is the
    recursion class bit-flip fuzz can't reach: resolving any compressed
    object must hit the cycle/containment guard, not recurse."""
    data = write_pdf([["x"]], objstm=True)

    def make_recursive(rows: bytearray) -> None:
        objstm_num = None
        for i in range(0, len(rows), 6):
            if rows[i] == 2:
                objstm_num = int.from_bytes(rows[i + 1 : i + 4], "big")
                break
        assert objstm_num is not None
        at = objstm_num * 6
        rows[at] = 2
        rows[at + 1 : at + 4] = objstm_num.to_bytes(3, "big")
        rows[at + 4 : at + 6] = (0).to_bytes(2, "big")

    bad = _rewrite_xref_rows(data, make_recursive)
    got = _extract_or_valueerror(bad)
    assert got in (None, "x")


def test_mutual_objstm_reference_rejected():
    """Two compressed objects pointed at EACH OTHER's container rows —
    the two-node cycle variant."""
    data = write_pdf([["x"]], objstm=True)

    def cross_wire(rows: bytearray) -> None:
        # point every type-2 row at a bogus container: the catalog (1)
        for i in range(0, len(rows), 6):
            if rows[i] == 2:
                rows[i + 1 : i + 4] = (1).to_bytes(3, "big")

    bad = _rewrite_xref_rows(data, cross_wire)
    got = _extract_or_valueerror(bad)
    assert got in (None, "x")


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 12))
def test_mutation_robustness_ccittfax(seed, n_flips):
    """Bit-flip fuzz over the round-10 CCITTFaxDecode surface: every
    /K dialect, byte alignment, BlackIs1 + /Decode pairing, and the
    container layouts — decode correctly or raise ValueError /
    NotImplementedError, never crash, never balloon."""
    import random

    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    rng = random.Random(seed)
    rows = [
        [1 if (seed + 3 * x + 5 * y) % 7 < 3 else 0 for x in range(27)]
        for y in range(11)
    ]
    k = [-1, 0, 1][seed % 3]
    data = bytearray(write_pdf(
        [["fax fuzz"]],
        images=[[{
            "kind": "fax", "rows": rows, "width": 27, "height": 11,
            "k": k, "byte_align": k <= 0 and seed % 2 == 0,
            "black_is_1": seed % 5 == 0,
        }]],
        xref_stream=(seed % 4 == 1),
        objstm=(seed % 4 == 3),
    ))
    for _ in range(n_flips):
        data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
    try:
        pages = extract_pdf_images(bytes(data))
        assert sum(
            len(i["samples"]) for p in pages for i in p
        ) <= MAX_TEXT_BYTES
    except (ValueError, NotImplementedError):
        pass


def test_imagemask_stencil():
    """/ImageMask true (§8.9.6.2): 1-bit stencil with NO color space —
    the scanner-PDF pairing with CCITTFaxDecode. Extracted through the
    1-bit /Decode path (sample 0 paints -> gray 0); a mask that also
    declares a color space is corruption."""
    from pipelinejobs_indexer_spark.llm.pdf import extract_pdf_images

    rows = [[1 if (3 * x + 5 * y) % 7 < 3 else 0 for x in range(27)]
            for y in range(11)]
    for black1 in (False, True):
        pdf = write_pdf([["mask"]], images=[[{
            "kind": "fax", "rows": rows, "width": 27, "height": 11,
            "k": -1, "black_is_1": black1, "mask": True}]])
        assert b"/ImageMask true" in pdf
        assert b"/ColorSpace" not in pdf
        im = extract_pdf_images(pdf)[0][0]
        assert im["n_components"] == 1
        exp = bytes(0 if rows[y][x] else 255
                    for y in range(11) for x in range(27))
        assert im["samples"] == exp
    # corruption: a mask declaring a color space must be rejected
    good = write_pdf([["mask"]], images=[[{
        "kind": "fax", "rows": rows, "width": 27, "height": 11,
        "k": -1, "mask": True}]])
    bad = good.replace(b"/ImageMask true",
                       b"/ImageMask true /ColorSpace /DeviceGray")
    with pytest.raises(ValueError, match="declares a color space"):
        extract_pdf_images(bad)


def test_incremental_update_newest_object_wins():
    """Incremental updates (ISO 32000 §7.5.6): an edited PDF appends
    replacement objects plus a new xref/trailer with /Prev, leaving
    the original bytes untouched. The body scan must resolve the
    NEWEST definition of a replaced object (append order == update
    order), so the extracted text is the edited text."""
    import re
    import zlib

    base = write_pdf([["original text"]], compress=True)
    assert extract_pdf_text(base).strip() == "original text"
    # find the compressed content stream object number
    m = re.search(rb"(\d+) 0 obj\s*<< /Length \d+ /Filter /FlateDecode",
                  base)
    assert m, "fixture shape changed"
    num = int(m.group(1))
    new_body = zlib.compress(
        b"BT /F0 12 Tf 72 720 Td (edited text) Tj ET"
    )
    update = (
        b"\n%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
        % (num, len(new_body))
        + new_body
        + b"\nendstream\nendobj\n"
    )
    startxref = base.rfind(b"startxref")
    upd_at = len(base) + 1
    trailer = (
        b"xref\n%d 1\n%010d 00000 n \ntrailer\n<< /Prev %d >>\n"
        b"startxref\n%d\n%%%%EOF\n"
        % (num, upd_at, int(base[startxref:].split()[1]), len(base) + len(update))
    )
    updated = base + update + trailer
    assert extract_pdf_text(updated).strip() == "edited text"
    # the original, un-appended file still reads the original text
    assert extract_pdf_text(base).strip() == "original text"
