"""Structure-level unit tests (no Spark): CFB container, XLS cells, PPT
record walk, encodings, normalization — mirroring the reference's UnitTests
(/root/reference/UnitTests/CompoundFileExtract.cs, DocFileFormat.cs,
SymbolHandlingTests.cs)."""

from __future__ import annotations

import os
import struct

import pytest

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats import ppt
from b2xtranslator_spark.formats.cfb import CfbError, CompoundFile
from b2xtranslator_spark.formats.word.document import WordBinaryDocument
from b2xtranslator_spark.formats.word.encodings import (
    decode_piece,
    decode_single_byte,
    decode_utf16le,
    resolve_single_byte_codepage,
)
from b2xtranslator_spark.formats.word.extract import normalize_text
from b2xtranslator_spark.formats.word.symbols import (
    convert_symbol_character,
    convert_symbol_hex,
)

SIMPLE_DOC = "/root/reference/UnitTests/files/simple.doc"
SIMPLE_XLS = "/root/reference/UnitTests/files/simple.xls"

needs_ref = pytest.mark.skipif(
    not os.path.exists(SIMPLE_DOC), reason="reference corpus unavailable"
)


@needs_ref
def test_cfb_streams_of_simple_doc():
    cf = CompoundFile(open(SIMPLE_DOC, "rb").read())
    assert cf.has_stream("WordDocument")
    assert cf.has_stream("1Table") or cf.has_stream("0Table")
    ws = cf.get_stream("WordDocument")
    assert struct.unpack_from("<H", ws, 0)[0] == 0xA5EC  # wIdent magic


def test_cfb_rejects_garbage():
    with pytest.raises(CfbError, match="Magic Number not found"):
        CompoundFile(b"{\\rtf1 this is not a compound file" + b"\x00" * 600)


# -- CFB sector-chain guards (AbstractFat.GetSectorChain) ----------------------

_INVALID_SID = "Chain could not be build due to an invalid sector id."
_SIZE_MISMATCH = (
    "The number of sectors used by WordDocument does not match the specified size."
)


def _cfb_with_fat_edits(edits: dict[int, int]) -> bytes:
    """One 4096-byte stream in sectors 0..7 with FAT entries overwritten;
    the single FAT sector is the one the header's DIFAT[0] (0x4C) names."""
    from perfbench.docgen import write_cfb

    data = bytearray(write_cfb([("WordDocument", b"x" * 4096)]))
    fat_at = 512 + 512 * struct.unpack_from("<I", data, 0x4C)[0]
    for sid, nxt in edits.items():
        struct.pack_into("<I", data, fat_at + 4 * sid, nxt)
    return bytes(data)


def test_cfb_intact_chain_reads():
    cf = CompoundFile(_cfb_with_fat_edits({}))
    assert cf.get_stream("WordDocument") == b"x" * 4096


@pytest.mark.parametrize(
    "edits, message",
    [
        ({1: 0xFFFFFFFF}, _INVALID_SID),  # next sector is FREESECT
        ({1: 10_000}, _INVALID_SID),  # next sector past the FAT
        ({3: 1}, _SIZE_MISMATCH),  # cycle 1 -> 2 -> 3 -> 1
        ({7: 8, 8: 0xFFFFFFFE}, _SIZE_MISMATCH),  # one sector too many
        ({5: 0xFFFFFFFE}, _SIZE_MISMATCH),  # two sectors too few
    ],
    ids=["freesect", "past-fat", "cycle", "too-long", "too-short"],
)
def test_cfb_chain_guards(edits, message):
    cf = CompoundFile(_cfb_with_fat_edits(edits))
    with pytest.raises(CfbError) as err:
        cf.get_stream("WordDocument")
    assert str(err.value) == message


@needs_ref
def test_word_document_structures():
    doc = WordBinaryDocument(CompoundFile(open(SIMPLE_DOC, "rb").read()))
    assert doc.fib.ccp_text > 0
    assert len(doc.piece_table.pieces) >= 1
    assert len(doc.text) >= doc.fib.ccp_text
    assert len(doc.all_papx) > 0
    # CP->FC mapping is monotone over the main document
    fcs = [doc.piece_table.cp_to_fc(cp) for cp in range(0, doc.fib.ccp_text, 7)]
    assert all(fc is not None for fc in fcs)


def _chpx_page(rgfc: list[int], word_offset: int) -> bytes:
    """One CHPX FKP whose runs all point at a bold grpprl (cb 3) placed at
    byte 2 * word_offset."""
    page = bytearray(512)
    crun = len(rgfc) - 1
    struct.pack_into(f"<{crun + 1}i", page, 0, *rgfc)
    page[4 * (crun + 1) : 4 * (crun + 1) + crun] = bytes([word_offset]) * crun
    at = 2 * word_offset
    chpx = b"\x03\x35\x08\x01"
    page[at : at + len(chpx)] = chpx[: 512 - at]
    page[511] = crun
    return bytes(page)


def test_chpx_fkps_truncate_at_the_first_bad_page():
    """GetAllCHPXFKPs swallows the first page that throws and keeps only the
    pages before it: of three pages whose middle one holds a CHPX running
    out of the page (bytes 510-513), the first page alone is returned."""
    from b2xtranslator_spark.formats.word.fkp import get_all_chpx_fkps

    pages = [_chpx_page([0, 10], 200), _chpx_page([10, 20], 255), _chpx_page([20, 30], 200)]
    word_stream = bytes(512) + b"".join(pages)
    bin_table = struct.pack("<4i3i", 0, 10, 20, 30, 1, 2, 3)  # PlcfBte: 4 FCs, 3 pages
    table_stream = b"\x00" * 8 + bin_table
    fkps = get_all_chpx_fkps(8, len(bin_table), word_stream, table_stream)
    assert [f.rgfc for f in fkps] == [[0, 10]]
    assert fkps[0].grpchpx == [[(0x0835, b"\x01")]]
    # the same three pages with a good middle page all load
    pages[1] = _chpx_page([10, 20], 200)
    fkps = get_all_chpx_fkps(8, len(bin_table), bytes(512) + b"".join(pages), table_stream)
    assert [f.rgfc for f in fkps] == [[0, 10], [10, 20], [20, 30]]


@needs_ref
def test_xls_simple_cells():
    res = extract_payload_text(open(SIMPLE_XLS, "rb").read())
    assert (res.kind, res.status) == ("xls", "ok")
    assert "Hello World" in res.text
    assert "1" in res.text and "4" in res.text


def test_single_byte_decode_dotnet_semantics():
    # cp1252 undefined bytes decode to same-valued C1 controls (as in .NET)
    assert decode_single_byte(b"\x81\x8d", 1252) == "\x81\x8d"
    assert decode_single_byte(b"\x93hi\x94", 1252) == "“hi”"


def test_utf16_odd_length_gets_replacement_char():
    assert decode_utf16le(b"a\x00b") == "a�"


def test_codepage_resolution_from_lid():
    assert resolve_single_byte_codepage(0x0419, 0, 0) == 1251  # ru
    assert resolve_single_byte_codepage(0x0407, 0, 0) == 1252  # de
    assert resolve_single_byte_codepage(0, 0, 1250) == 1250  # explicit DOP
    assert resolve_single_byte_codepage(0, 0, 0) == 1252  # default


def test_utf8_mojibake_repair():
    text = "Café – naïve".encode("utf-8")
    # decoded as cp1252 it shows Ã©/â€" mojibake; the heuristic repairs it
    assert decode_piece(text, 1252) == "Café – naïve"


# -- Word leg encoding heuristics (PieceTable.cs:389-611) ----------------------


def _reference_decode_piece(data: bytes, codepage: int) -> str:
    """PieceTable.DecodeChars stated directly: every verdict counts characters
    over the decoded candidate texts."""
    text = decode_single_byte(data, codepage)
    if codepage == 10000:
        win = decode_single_byte(data, 1252)
        if any(w in "‘’“”–—…" and m in "ëíìîñó" for m, w in zip(text, win)):
            return win
        return text
    if codepage not in (1252, 28591):
        return text

    def mojibake(t: str) -> int:
        return sum(
            1
            for a, b in zip(t, t[1:])
            if a in "\u00c3\u00c2\u00e2"
            and ("\u0080" <= b <= "\u00bf" or b in "\u20ac\u2122")
        )

    def embedded(t: str, chars: str) -> bool:
        return any(
            c in chars and 0 < i < len(t) - 1 and t[i - 1].isalpha()
            and t[i + 1].isalpha()
            for i, c in enumerate(t)
        )

    cyrillic = decode_single_byte(data, 1251)
    supp = sum(1 for c in text if "\u00c0" <= c <= "\u00ff" and c not in "\u00d7\u00f7")
    letters = sum(1 for c in text if c.isalpha())
    ascii_letters = sum(1 for c in text if c.isascii() and c.isalpha())
    cyr = sum(1 for c in cyrillic if "\u0400" <= c <= "\u04ff" and c.isalpha())
    if (
        supp >= 6
        and letters >= 6
        and ascii_letters <= max(1, letters // 5)
        and cyr * 10 >= letters * 7
    ):
        text = cyrillic
    else:
        before = mojibake(text)
        try:
            utf8 = data.decode("utf-8")
        except UnicodeDecodeError:
            utf8 = ""
        if (
            before >= 2
            and utf8
            and utf8 != text
            and mojibake(utf8) < before
            and sum(1 for c in utf8 if "\u00c0" <= c <= "\u024f" and c.isalpha())
            >= min(2, before)
        ):
            text = utf8
    if embedded(text, "øØ"):
        central = decode_single_byte(data, 1250)
        if embedded(central, "řŘ"):
            text = central
    return text


_UTF8_UNITS = [c.encode("utf-8") for c in "éèüñçåøÀ–’€™"]


def _random_piece(rng) -> bytes:
    """Bytes drawn from weighted pools: Latin-1-supplement/Cyrillic range
    0xC0-0xFF, cp1252 smart punctuation 0x91-0x9F, whole UTF-8 sequences
    (lead byte + continuation), o-slash, ASCII letters and any byte. Each
    piece draws its own pool weights, so some pieces are pure UTF-8 and some
    carry no ASCII at all."""
    weights = [rng.random() if rng.random() < 0.7 else 0.0 for _ in range(6)]
    weights[4] += 0.01
    out = bytearray()
    for _ in range(rng.randint(0, 60)):
        pool = rng.choices(range(6), weights)[0]
        if pool == 0:
            out.append(rng.randint(0xC0, 0xFF))
        elif pool == 1:
            out.append(rng.randint(0x91, 0x9F))
        elif pool == 2:
            out += rng.choice(_UTF8_UNITS)
        elif pool == 3:
            out.append(rng.choice(b"\xf8\xd8"))
        elif pool == 4:
            out.append(rng.choice(b"abcdefghijklmnopqrstuvwxyz ABCXYZ"))
        else:
            out.append(rng.randint(0, 255))
    return bytes(out)


def test_decode_piece_matches_character_count_reference():
    import random

    rng = random.Random(20261017)
    repaired = {1252: 0, 28591: 0, 10000: 0}
    for codepage in (1252, 28591, 1250, 10000):
        for _ in range(3000):
            data = _random_piece(rng)
            got = decode_piece(data, codepage)
            assert got == _reference_decode_piece(data, codepage), (codepage, data)
            if codepage in repaired and got != decode_single_byte(data, codepage):
                repaired[codepage] += 1
    # the draw reaches the repair branches, not only the clean path
    assert all(n >= 20 for n in repaired.values()), repaired


def test_cyrillic_under_cp1252_is_repaired():
    russian = "Привет мир, это проверка текста"
    assert decode_piece(russian.encode("cp1251"), 1252) == russian
    assert decode_piece(russian.encode("cp1251"), 28591) == russian


def test_french_accented_text_is_left_alone():
    french = "Noël à l'hôtel: le garçon déjà très âgé préféra où être"
    assert decode_piece(french.encode("cp1252"), 1252) == french


def test_cp1250_r_caron_is_repaired():
    czech = "Dvořák a přítel"
    # cp1250 0xF8 (r-caron) reads as o-slash under cp1252
    assert decode_single_byte(czech.encode("cp1250"), 1252) == "Dvoøák a pøítel"
    assert decode_piece(czech.encode("cp1250"), 1252) == czech


def test_symbol_conversion():
    assert convert_symbol_character(0x61, "Symbol") == "α"
    assert convert_symbol_hex("f061", "Symbol") == "α"
    assert convert_symbol_character(0x4C, "Wingdings") == "♥"
    assert convert_symbol_character(0xB0, "Wingdings") == "?"
    assert convert_symbol_character(0x21, "Symbol") == "!"


def test_normalize_text_contract():
    # mirrors NormalizeText (SampleDocFileTextExtractionTests.cs:111-132)
    assert normalize_text("a\r\nb\rc") == "a\nb\nc"
    assert normalize_text("a\tb") == "ab"
    assert normalize_text("a\n\n\nb") == "a\nb"
    assert normalize_text("  a  \n   \n b ") == "a\nb"
    assert normalize_text("x \n\n") == "x"


def _rec(ver_inst: int, rtype: int, payload: bytes) -> bytes:
    return struct.pack("<HHI", ver_inst, rtype, len(payload)) + payload


def test_ppt_record_walk_collects_text_atoms():
    inner = _rec(0, ppt.RT_TEXT_CHARS, "Slide one".encode("utf-16-le")) + _rec(
        0, ppt.RT_TEXT_BYTES, b"Second\rline"
    )
    container = _rec(0x000F, ppt.RT_SLIDE, inner)
    out: list[str] = []
    ppt._collect_text(container, 0, len(container), out)
    assert out == ["Slide one", "Second\nline"]


def test_ppt_persist_directory_last_edit_wins():
    # stream layout: [dir2][dir1][edit1 -> dir1][edit2 -> dir2, lastEdit=edit1]
    dir2 = _rec(0, ppt.RT_PERSIST_DIRECTORY, struct.pack("<II", (1 << 20) | 1, 111))
    dir1_off = len(dir2)
    dir1 = _rec(0, ppt.RT_PERSIST_DIRECTORY, struct.pack("<II", (1 << 20) | 1, 222))
    edit1_off = dir1_off + len(dir1)
    edit1 = _rec(
        0,
        ppt.RT_USER_EDIT_ATOM,
        struct.pack("<IIIIII", 0, 0, 0, dir1_off, 1, 2) + b"\x00" * 4,
    )
    edit2_off = edit1_off + len(edit1)
    edit2 = _rec(
        0,
        ppt.RT_USER_EDIT_ATOM,
        struct.pack("<IIIIII", 0, 0, edit1_off, 0, 1, 2) + b"\x00" * 4,
    )
    stream = dir2 + dir1 + edit1 + edit2
    persist, doc_ref = ppt._persist_directory(stream, edit2_off)
    assert doc_ref == 1
    assert persist[1] == 111  # newest edit's directory entry wins


@needs_ref
def test_extract_urls_flag():
    from b2xtranslator_spark.formats.word.extract import extract_doc_text

    # a sample whose expected text carries "display (url)" hyperlinks
    doc = "/root/reference/samples/hyperlink.doc"
    if not os.path.exists(doc):
        pytest.skip("hyperlink sample missing")
    payload = open(doc, "rb").read()
    with_urls = extract_doc_text(payload, extract_urls=True)
    without = extract_doc_text(payload, extract_urls=False)
    assert "http" in with_urls
    assert len(without) <= len(with_urls)


def test_payload_size_cap():
    from b2xtranslator_spark.extractors import extract_payload_text

    class FakeHuge(bytes):
        def __len__(self):  # avoid allocating 256MB in the test
            return 300 * 1024 * 1024

    res = extract_payload_text(FakeHuge(b"x"))
    assert res.status == "oversize"
    assert "size cap" in res.error


def _zip(members: list[tuple[str, str]]) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


def _sniff_cases():
    """One payload per row of the extractor's format table, in table order,
    plus the edges around it: (id, payload, force_kind, kind, status, detail),
    where detail is a substring of the text (ok) or of the error."""
    import gzip

    import numpy as np

    from b2xtranslator_spark.sources.binfixtures import (
        build_docx_fixture,
        build_ppt_fixture,
        build_xls_fixture,
    )
    from perfbench.docgen import write_cfb

    page = b"<html><body><p>hello page</p></body></html>"
    odt = _zip([
        ("mimetype", "application/vnd.oasis.opendocument.text"),
        ("content.xml",
         "<office:document-content "
         "xmlns:office='urn:oasis:names:tc:opendocument:xmlns:office:1.0' "
         "xmlns:text='urn:oasis:names:tc:opendocument:xmlns:text:1.0'>"
         "<office:body><office:text><text:p>odt words</text:p></office:text>"
         "</office:body></office:document-content>"),
    ])
    epub = _zip([
        ("mimetype", "application/epub+zip"),
        ("ch1.xhtml", "<html><body><p>epub words</p></body></html>"),
    ])
    eml = b"From: a@example.com\r\nSubject: hi\r\n\r\nmail body line\r\n"
    pdf = b"%PDF-1.4\n1 0 obj\n<</Type/Catalog>>\nendobj\n%%EOF\n"
    noise = bytes(np.random.default_rng(5).integers(0, 256, 512, dtype=np.uint8))
    zip_none = "zip container without a recognized OOXML/ODF part"
    return [
        ("html", page, None, "html", "ok", "hello page"),
        ("rtf", rb"{\rtf1\ansi rtf words\par}", None, "rtf", "ok", "rtf words"),
        ("eml", eml, None, "eml", "ok", "mail body line"),
        ("pdf", pdf, None, "pdf", "ok", ""),
        ("docx", build_docx_fixture()[0], None, "docx", "ok", "Synthetic DOCX"),
        ("odt", odt, None, "odt", "ok", "odt words"),
        ("epub", epub, None, "epub", "ok", "epub words"),
        ("text", b"plain words in a short note\n", None, "text", "ok", "plain words"),
        ("xls", build_xls_fixture()[0], None, "xls", "ok", "alpha"),
        ("ppt", build_ppt_fixture()[0], None, "ppt", "ok", "Slide one body"),
        ("gzip-html", gzip.compress(page), None, "html", "ok", "hello page"),
        ("forced-html", b"just words", "html", "html", "ok", "just words"),
        ("corrupt-zip", b"PK\x03\x04" + b"\x00" * 60, None, "unknown",
         "unsupported", zip_none),
        ("cfb-no-stream", write_cfb([("Other", b"x")]), None, "unknown",
         "unsupported", "no recognized document stream in container"),
        ("random", noise, None, "unknown", "parse_error", "Magic Number not found"),
    ]


@pytest.mark.parametrize(
    "payload,force_kind,kind,status,detail",
    [pytest.param(*case[1:], id=case[0]) for case in _sniff_cases()],
)
def test_dispatch_sniff_order(payload, force_kind, kind, status, detail):
    from b2xtranslator_spark.extractors import extract_payload_text

    res = extract_payload_text(payload, force_kind=force_kind)
    assert (res.kind, res.status) == (kind, status)
    if status == "ok":
        assert res.error is None and detail in res.text
    else:
        assert res.text == "" and res.error.startswith(detail)


# -- PictureDescriptor error-parity replay (ADVICE r03) -----------------------


def _pic_chpx(fc: int = 0):
    from b2xtranslator_spark.formats.word.sprm import SPRM_C_PIC_LOCATION

    return [(SPRM_C_PIC_LOCATION, struct.pack("<i", fc))]


def _pic_prefix(lcb: int = 1000, mm: int = 99) -> bytes:
    """Bytes up through cProps: lcb(4) cbHeader(2) mm(2) xExt/yExt/hMf(6)
    rcWinMf(14) 9x int16(18) 4 BorderCodes(16) dxaOrigin/dyaOrigin/cProps(6)."""
    return (
        struct.pack("<ihh", lcb, 0, mm)
        + b"\x00" * 6
        + b"\x00" * 14
        + b"\x00" * 18
        + b"\x00" * 16
        + b"\x00" * 6
    )


def test_picture_parity_truncation_at_record_header_raises():
    """A Data stream ending between cProps and Record.ReadRecord's 8-byte
    header throws EndOfStream in the reference (Record.cs:254-259)."""
    from b2xtranslator_spark.formats.word.mapping import (
        PictureParseError,
        _picture_error_parity,
    )

    stream = _pic_prefix()
    assert len(stream) == 68
    with pytest.raises(PictureParseError):
        _picture_error_parity(_pic_chpx(), stream)
    # a partial header (2 of 8 bytes) still throws
    with pytest.raises(PictureParseError):
        _picture_error_parity(_pic_chpx(), stream + b"\x00\x00")


def test_picture_parity_unknown_record_body_clamps_no_throw():
    """An unknown record type with an oversized declared body clamps via
    ReadBytes (Record.cs:67-74) — no exception, matching the reference."""
    from b2xtranslator_spark.formats.word.mapping import _picture_error_parity

    header = struct.pack("<HHI", 0, 0x1234, 0xFFFF)  # unknown type, huge size
    _picture_error_parity(_pic_chpx(), _pic_prefix() + header)  # must not raise


def test_picture_parity_container_truncated_child_header_raises():
    """A ShapeContainer whose RawData truncates mid-child-header replays
    RegularContainer.cs:25-47's EndOfStream."""
    from b2xtranslator_spark.formats.word.mapping import (
        PictureParseError,
        _picture_error_parity,
    )

    header = struct.pack("<HHI", 0x000F, 0xF004, 16)  # container, 16-byte body
    with pytest.raises(PictureParseError):
        _picture_error_parity(_pic_chpx(), _pic_prefix() + header + b"\x00" * 4)


def test_picture_parity_deep_container_nest_terminates():
    """A crafted self-similar container nest must terminate (depth cap), not
    crash the extractor with a RecursionError."""
    from b2xtranslator_spark.formats.word.mapping import _picture_error_parity

    # each level: header declaring a container child filling the rest
    depth_bytes = b""
    for level in range(200):
        size = 8 * (200 - level)
        depth_bytes += struct.pack("<HHI", 0x000F, 0xF003, size)
    header = struct.pack("<HHI", 0x000F, 0xF004, len(depth_bytes))
    _picture_error_parity(_pic_chpx(), _pic_prefix() + header + depth_bytes)
