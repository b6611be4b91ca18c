"""Modern Office (OOXML) extraction: synthesized docx/xlsx/pptx golden
fixtures with hand-declared expected text — the modern twins of the
legacy binary legs, same text conventions (cells->tabs, rows/paragraphs->
newlines, hyperlinks as 'display (url)')."""

from __future__ import annotations

import io
import zipfile

import pytest

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.ooxml import (
    extract_docx_parts,
    extract_pptx_parts,
    extract_xlsx_parts,
    looks_like_ooxml,
    ooxml_kind,
)

W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
S_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
REL_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'


def _zip(members: dict[str, str | bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def make_docx(body_xml: str, rels_xml: str = "") -> bytes:
    doc = (
        f'<?xml version="1.0"?><w:document {W_NS} {R_NS}>'
        f"<w:body>{body_xml}</w:body></w:document>"
    )
    members = {
        "[Content_Types].xml": "<Types/>",
        "word/document.xml": doc,
    }
    if rels_xml:
        members["word/_rels/document.xml.rels"] = (
            f'<?xml version="1.0"?><Relationships {REL_NS}>'
            f"{rels_xml}</Relationships>"
        )
    return _zip(members)


DOCX_BODY = (
    "<w:p><w:r><w:t>Heading text</w:t></w:r></w:p>"
    "<w:p><w:r><w:t xml:space='preserve'>Body with </w:t></w:r>"
    "<w:r><w:rPr/><w:t>styled runs</w:t></w:r>"
    "<w:r><w:tab/><w:t>after tab</w:t></w:r></w:p>"
    '<w:p><w:r><w:t>See </w:t></w:r><w:hyperlink r:id="rId7">'
    "<w:r><w:t>the docs</w:t></w:r></w:hyperlink></w:p>"
    "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>A1</w:t></w:r></w:p></w:tc>"
    "<w:tc><w:p><w:r><w:t>B1</w:t></w:r></w:p></w:tc></w:tr>"
    "<w:tr><w:tc><w:p><w:r><w:t>A2</w:t></w:r></w:p></w:tc>"
    "<w:tc><w:p><w:r><w:t>B2</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
    "<w:sdt><w:sdtContent><w:p><w:r><w:t>inside control</w:t></w:r></w:p>"
    "</w:sdtContent></w:sdt>"
)
DOCX_RELS = '<Relationship Id="rId7" Target="https://x.io/d" Type="h"/>'
DOCX_EXPECTED = (
    "Heading text\n"
    "Body with styled runs\tafter tab\n"
    "See the docs (https://x.io/d)\n"
    "A1\tB1\n"
    "A2\tB2\n"
    "inside control"
)


def test_docx_golden():
    payload = make_docx(DOCX_BODY, DOCX_RELS)
    text, elements, spans = extract_docx_parts(payload)
    assert text == DOCX_EXPECTED
    assert elements > 3
    assert "".join(text[s:e] for _, s, e in spans) == text


def test_docx_hyperlinks_follow_reference_conventions():
    # display == url -> bare url; extract_urls=False -> display only
    body = (
        '<w:p><w:hyperlink r:id="rId1"><w:r><w:t>https://x.io</w:t></w:r>'
        "</w:hyperlink></w:p>"
    )
    rels = '<Relationship Id="rId1" Target="https://X.io" Type="h"/>'
    text, _, _ = extract_docx_parts(make_docx(body, rels))
    assert text == "https://X.io"
    text, _, _ = extract_docx_parts(
        make_docx(DOCX_BODY, DOCX_RELS), extract_urls=False
    )
    assert "See the docs\n" in text + "\n"
    # internal anchor renders the reference's \l notation
    body = (
        '<w:p><w:hyperlink w:anchor="sec1"><w:r><w:t>jump</w:t></w:r>'
        "</w:hyperlink></w:p>"
    )
    text, _, _ = extract_docx_parts(make_docx(body))
    assert text == 'jump (\\l "sec1")'


def make_xlsx() -> bytes:
    wb = (
        f'<?xml version="1.0"?><workbook {S_NS} {R_NS}><sheets>'
        '<sheet name="Data" sheetId="1" r:id="rId1"/>'
        '<sheet name="Empty" sheetId="2" r:id="rId2"/>'
        "</sheets></workbook>"
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {REL_NS}>'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>'
        '<Relationship Id="rId2" Target="worksheets/sheet2.xml" Type="w"/>'
        "</Relationships>"
    )
    sst = (
        f'<?xml version="1.0"?><sst {S_NS} count="2" uniqueCount="2">'
        "<si><t>alpha</t></si>"
        "<si><r><rPr/><t>rich</t></r><r><t xml:space='preserve'> run</t></r></si>"
        "</sst>"
    )
    sheet1 = (
        f'<?xml version="1.0"?><worksheet {S_NS}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="C1"><v>3.25</v></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><t>inline</t></is></c>'
        '<c r="B2" t="b"><v>1</v></c>'
        '<c r="C2" t="str"><v>formula result</v></c>'
        '<c r="D2"><v>7</v></c></row>'
        "</sheetData></worksheet>"
    )
    sheet2 = f'<?xml version="1.0"?><worksheet {S_NS}><sheetData/></worksheet>'
    return _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/sharedStrings.xml": sst,
            "xl/worksheets/sheet1.xml": sheet1,
            "xl/worksheets/sheet2.xml": sheet2,
        }
    )


XLSX_EXPECTED = (
    "Data\n"
    "alpha\trich run\t3.25\n"
    "inline\tTRUE\tformula result\t7\n"
    "Empty"
)


def test_xlsx_golden():
    text, records, spans = extract_xlsx_parts(make_xlsx())
    assert text == XLSX_EXPECTED
    assert records == 7
    assert "".join(text[s:e] for _, s, e in spans) == text


def make_pptx() -> bytes:
    def slide(*paras: str) -> str:
        body = "".join(
            f"<a:p><a:r><a:t>{p}</a:t></a:r></a:p>" for p in paras
        )
        return (
            f'<?xml version="1.0"?><p:sld '
            f'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
            f"{A_NS}><p:cSld><p:spTree><p:sp><p:txBody>{body}</p:txBody>"
            "</p:sp></p:spTree></p:cSld></p:sld>"
        )

    return _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "ppt/presentation.xml": "<p/>",
            # slide10 before slide2 in the archive: numeric order must win
            "ppt/slides/slide10.xml": slide("last slide"),
            "ppt/slides/slide1.xml": slide("Title slide", "subtitle"),
            "ppt/slides/slide2.xml": slide("second"),
        }
    )


PPTX_EXPECTED = "Title slide\nsubtitle\nsecond\nlast slide"


def test_pptx_golden_numeric_slide_order():
    text, records, spans = extract_pptx_parts(make_pptx())
    assert text == PPTX_EXPECTED
    assert records == 4
    assert "".join(text[s:e] for _, s, e in spans) == text


def test_dispatch_by_marker_part():
    for payload, kind, expected in (
        (make_docx(DOCX_BODY, DOCX_RELS), "docx", DOCX_EXPECTED),
        (make_xlsx(), "xlsx", XLSX_EXPECTED),
        (make_pptx(), "pptx", PPTX_EXPECTED),
    ):
        assert looks_like_ooxml(payload)
        assert ooxml_kind(payload) == kind
        res = extract_payload_text(payload)
        assert res.status == "ok", res.error
        assert res.kind == kind
        assert res.text == expected
        assert res.metrics["spans"]


def test_plain_zip_is_unsupported_not_crash():
    payload = _zip({"readme.txt": "not an office file"})
    res = extract_payload_text(payload)
    assert res.status == "unsupported"
    assert "OOXML" in res.error


def test_hostile_zip_and_xml_never_raise():
    import time

    import numpy as np

    rng = np.random.default_rng(31337)
    for base in (make_docx(DOCX_BODY, DOCX_RELS), make_xlsx(), make_pptx()):
        buf = bytearray(base)
        for _ in range(60):
            mutated = bytearray(buf)
            idx = rng.integers(0, len(mutated), size=int(rng.integers(1, 25)))
            vals = rng.integers(0, 256, size=len(idx))
            for i, v in zip(idx, vals):
                mutated[i] = v
            t0 = time.perf_counter()
            res = extract_payload_text(bytes(mutated))
            assert time.perf_counter() - t0 < 10
            assert res.status in ("ok", "parse_error", "unsupported", "timeout")


def test_zip_bomb_member_is_rejected():
    # a single member that decompresses far beyond the cap must be refused,
    # not ballooned
    from b2xtranslator_spark import budget

    old = budget.MAX_PAYLOAD_BYTES
    budget.MAX_PAYLOAD_BYTES = 1 << 20
    try:
        big = _zip(
            {
                "[Content_Types].xml": "<Types/>",
                "word/document.xml": b"\x00" * (4 << 20),
            }
        )
        res = extract_payload_text(big)
        assert res.status == "oversize"
        assert "cap" in (res.error or "")
    finally:
        budget.MAX_PAYLOAD_BYTES = old


def test_pipeline_ooxml_end_to_end(spark):
    import base64
    import datetime

    from b2xtranslator_spark.pipeline import PAYLOAD_PREFIX, run_extraction

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", i, "tool",
         PAYLOAD_PREFIX + base64.b64encode(p).decode(), None, ts)
        for i, p in enumerate(
            (make_docx(DOCX_BODY, DOCX_RELS), make_xlsx(), make_pptx())
        )
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {r["turn_idx"]: r for r in run_extraction(df).collect()}
    assert out[0]["text"] == DOCX_EXPECTED
    assert out[1]["text"] == XLSX_EXPECTED
    assert out[2]["text"] == PPTX_EXPECTED


def test_docx_footnotes_endnotes_comments_follow_body():
    """Subdocuments append in the legacy doc-leg order (main, footnotes,
    endnotes, comments); separator notes are machinery, not text."""
    W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    fn = (
        f'<?xml version="1.0"?><w:footnotes xmlns:w="{W}">'
        '<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:t>SEP</w:t>'
        "</w:r></w:p></w:footnote>"
        '<w:footnote w:id="1"><w:p><w:r><w:t>a footnote</w:t></w:r></w:p>'
        "</w:footnote></w:footnotes>"
    )
    en = (
        f'<?xml version="1.0"?><w:endnotes xmlns:w="{W}">'
        '<w:endnote w:id="1"><w:p><w:r><w:t>an endnote</w:t></w:r></w:p>'
        "</w:endnote></w:endnotes>"
    )
    cm = (
        f'<?xml version="1.0"?><w:comments xmlns:w="{W}">'
        '<w:comment w:id="0"><w:p><w:r><w:t>a comment</w:t></w:r></w:p>'
        "</w:comment></w:comments>"
    )
    doc = (
        f'<?xml version="1.0"?><w:document xmlns:w="{W}"><w:body>'
        "<w:p><w:r><w:t>body text</w:t></w:r></w:p></w:body></w:document>"
    )
    payload = _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "word/document.xml": doc,
            "word/footnotes.xml": fn,
            "word/endnotes.xml": en,
            "word/comments.xml": cm,
        }
    )
    text, _, spans = extract_docx_parts(payload)
    assert text == "body text\na footnote\nan endnote\na comment"
    assert [p for p, _, _ in spans] == ["main", "footnotes", "endnotes", "comments"]
    assert "SEP" not in text


def test_pptx_notes_slides_follow_slides():
    P = "http://schemas.openxmlformats.org/presentationml/2006/main"
    A = "http://schemas.openxmlformats.org/drawingml/2006/main"

    def part(text):
        return (
            f'<?xml version="1.0"?><p:sld xmlns:p="{P}" xmlns:a="{A}">'
            f"<p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r><a:t>{text}"
            "</a:t></a:r></a:p></p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
        )

    payload = _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "ppt/presentation.xml": "<p/>",
            "ppt/slides/slide1.xml": part("slide one"),
            "ppt/notesSlides/notesSlide1.xml": part("speaker note"),
            "ppt/slides/slide2.xml": part("slide two"),
        }
    )
    text, _, _ = extract_pptx_parts(payload)
    assert text == "slide one\nslide two\nspeaker note"


def test_docx_fldsimple_hyperlink_renders():
    body = (
        '<w:p><w:r><w:t>go </w:t></w:r><w:fldSimple '
        'w:instr=\' HYPERLINK "https://f.io" \'>'
        "<w:r><w:t>field link</w:t></w:r></w:fldSimple></w:p>"
    )
    text, _, _ = extract_docx_parts(make_docx(body))
    assert text == "go field link (https://f.io)"
    # non-hyperlink simple field keeps its cached display
    body = (
        "<w:p><w:fldSimple w:instr=' PAGE '>"
        "<w:r><w:t>7</w:t></w:r></w:fldSimple></w:p>"
    )
    text, _, _ = extract_docx_parts(make_docx(body))
    assert text == "7"


def test_xlsx_absolute_rel_target_resolves():
    wb = (
        f'<?xml version="1.0"?><workbook {S_NS} {R_NS}><sheets>'
        '<sheet name="Abs" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {REL_NS}>'
        '<Relationship Id="rId1" Target="/xl/worksheets/sheet1.xml" Type="w"/>'
        "</Relationships>"
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet {S_NS}><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>abs ok</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    payload = _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/worksheets/sheet1.xml": sheet,
        }
    )
    text, _, _ = extract_xlsx_parts(payload)
    assert text == "Abs\nabs ok"


def test_xlsx_cells_without_refs_keep_order():
    """Cells omitting r= take implicit sequential positions — they must
    not all collide at column 0."""
    sheet = (
        f'<?xml version="1.0"?><worksheet {S_NS}><sheetData>'
        '<row><c t="inlineStr"><is><t>first</t></is></c>'
        '<c t="inlineStr"><is><t>second</t></is></c>'
        '<c r="D1" t="inlineStr"><is><t>jumped</t></is></c>'
        '<c t="inlineStr"><is><t>after</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    wb = (
        f'<?xml version="1.0"?><workbook {S_NS} {R_NS}><sheets>'
        '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {REL_NS}>'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>'
        "</Relationships>"
    )
    payload = _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/worksheets/sheet1.xml": sheet,
        }
    )
    text, _, _ = extract_xlsx_parts(payload)
    assert text == "S\nfirst\tsecond\tjumped\tafter"


def test_docx_tracked_deletions_are_filtered():
    """w:delText (tracked deletions) is not w:t — deleted runs stay out of
    the extraction, matching the legacy leg's deleted-run filter (P7)."""
    body = (
        "<w:p><w:r><w:t>kept </w:t></w:r>"
        '<w:del><w:r><w:delText>gone</w:delText></w:r></w:del>'
        "<w:r><w:t>also kept</w:t></w:r></w:p>"
    )
    text, _, _ = extract_docx_parts(make_docx(body))
    assert text == "kept also kept"


def test_xlsx_hyperlinks_render_on_cells():
    wb = (
        f'<?xml version="1.0"?><workbook {S_NS} {R_NS}><sheets>'
        '<sheet name="L" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wrels = (
        f'<?xml version="1.0"?><Relationships {REL_NS}>'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>'
        "</Relationships>"
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet {S_NS} {R_NS}><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>the site</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>plain</t></is></c></row>'
        "</sheetData>"
        '<hyperlinks><hyperlink ref="A1" r:id="rId5"/></hyperlinks>'
        "</worksheet>"
    )
    srels = (
        f'<?xml version="1.0"?><Relationships {REL_NS}>'
        '<Relationship Id="rId5" Target="https://s.io/x" Type="h"/>'
        "</Relationships>"
    )
    payload = _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": wrels,
            "xl/worksheets/sheet1.xml": sheet,
            "xl/worksheets/_rels/sheet1.xml.rels": srels,
        }
    )
    text, _, _ = extract_xlsx_parts(payload)
    assert text == "L\nthe site (https://s.io/x)\tplain"


def test_docx_tracked_insertions_are_included():
    """w:ins wraps accepted-view content: tracked insertions surface in
    the extraction (the complement of the w:delText filter)."""
    body = (
        "<w:p><w:r><w:t>base </w:t></w:r>"
        "<w:ins><w:r><w:t>added</w:t></w:r></w:ins></w:p>"
    )
    text, _, _ = extract_docx_parts(make_docx(body))
    assert text == "base added"


MC_NS = 'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006"'


def test_docx_alternatecontent_fallback_not_duplicated():
    """mc:AlternateContent carries the same textbox in mc:Choice AND
    mc:Fallback; emitting both duplicates the text (ADVICE r4). Only the
    Choice leg may surface."""
    body = (
        f"<w:p><w:r><mc:AlternateContent {MC_NS}>"
        '<mc:Choice Requires="wps">'
        "<w:r><w:t>textbox content</w:t></w:r></mc:Choice>"
        "<mc:Fallback><w:r><w:t>textbox content</w:t></w:r></mc:Fallback>"
        "</mc:AlternateContent></w:r></w:p>"
    )
    text, _, _ = extract_docx_parts(make_docx(body))
    assert text == "textbox content"
    assert text.count("textbox content") == 1


def test_xlsx_phonetic_runs_not_duplicated():
    """<rPh> furigana runs inside si/is are the phonetic READING of the
    base text — concatenating every t descendant emits the cell twice
    (ADVICE r4). Base text only, for shared and inline strings."""
    wb = (
        f'<?xml version="1.0"?><workbook {S_NS} {R_NS}><sheets>'
        '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {REL_NS}>'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>'
        "</Relationships>"
    )
    sst = (
        f'<?xml version="1.0"?><sst {S_NS}>'
        "<si><t>東京</t><rPh sb=\"0\" eb=\"2\"><t>トウキョウ</t></rPh>"
        "<phoneticPr fontId=\"1\"/></si>"
        "<si><r><t>大阪</t></r><rPh sb=\"0\" eb=\"2\"><t>オオサカ</t></rPh></si>"
        "</sst>"
    )
    sheet1 = (
        f'<?xml version="1.0"?><worksheet {S_NS}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="inlineStr"><is><t>京都</t>'
        '<rPh sb="0" eb="2"><t>キョウト</t></rPh></is></c></row>'
        "</sheetData></worksheet>"
    )
    payload = _zip(
        {
            "[Content_Types].xml": "<Types/>",
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/sharedStrings.xml": sst,
            "xl/worksheets/sheet1.xml": sheet1,
        }
    )
    text, _, _ = extract_xlsx_parts(payload)
    assert text == "S\n東京\t大阪\t京都"


def test_deeply_nested_runs_flatten_instead_of_recursion_error():
    """ADVICE r05: the docx run walk is an explicit-stack DFS, so a
    crafted deeply-nested run container extracts instead of raising."""
    import io
    import zipfile

    from b2xtranslator_spark.extractors import extract_payload_text

    w_ns = (
        'xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"'
    )
    deep = "<w:r>" * 3000 + "<w:t>deep</w:t>" + "</w:r>" * 3000
    doc_xml = (
        f'<?xml version="1.0"?><w:document {w_ns}>'
        f"<w:body><w:p>{deep}</w:p></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", doc_xml)
    res = extract_payload_text(buf.getvalue())
    assert res.status == "ok", res.error
    assert res.text == "deep"
