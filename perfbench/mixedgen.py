"""Seeded non-Word attachments with planted text, one builder per format.

Each builder takes a numpy Generator and returns (payload, expected): the
payload is the document bytes (or raw HTML for the ``markup:`` prefix) and
the expected text is what a reader of that document sees, one paragraph
per line. Words are drawn from vocabularies free of each format's escape
characters, so the expectation is stated without running any extractor.
"""

from __future__ import annotations

import datetime
import gzip
import io
import zipfile
import zlib

import numpy as np

WORDS = (
    "attachment forwarded invoice quarterly minutes agenda draft release "
    "notes budget review customer support ticket escalation summary the "
    "and of to in is for with on by from this that shipment warehouse "
    "policy renewal contract signed pending approved region north south "
    "east west partner vendor catalogue pricing discount"
).split()
_WIDE = WORDS + "café résumé Zürich naïve façade Ελλάδα Москва 東京".split()


def _line(rng: np.random.Generator, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(lo, hi))))


def _paras(rng, vocab, size: int, lo: int = 4, hi: int = 40) -> list[str]:
    out, total = [], 0
    while total < size or not out:
        p = _line(rng, vocab, lo, hi)
        out.append(p)
        total += len(p) + 1
    return out


def _zip(members: list[tuple[str, str, bool]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data, stored in members:
            if stored:
                zf.writestr(zipfile.ZipInfo(name), data, zipfile.ZIP_STORED)
            else:
                zf.writestr(name, data)
    return buf.getvalue()


def html(rng, size):
    title = _line(rng, _WIDE, 2, 6)
    paras = _paras(rng, _WIDE, size)
    items = [_line(rng, _WIDE, 1, 5) for _ in range(int(rng.integers(0, 4)))]
    body = f"<h1>{title}</h1>" + "".join(f"<p>{p}</p>" for p in paras)
    if items:
        body += "<ul>" + "".join(f"<li>{i}</li>" for i in items) + "</ul>"
    doc = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>skip</title>"
        f"<style>p{{margin:0}}</style></head><body>{body}"
        "<script>track()</script></body></html>"
    )
    return doc.encode("utf-8"), "\n".join([title, *paras, *items])


def pdf(rng, size):
    lines = _paras(rng, WORDS, size, 3, 14)
    ops = ["BT /F1 11 Tf 72 720 Td"]
    for i, ln in enumerate(lines):
        ops.append(("" if i == 0 else "0 -13 Td ") + f"({ln}) Tj")
    ops.append("ET")
    data = zlib.compress(" ".join(ops).encode("latin-1"))
    out = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n"
        b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1>>\nendobj\n"
        b"3 0 obj\n<</Type/Page/Parent 2 0 R/Contents 4 0 R>>\nendobj\n"
        b"4 0 obj\n<</Length " + str(len(data)).encode()
        + b"/Filter/FlateDecode>>stream\n" + data + b"\nendstream\nendobj\n"
        b"trailer<</Root 1 0 R>>\n%%EOF\n"
    )
    return out, "\n".join(lines)


def rtf(rng, size):
    paras = _paras(rng, WORDS, size)
    body = "".join(
        (r"\b " if i % 3 == 0 else "") + p.replace("the ", "the \\'e9t\\'e9 ", 1)
        + (r"\b0" if i % 3 == 0 else "") + r"\par " for i, p in enumerate(paras)
    )
    doc = (
        r"{\rtf1\ansi\ansicpg1252\deff0{\fonttbl{\f0\fswiss Arial;}}"
        r"{\info{\title skip me}}\f0\fs22 " + body + "}"
    )
    expected = [p.replace("the ", "the été ", 1) for p in paras]
    return doc.encode("latin-1"), "\n".join(expected)


_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_S_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_REL_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_P_NS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'


def docx(rng, size):
    paras = _paras(rng, _WIDE, size)
    body = "".join(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paras)
    doc = (f'<?xml version="1.0"?><w:document {_W_NS} {_R_NS}>'
           f"<w:body>{body}</w:body></w:document>")
    return _zip([("[Content_Types].xml", "<Types/>", False),
                 ("word/document.xml", doc, False)]), "\n".join(paras)


def xlsx(rng, size):
    sheet_name = "Sheet" + str(int(rng.integers(1, 99)))
    strings: list[str] = []
    rows: list[list[str]] = []
    total = 0
    while total < size or not rows:
        row = [_line(rng, WORDS, 1, 4) for _ in range(int(rng.integers(1, 5)))]
        rows.append(row)
        total += sum(len(c) + 1 for c in row)
    index: dict[str, int] = {}
    xml_rows = []
    for r, row in enumerate(rows, 1):
        cells = []
        for c, val in enumerate(row):
            if val not in index:
                index[val] = len(strings)
                strings.append(val)
            cells.append(f'<c r="{chr(65 + c)}{r}" t="s"><v>{index[val]}</v></c>')
        xml_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    wb = (f'<?xml version="1.0"?><workbook {_S_NS} {_R_NS}><sheets>'
          f'<sheet name="{sheet_name}" sheetId="1" r:id="rId1"/></sheets></workbook>')
    rels = (f'<?xml version="1.0"?><Relationships {_REL_NS}><Relationship '
            'Id="rId1" Target="worksheets/sheet1.xml" Type="w"/></Relationships>')
    sst = (f'<?xml version="1.0"?><sst {_S_NS}>'
           + "".join(f"<si><t>{s}</t></si>" for s in strings) + "</sst>")
    ws = (f'<?xml version="1.0"?><worksheet {_S_NS}><sheetData>'
          + "".join(xml_rows) + "</sheetData></worksheet>")
    payload = _zip([("[Content_Types].xml", "<Types/>", False),
                    ("xl/workbook.xml", wb, False),
                    ("xl/_rels/workbook.xml.rels", rels, False),
                    ("xl/sharedStrings.xml", sst, False),
                    ("xl/worksheets/sheet1.xml", ws, False)])
    return payload, "\n".join([sheet_name] + ["\t".join(r) for r in rows])


def pptx(rng, size):
    paras = _paras(rng, _WIDE, size, 2, 12)
    slides, k = [], 0
    while k < len(paras):
        n = int(rng.integers(1, 5))
        slides.append(paras[k : k + n])
        k += n
    members = [("[Content_Types].xml", "<Types/>", False),
               ("ppt/presentation.xml", "<p/>", False)]
    for i, sl in enumerate(slides, 1):
        body = "".join(f"<a:p><a:r><a:t>{p}</a:t></a:r></a:p>" for p in sl)
        members.append((
            f"ppt/slides/slide{i}.xml",
            f'<?xml version="1.0"?><p:sld {_P_NS} {_A_NS}><p:cSld><p:spTree>'
            f"<p:sp><p:txBody>{body}</p:txBody></p:sp></p:spTree></p:cSld></p:sld>",
            False,
        ))
    return _zip(members), "\n".join(paras)


_ODF_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
)


def odt(rng, size):
    head = _line(rng, _WIDE, 2, 6)
    paras = _paras(rng, _WIDE, size)
    inner = f"<text:h>{head}</text:h>" + "".join(f"<text:p>{p}</text:p>" for p in paras)
    content = (f'<?xml version="1.0" encoding="UTF-8"?>'
               f"<office:document-content {_ODF_NS}><office:body><office:text>"
               f"{inner}</office:text></office:body></office:document-content>")
    payload = _zip([("mimetype", "application/vnd.oasis.opendocument.text", True),
                    ("content.xml", content, False)])
    return payload, "\n".join([head, *paras])


def epub(rng, size):
    chapters = [_paras(rng, _WIDE, max(40, size // 3)) for _ in range(int(rng.integers(1, 4)))]
    manifest = "".join(
        f'<item id="c{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
        for i in range(len(chapters)))
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(len(chapters)))
    members = [
        ("mimetype", "application/epub+zip", True),
        ("META-INF/container.xml",
         '<?xml version="1.0"?><container xmlns="urn:oasis:names:tc:opendocument:'
         'xmlns:container"><rootfiles><rootfile full-path="OEBPS/content.opf" '
         'media-type="application/oebps-package+xml"/></rootfiles></container>', False),
        ("OEBPS/content.opf",
         '<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf" '
         f'version="3.0"><manifest>{manifest}</manifest><spine>{spine}</spine></package>',
         False),
    ]
    # archive order reversed against spine order
    for i in reversed(range(len(chapters))):
        body = "".join(f"<p>{p}</p>" for p in chapters[i])
        members.append((f"OEBPS/ch{i}.xhtml", f"<html><body>{body}</body></html>", False))
    return _zip(members), "\n".join(p for ch in chapters for p in ch)


def eml(rng, size):
    sender = f"{WORDS[int(rng.integers(len(WORDS)))]}@example.com"
    subject = _line(rng, WORDS, 2, 7)
    paras = _paras(rng, WORDS, size)
    day = datetime.date(2026, 2, int(rng.integers(1, 28)))
    date = day.strftime("%a, %d %b %Y 10:00:00 +0000")
    msg = (
        f"From: {sender}\r\nTo: corpus@example.com\r\nSubject: {subject}\r\n"
        f"Date: {date}\r\nMIME-Version: 1.0\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n\r\n"
        + "\r\n".join(paras) + "\r\n"
    )
    expected = [f"From: {sender}", "To: corpus@example.com",
                f"Subject: {subject}", f"Date: {date}", *paras]
    return msg.encode("utf-8"), "\n".join(expected)


def md(rng, size):
    title = _line(rng, _WIDE, 2, 6)
    paras = _paras(rng, _WIDE, size)
    text = f"# {title}\n\n" + "\n\n".join(paras) + "\n"
    payload = text.encode("utf-8")
    if rng.random() < 0.3:  # some notes arrive gzip-wrapped
        payload = gzip.compress(payload, mtime=0)
    return payload, "\n".join([f"# {title}", *paras])


BUILDERS = {
    "markup": html, "pdf": pdf, "rtf": rtf, "docx": docx, "xlsx": xlsx,
    "pptx": pptx, "odt": odt, "epub": epub, "eml": eml, "md": md,
}
