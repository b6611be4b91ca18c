"""Modern Office (OOXML) -> plain-text extraction: .docx / .xlsx / .pptx.

The reference's domain is the LEGACY binary formats (doc/xls/ppt — its
OOXML surface is a *writer*, the doc->docx converter). A transcript
corpus carries both generations, so the payload kernel also extracts the
modern zip-based twins, with the SAME text conventions as the legacy
legs (cells -> tabs, rows/paragraphs -> newlines, hyperlinks rendered
``display (url)`` like TextWriter.cs:354-440, numbers via the shared
formatter): a user switching from the reference loses nothing and gains
the modern formats.

Pure stdlib (zipfile + zlib + xml.etree, whose expat carries the
billion-laughs amplification guards), defensive by construction:

- zip member reads charge the decode budget (``budget.inflate``), so a
  zip bomb, one member or many, is an ``oversize`` row;
- XML parse failures, missing members, and malformed relationships
  degrade per-part, never raise out of the extractor;
- the per-document deadline is checked between parts and every N
  elements inside large parts.

Dispatch: zip magic ``PK\\x03\\x04`` + the marker part
(word/document.xml | xl/workbook.xml | ppt/presentation.xml).
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

from ..budget import check_deadline, inflate
from .xls import _fmt_number

__all__ = [
    "extract_docx_parts",
    "extract_pptx_parts",
    "extract_xlsx_parts",
    "looks_like_ooxml",
    "ooxml_kind",
]

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_MC = "{http://schemas.openxmlformats.org/markup-compatibility/2006}"


def looks_like_ooxml(payload: bytes) -> bool:
    return payload[:4] == b"PK\x03\x04"


def _read_member(zf: zipfile.ZipFile, name: str) -> bytes | None:
    try:
        info = zf.getinfo(name)
    except KeyError:
        return None
    with zf.open(info) as f:
        return inflate(f)


def _parse_xml(data: bytes) -> ET.Element | None:
    try:
        return ET.fromstring(data)
    except ET.ParseError:
        return None


def ooxml_kind(payload: bytes, zf: zipfile.ZipFile | None = None) -> str | None:
    """docx | xlsx | pptx | None — by marker part, not by extension.
    ``zf`` lets the dispatcher share ONE opened container across the
    kind sniffs and the extractor (the central directory was re-parsed
    up to 4x per document before; optimization round 6)."""
    try:
        if zf is None:
            with zipfile.ZipFile(io.BytesIO(payload)) as z:
                names = set(z.namelist())
        else:
            names = set(zf.namelist())
    except (zipfile.BadZipFile, OSError, ValueError):
        return None
    if "word/document.xml" in names:
        return "docx"
    if "xl/workbook.xml" in names:
        return "xlsx"
    if "ppt/presentation.xml" in names:
        return "pptx"
    return None


# -- docx ---------------------------------------------------------------------


def _docx_rels(zf: zipfile.ZipFile) -> dict[str, str]:
    data = _read_member(zf, "word/_rels/document.xml.rels")
    rels: dict[str, str] = {}
    if not data:
        return rels
    root = _parse_xml(data)
    if root is None:
        return rels
    for rel in root.iter(f"{_REL}Relationship"):
        rid = rel.get("Id")
        target = rel.get("Target")
        if rid and target:
            rels[rid] = target
    return rels


def _docx_paragraph(p, rels: dict[str, str], extract_urls: bool) -> str:
    """One w:p -> text: runs' w:t content, w:tab -> tab, w:br -> newline;
    w:hyperlink renders like the reference's hyperlink fields."""
    out: list[str] = []

    def run_text(container) -> str:
        buf: list[str] = []
        # iterative DFS with an explicit stack (ADVICE r05: a crafted
        # deeply-nested run container must flatten, never RecursionError);
        # identical visit order and emissions to the recursive walk
        stack = [iter(container)]
        while stack:
            child = next(stack[-1], None)
            if child is None:
                stack.pop()
                continue
            tag = child.tag
            if tag == f"{_MC}Fallback":
                # mc:AlternateContent carries the same drawing/textbox
                # in mc:Choice AND mc:Fallback — emitting both would
                # duplicate the text; keep the Choice leg only
                continue
            if tag == f"{_W}t":
                buf.append(child.text or "")
            elif tag == f"{_W}tab":
                buf.append("\t")
            elif tag in (f"{_W}br", f"{_W}cr"):
                buf.append("\n")
            else:
                stack.append(iter(child))
        return "".join(buf)

    for child in p:
        if child.tag == f"{_W}fldSimple":
            from .word.writer import _extract_hyperlink_url

            display = run_text(child)
            url = _extract_hyperlink_url(child.get(f"{_W}instr") or "")
            if extract_urls and url:
                if display and display.lower() != url.lower():
                    out.append(f"{display} ({url})")
                else:
                    out.append(url)
            else:
                out.append(display)
        elif child.tag == f"{_W}hyperlink":
            display = run_text(child)
            url = rels.get(child.get(f"{_R}id") or "")
            anchor = child.get(f"{_W}anchor")
            if url is None and anchor:
                url = f'\\l "{anchor}"'  # internal link, reference notation
            if extract_urls and url:
                if display and display.lower() != url.lower():
                    out.append(f"{display} ({url})")
                else:
                    out.append(url or display)
            else:
                out.append(display)
        else:
            out.append(run_text(child))
    return "".join(out)


def extract_docx_parts(
    payload: bytes, extract_urls: bool = True,
    zf: zipfile.ZipFile | None = None,
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, elements_decoded, spans). Body paragraphs -> newlines;
    tables: cells tab-joined, rows newline-delimited (the legacy doc-leg
    conventions). Spans tile the text, one ("p", start, end) per line."""
    if zf is None:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            return extract_docx_parts(payload, extract_urls, zf=z)
    lines: list[tuple[str, str]] = []  # (part, line)
    elements = 0

    rels = _docx_rels(zf)
    data = _read_member(zf, "word/document.xml")
    if not data:
        return "", 0, []
    root = _parse_xml(data)
    if root is None:
        return "", 0, []
    body = root.find(f"{_W}body")

    def walk_block(container, part: str) -> None:
        nonlocal elements
        for child in container:
            elements += 1
            if elements % 512 == 0:
                check_deadline()
            if child.tag == f"{_W}p":
                lines.append(
                    (part, _docx_paragraph(child, rels, extract_urls))
                )
            elif child.tag == f"{_W}tbl":
                for tr in child.findall(f"{_W}tr"):
                    cells = []
                    for tc in tr.findall(f"{_W}tc"):
                        cell_lines: list[str] = []
                        for cp in tc.findall(f"{_W}p"):
                            cell_lines.append(
                                _docx_paragraph(cp, rels, extract_urls)
                            )
                        cells.append(" ".join(x for x in cell_lines if x))
                    lines.append((part, "\t".join(cells)))
            elif child.tag == f"{_W}sdt":  # content control: recurse
                content = child.find(f"{_W}sdtContent")
                if content is not None:
                    walk_block(content, part)

    if body is not None:
        walk_block(body, "main")
    # subdocuments in the legacy doc-leg order (extract.py: main,
    # footnotes, endnotes, comments); separator notes are machinery
    for part, member, note_tag in (
        ("footnotes", "word/footnotes.xml", f"{_W}footnote"),
        ("endnotes", "word/endnotes.xml", f"{_W}endnote"),
        ("comments", "word/comments.xml", f"{_W}comment"),
    ):
        data = _read_member(zf, member)
        if not data:
            continue
        sub = _parse_xml(data)
        if sub is None:
            continue
        for note in sub.findall(note_tag):
            if note.get(f"{_W}type") in ("separator", "continuationSeparator"):
                continue
            walk_block(note, part)

    # drop trailing EMPTY lines (doc-leg convention) without losing part
    # labels for the rest
    while lines and lines[-1][1] == "":
        lines.pop()
    text = "\n".join(line for _, line in lines)
    spans: list[tuple[str, int, int]] = []
    start = 0
    for i, (part, line) in enumerate(lines):
        end = start + len(line)
        spans.append((part, start, end + (1 if i < len(lines) - 1 else 0)))
        start = end + 1
    return text, elements, spans


# -- xlsx ---------------------------------------------------------------------

_CELL_REF_RE = re.compile(r"([A-Z]+)([0-9]+)")


def _col_index(ref: str) -> int:
    m = _CELL_REF_RE.match(ref or "")
    if not m:
        return 0
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    data = _read_member(zf, "xl/sharedStrings.xml")
    if not data:
        return []
    root = _parse_xml(data)
    if root is None:
        return []
    return [_si_text(si) for si in root.findall(f"{_S}si")]


def _si_text(el) -> str:
    """si/is string content: direct <t> plus rich-run <r><t> in document
    order. Phonetic <rPh> runs (furigana) and <phoneticPr> are skipped —
    collecting every t descendant would emit the base text AND its
    reading, duplicating the cell."""
    buf: list[str] = []
    for child in el:
        if child.tag == f"{_S}t":
            buf.append(child.text or "")
        elif child.tag == f"{_S}r":
            for t in child.findall(f"{_S}t"):
                buf.append(t.text or "")
    return "".join(buf)


def extract_xlsx_parts(
    payload: bytes, zf: zipfile.ZipFile | None = None
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, cells_decoded, spans). Sheets in workbook order, each as its
    name line followed by rows of tab-joined cell values (the xls-leg
    conventions; numbers through the shared _fmt_number)."""
    if zf is None:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            return extract_xlsx_parts(payload, zf=z)
    wb = _read_member(zf, "xl/workbook.xml")
    if not wb:
        return "", 0, []
    wb_root = _parse_xml(wb)
    if wb_root is None:
        return "", 0, []
    rels_data = _read_member(zf, "xl/_rels/workbook.xml.rels")
    rels: dict[str, str] = {}
    if rels_data:
        rels_root = _parse_xml(rels_data)
        if rels_root is not None:
            for rel in rels_root.iter(f"{_REL}Relationship"):
                rid, target = rel.get("Id"), rel.get("Target")
                if rid and target:
                    t = target.lstrip("/")
                    rels[rid] = t if t.startswith("xl/") else f"xl/{t}"
    sst = _shared_strings(zf)
    lines: list[str] = []
    records = 0
    sheets = wb_root.find(f"{_S}sheets")
    for sheet in (sheets if sheets is not None else []):
        check_deadline()
        name = sheet.get("name") or ""
        rid = sheet.get(f"{_R}id") or ""
        part = rels.get(rid)
        if part is None:
            continue
        data = _read_member(zf, part)
        if not data:
            continue
        sroot = _parse_xml(data)
        if sroot is None:
            continue
        if name:
            lines.append(name)
        # sheet-level hyperlinks: ref -> url via the SHEET's own rels
        # (xl/worksheets/_rels/sheetN.xml.rels); rendered on the cell
        # like every other leg's hyperlinks
        cell_links: dict[str, str] = {}
        hl = sroot.find(f"{_S}hyperlinks")
        if hl is not None:
            base, fname = part.rsplit("/", 1)
            srels_data = _read_member(zf, f"{base}/_rels/{fname}.rels")
            srels: dict[str, str] = {}
            if srels_data:
                sr_root = _parse_xml(srels_data)
                if sr_root is not None:
                    for rel in sr_root.iter(f"{_REL}Relationship"):
                        if rel.get("Id") and rel.get("Target"):
                            srels[rel.get("Id")] = rel.get("Target")
            for link in hl.findall(f"{_S}hyperlink"):
                ref = link.get("ref")
                url = srels.get(link.get(f"{_R}id") or "")
                if url is None and link.get("location"):
                    url = '\\l "' + link.get("location") + '"'
                if ref and url:
                    cell_links[ref] = url
        sdata = sroot.find(f"{_S}sheetData")
        for row in (sdata if sdata is not None else []):
            cols: dict[int, str] = {}
            # cells may omit r= (writers emit them in order): implicit
            # position = previous cell's column + 1, else col-0 cells
            # would silently overwrite each other
            next_col = 0
            for c in row.findall(f"{_S}c"):
                records += 1
                if records % 1024 == 0:
                    check_deadline()
                ref = c.get("r")
                col = _col_index(ref) if ref else next_col
                next_col = col + 1
                ctype = c.get("t") or "n"
                val = None
                if ctype == "inlineStr":
                    is_el = c.find(f"{_S}is")
                    if is_el is not None:
                        val = _si_text(is_el)
                else:
                    v = c.find(f"{_S}v")
                    if v is None or v.text is None:
                        continue
                    if ctype == "s":
                        try:
                            val = sst[int(v.text)]
                        except (ValueError, IndexError):
                            val = None
                    elif ctype == "b":
                        val = "TRUE" if v.text.strip() == "1" else "FALSE"
                    elif ctype in ("str", "e"):
                        val = v.text
                    else:  # n (or untyped): numeric
                        try:
                            val = _fmt_number(float(v.text))
                        except ValueError:
                            val = v.text
                if val is not None:
                    url = cell_links.get(ref or "")
                    if url:
                        if val and val.lower() != url.lower():
                            val = f"{val} ({url})"
                        else:
                            val = url
                    cols[col] = val
            if cols:
                lines.append(
                    "\t".join(cols[k] for k in sorted(cols))
                )
    text = "\n".join(lines)
    return text, records, _tiled_spans(text, "row")


# -- pptx ---------------------------------------------------------------------

_SLIDE_RE = re.compile(r"^ppt/slides/slide([0-9]+)\.xml$")
_NOTES_RE = re.compile(r"^ppt/notesSlides/notesSlide([0-9]+)\.xml$")


def extract_pptx_parts(
    payload: bytes, zf: zipfile.ZipFile | None = None
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, runs_decoded, spans). Slides in numeric order, then notes
    slides (the legacy PPT leg extracts notes text too,
    PowerpointDocument.cs:398-412); each a:p paragraph is a line (a:t
    runs concatenated, a:br -> newline)."""
    if zf is None:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            return extract_pptx_parts(payload, zf=z)
    slides = []
    for name in zf.namelist():
        m = _SLIDE_RE.match(name)
        if m:
            slides.append((0, int(m.group(1)), name))
        m = _NOTES_RE.match(name)
        if m:
            slides.append((1, int(m.group(1)), name))
    slides.sort()
    lines: list[str] = []
    records = 0
    for _, _, name in slides:
        check_deadline()
        data = _read_member(zf, name)
        if not data:
            continue
        root = _parse_xml(data)
        if root is None:
            continue
        for p in root.iter(f"{_A}p"):
            buf: list[str] = []
            for node in p.iter():
                if node.tag == f"{_A}t":
                    buf.append(node.text or "")
                    records += 1
                    if records % 1024 == 0:
                        check_deadline()
                elif node.tag == f"{_A}br":
                    buf.append("\n")
            line = "".join(buf)
            if line:
                lines.append(line)
    text = "\n".join(lines)
    return text, records, _tiled_spans(text, "par")


def _tiled_spans(text: str, part: str) -> list[tuple[str, int, int]]:
    """Spans that TILE the text per line (the pipeline contract: adjacent
    spans touch, the joining newline belongs to the terminating span)."""
    if text == "":
        return []
    spans: list[tuple[str, int, int]] = []
    start = 0
    lines = text.split("\n")
    for i, line in enumerate(lines):
        end = start + len(line)
        spans.append((part, start, end + (1 if i < len(lines) - 1 else 0)))
        start = end + 1
    return spans
