"""OpenDocument (ODF) -> plain-text extraction: .odt / .ods / .odp.

The reference's domain is the legacy MS binary formats; a real transcript
corpus also carries the OpenDocument family (LibreOffice/OpenOffice), so
the payload kernel extracts the three text-bearing ODF kinds with the
SAME text conventions as the legacy and OOXML legs (paragraphs/rows ->
newlines, cells -> tabs, hyperlinks rendered ``display (url)`` like the
reference's TextWriter.cs:354-440, numbers through the shared xls
formatter): a user switching from the reference loses nothing and gains
the ODF formats.

Pure stdlib (zipfile + xml.etree) with the ooxml leg's defensive
plumbing reused outright: budget-charged member reads, per-part parse
degradation, deadline checks every N elements. Deleted tracked changes
live OUTSIDE the body in ODF (<text:tracked-changes>), so skipping that
subtree gives the same deleted-run filter semantics as the legacy P7
path for free; insertions are inline and therefore kept, matching the
docx leg's tracked-insertion behavior.

Dispatch: zip magic + the ``mimetype`` member
(application/vnd.oasis.opendocument.{text,spreadsheet,presentation}),
falling back to the office:body child of content.xml when the mimetype
member is absent or lies (severed-mimetype files exist in the wild).
"""

from __future__ import annotations

import io
import zipfile

from ..budget import check_deadline
from .ooxml import _parse_xml, _read_member, _tiled_spans
from .xls import _fmt_number

__all__ = [
    "extract_odp_parts",
    "extract_ods_parts",
    "extract_odt_parts",
    "odf_kind",
]

_OFF = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_TXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TBL = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_DRW = "{urn:oasis:names:tc:opendocument:xmlns:drawing:1.0}"
_PRS = "{urn:oasis:names:tc:opendocument:xmlns:presentation:1.0}"
_XLINK = "{http://www.w3.org/1999/xlink}"

_MIME_KIND = {
    b"application/vnd.oasis.opendocument.text": "odt",
    b"application/vnd.oasis.opendocument.spreadsheet": "ods",
    b"application/vnd.oasis.opendocument.presentation": "odp",
}
_BODY_KIND = {f"{_OFF}text": "odt", f"{_OFF}spreadsheet": "ods", f"{_OFF}presentation": "odp"}

# repeated-cell/row guards: ODS files pad to the 16384-column grid with
# one repeated empty cell; honoring huge repeats would balloon a row, so
# repeats are capped and trailing empties trimmed (content is preserved
# for any real sheet — no document hand-authors >1024 identical copies)
_MAX_REPEAT = 1024


def odf_kind(payload: bytes, zf: zipfile.ZipFile | None = None) -> str | None:
    """odt | ods | odp | None — by mimetype member, content.xml fallback.
    ``zf`` shares one opened container across dispatch (see ooxml_kind)."""
    try:
        if zf is None:
            with zipfile.ZipFile(io.BytesIO(payload)) as z:
                return odf_kind(payload, zf=z)
        names = set(zf.namelist())
        if "mimetype" in names:
            mime = _read_member(zf, "mimetype")
            kind = _MIME_KIND.get((mime or b"").strip())
            if kind:
                return kind
        if "content.xml" not in names:
            return None
        root = _parse_xml(_read_member(zf, "content.xml") or b"")
    except (zipfile.BadZipFile, OSError, ValueError):
        return None
    if root is None:
        return None
    body = root.find(f"{_OFF}body")
    if body is None:
        return None
    for child in body:
        kind = _BODY_KIND.get(child.tag)
        if kind:
            return kind
    return None


def _odf_body(payload: bytes, which: str, zf: zipfile.ZipFile | None = None):
    """content.xml office:body/office:<which>, or None on any corruption."""
    if zf is None:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            data = _read_member(z, "content.xml")
    else:
        data = _read_member(zf, "content.xml")
    if not data:
        return None
    root = _parse_xml(data)
    if root is None:
        return None
    body = root.find(f"{_OFF}body")
    if body is None:
        return None
    return body.find(f"{_OFF}{which}")


class _Counter:
    __slots__ = ("n",)

    def __init__(self) -> None:
        self.n = 0

    def tick(self) -> None:
        self.n += 1
        if self.n % 512 == 0:
            check_deadline()


_MAX_INLINE_DEPTH = 64  # hostile deep span nesting: flatten, don't recurse


def _flat_text(el) -> str:
    """Iterative text+tail flatten of a too-deep inline subtree — the
    depth-cap degradation path (ADVICE r05: a crafted >1000-deep span
    chain must degrade to flat text, not RecursionError->parse_error).
    The element's own tail is the caller's concern, matching the
    recursive walk's contract."""
    buf = [el.text or ""]
    stack = [(c, False) for c in reversed(list(el))]
    while stack:
        node, done = stack.pop()
        if done:
            buf.append(node.tail or "")
            continue
        buf.append(node.text or "")
        stack.append((node, True))
        stack.extend((c, False) for c in reversed(list(node)))
    return "".join(buf)


def _para_text(
    el, counter: _Counter, extract_urls: bool, notes: list[str], depth: int = 0
) -> str:
    """Flatten one text:p / text:h: nested spans recursed, text:s ->
    spaces (text:c count), text:tab -> tab, text:line-break -> newline,
    text:a -> ``display (url)``, footnote/endnote bodies deferred to the
    notes list (doc-leg subdocument order), annotation and ruby-base-less
    machinery skipped. Nesting beyond _MAX_INLINE_DEPTH flattens the
    remaining subtree instead of recursing (the repo's depth-cap
    convention; see eml _MAX_DEPTH and the AVI LIST cap)."""
    counter.tick()
    if depth >= _MAX_INLINE_DEPTH:
        return _flat_text(el)
    buf: list[str] = [el.text or ""]
    for child in el:
        tag = child.tag
        if tag == f"{_TXT}s":
            try:
                n = int(child.get(f"{_TXT}c") or 1)
            except ValueError:
                n = 1
            buf.append(" " * max(0, min(n, _MAX_REPEAT)))
        elif tag == f"{_TXT}tab":
            buf.append("\t")
        elif tag == f"{_TXT}line-break":
            buf.append("\n")
        elif tag == f"{_TXT}a":
            display = _para_text(child, counter, extract_urls, notes, depth + 1)
            href = child.get(f"{_XLINK}href") or ""
            if extract_urls and href and not href.startswith("#"):
                buf.append(f"{display} ({href})" if display else href)
            else:
                buf.append(display)
        elif tag in (f"{_TXT}note",):
            body = child.find(f"{_TXT}note-body")
            if body is not None:
                for p in body:
                    if p.tag in (f"{_TXT}p", f"{_TXT}h"):
                        notes.append(_para_text(p, counter, extract_urls, notes, depth + 1))
        elif tag == f"{_OFF}annotation":
            for p in child.findall(f"{_TXT}p"):
                notes.append(_para_text(p, counter, extract_urls, notes, depth + 1))
        elif tag in (f"{_TXT}tracked-changes", f"{_TXT}soft-page-break"):
            pass  # deletions live here (not inline); page breaks are layout
        else:  # text:span and any other inline container: recurse
            buf.append(_para_text(child, counter, extract_urls, notes, depth + 1))
        buf.append(child.tail or "")
    return "".join(buf)


def _walk_blocks(
    container, lines: list[str], counter: _Counter, extract_urls: bool, notes: list[str]
) -> None:
    """Block-level walk shared by odt bodies, table cells, and frames:
    paragraphs/headings are lines, lists recurse per item, tables emit
    tab-joined rows."""
    for child in container:
        tag = child.tag
        if tag in (f"{_TXT}p", f"{_TXT}h"):
            lines.append(_para_text(child, counter, extract_urls, notes))
        elif tag == f"{_TXT}list":
            for item in child:
                if item.tag in (f"{_TXT}list-item", f"{_TXT}list-header"):
                    _walk_blocks(item, lines, counter, extract_urls, notes)
        elif tag == f"{_TXT}section":
            _walk_blocks(child, lines, counter, extract_urls, notes)
        elif tag == f"{_TBL}table":
            for row in child.iter(f"{_TBL}table-row"):
                cells: list[str] = []
                for cell in row:
                    if cell.tag not in (f"{_TBL}table-cell", f"{_TBL}covered-table-cell"):
                        continue
                    cell_lines: list[str] = []
                    _walk_blocks(cell, cell_lines, counter, extract_urls, notes)
                    cells.append(" ".join(x for x in cell_lines if x))
                lines.append("\t".join(cells))
        elif tag == f"{_TXT}tracked-changes":
            pass  # deleted-content store: the P7 filter for free


def extract_odt_parts(
    payload: bytes, extract_urls: bool = True,
    zf: "zipfile.ZipFile | None" = None,
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, elements_decoded, spans). Paragraphs/headings -> newlines,
    tables -> tab-joined rows, footnote/endnote/annotation bodies appended
    after the body (the legacy doc-leg subdocument order)."""
    body = _odf_body(payload, "text", zf)
    if body is None:
        return "", 0, []
    counter = _Counter()
    lines: list[str] = []
    notes: list[str] = []
    _walk_blocks(body, lines, counter, extract_urls, notes)
    lines.extend(notes)
    while lines and lines[-1] == "":
        lines.pop()
    text = "\n".join(lines)
    return text, counter.n, _tiled_spans(text, "p")


def _cell_text(cell, counter: _Counter, notes: list[str]) -> str:
    """office:value (through the shared xls number formatter) wins for
    numeric value types; otherwise the cell's paragraph text."""
    vtype = cell.get(f"{_OFF}value-type")
    if vtype in ("float", "percentage", "currency"):
        raw = cell.get(f"{_OFF}value")
        if raw is not None:
            try:
                return _fmt_number(float(raw))
            except ValueError:
                pass
    elif vtype == "boolean":
        raw = cell.get(f"{_OFF}boolean-value")
        if raw is not None:
            return raw.upper()
    elif vtype in ("date", "time"):
        raw = cell.get(f"{_OFF}date-value") or cell.get(f"{_OFF}time-value")
        if raw is not None:
            return raw
    paras = [
        _para_text(p, counter, True, notes)
        for p in cell
        if p.tag in (f"{_TXT}p", f"{_TXT}h")
    ]
    return "\n".join(paras)


def extract_ods_parts(
    payload: bytes, zf: "zipfile.ZipFile | None" = None
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, cells_decoded, spans). Sheets in document order, each as its
    name line followed by rows of tab-joined cell values (the xls-leg
    conventions); repeated cells/rows honored up to the cap with trailing
    empties trimmed."""
    body = _odf_body(payload, "spreadsheet", zf)
    if body is None:
        return "", 0, []
    counter = _Counter()
    cells_decoded = 0
    lines: list[str] = []
    notes: list[str] = []
    for table in body.findall(f"{_TBL}table"):
        lines.append(table.get(f"{_TBL}name") or "")
        for row in table.findall(f"{_TBL}table-row"):
            counter.tick()
            cells: list[str] = []
            for cell in row:
                if cell.tag not in (f"{_TBL}table-cell", f"{_TBL}covered-table-cell"):
                    continue
                try:
                    rep = int(cell.get(f"{_TBL}number-columns-repeated") or 1)
                except ValueError:
                    rep = 1
                value = (
                    ""
                    if cell.tag == f"{_TBL}covered-table-cell"
                    else _cell_text(cell, counter, notes)
                )
                if value:
                    cells_decoded += min(rep, _MAX_REPEAT)
                cells.extend([value] * max(1, min(rep, _MAX_REPEAT)))
            while cells and cells[-1] == "":
                cells.pop()
            row_text = "\t".join(cells)
            try:
                row_rep = int(row.get(f"{_TBL}number-rows-repeated") or 1)
            except ValueError:
                row_rep = 1
            reps = max(1, min(row_rep, _MAX_REPEAT)) if row_text else 1
            lines.extend([row_text] * reps)
        while lines and lines[-1] == "":
            lines.pop()
    text = "\n".join(lines)
    return text, cells_decoded, _tiled_spans(text, "row")


def extract_odp_parts(
    payload: bytes, zf: "zipfile.ZipFile | None" = None
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, paragraphs_decoded, spans). draw:page order; per page the
    frames' text boxes in document order, then that page's presenter
    notes (the legacy PPT leg extracts notes too,
    PowerpointDocument.cs:398-412)."""
    body = _odf_body(payload, "presentation", zf)
    if body is None:
        return "", 0, []
    counter = _Counter()
    lines: list[str] = []
    notes_sink: list[str] = []
    for page in body.findall(f"{_DRW}page"):
        notes = page.find(f"{_PRS}notes")
        in_notes = (
            {id(tb) for tb in notes.iter(f"{_DRW}text-box")} if notes is not None else set()
        )
        for frame in page.iter(f"{_DRW}text-box"):
            if id(frame) not in in_notes:
                _walk_blocks(frame, lines, counter, True, notes_sink)
        if notes is not None:
            for frame in notes.iter(f"{_DRW}text-box"):
                _walk_blocks(frame, lines, counter, True, notes_sink)
    lines.extend(notes_sink)
    while lines and lines[-1] == "":
        lines.pop()
    text = "\n".join(lines)
    return text, counter.n, _tiled_spans(text, "par")
