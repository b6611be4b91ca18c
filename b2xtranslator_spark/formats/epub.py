"""EPUB -> plain-text extraction: packaged XHTML books.

Books are a core LLM-training-data source; EPUB is just a zip of XHTML
chapters plus an OPF manifest, so this leg is thin plumbing over two
existing kernels: the ooxml leg's defensive zip reads (budget-charged,
per-part degradation, deadline ticks) and the markup leg's HTML text
fold (formats/markup.py — same block conventions, link anchors, and
entity handling as the oracle-checked html path).

Chapter order is the OPF **spine** (the author's reading order), resolved
through META-INF/container.xml -> rootfile -> manifest id->href; books
with a broken or missing container/OPF degrade to every .xhtml/.html
member in archive order rather than extracting nothing. Non-document
spine items (images, css) are filtered by manifest media-type.

Dispatch: zip magic + the ``mimetype`` member (application/epub+zip),
falling back to META-INF/container.xml presence for severed-mimetype
files — mirroring the ODF dispatch policy.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from urllib.parse import unquote
from xml.etree import ElementTree as ET

from ..budget import check_deadline
from .markup import extract_html_parts
from .ooxml import _parse_xml, _read_member, _tiled_spans

__all__ = ["epub_kind", "extract_epub_parts"]

_CNT = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_OPF = "{http://www.idpf.org/2007/opf}"

_DOC_TYPES = ("application/xhtml+xml", "text/html", "application/x-dtbook+xml")

# a book has bounded chapters; a hostile manifest should not schedule
# unbounded HTML parses
_MAX_CHAPTERS = 2048


def epub_kind(payload: bytes, zf: zipfile.ZipFile | None = None) -> str | None:
    """'epub' | None — mimetype member, container.xml fallback.
    ``zf`` shares one opened container across dispatch (see ooxml_kind)."""
    try:
        if zf is None:
            with zipfile.ZipFile(io.BytesIO(payload)) as z:
                return epub_kind(payload, zf=z)
        names = set(zf.namelist())
        if "mimetype" in names:
            mime = _read_member(zf, "mimetype")
            if (mime or b"").strip() == b"application/epub+zip":
                return "epub"
        if "META-INF/container.xml" in names:
            return "epub"
    except (zipfile.BadZipFile, OSError, ValueError):
        return None
    return None


def _spine_members(zf: zipfile.ZipFile) -> list[str]:
    """Chapter member names in spine order; [] when the OPF chain is
    broken (caller falls back to archive order)."""
    container = _parse_xml(_read_member(zf, "META-INF/container.xml") or b"")
    if container is None:
        return []
    opf_path = None
    for rf in container.iter(f"{_CNT}rootfile"):
        opf_path = rf.get("full-path")
        if opf_path:
            break
    if not opf_path:
        return []
    opf = _parse_xml(_read_member(zf, opf_path) or b"")
    if opf is None:
        return []
    base = posixpath.dirname(opf_path)
    manifest: dict[str, tuple[str, str]] = {}
    for item in opf.iter(f"{_OPF}item"):
        iid, href = item.get("id"), item.get("href")
        if iid and href:
            manifest[iid] = (href, item.get("media-type") or "")
    names = set(zf.namelist())
    out: list[str] = []
    for itemref in opf.iter(f"{_OPF}itemref"):
        entry = manifest.get(itemref.get("idref") or "")
        if not entry:
            continue
        href, mtype = entry
        if mtype and mtype not in _DOC_TYPES:
            continue
        href = unquote(href)  # hrefs are URIs: "ch%201.xhtml" names "ch 1.xhtml"
        member = posixpath.normpath(posixpath.join(base, href)) if base else href
        if member in names:
            out.append(member)
        if len(out) >= _MAX_CHAPTERS:
            break
    return out


def extract_epub_parts(
    payload: bytes, extract_urls: bool = True,
    zf: zipfile.ZipFile | None = None,
) -> tuple[str, int, list[tuple[str, int, int]]]:
    """(text, elements_decoded, spans). Chapters in spine order, each
    through the real markup fold, newline-joined; spans tile per line
    (part 'block', the markup leg's unit)."""
    if zf is None:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            return extract_epub_parts(payload, extract_urls, zf=z)
    chapters: list[str] = []
    elements = 0
    members = _spine_members(zf)
    if not members:
        members = [
            n
            for n in zf.namelist()
            if n.lower().endswith((".xhtml", ".html", ".htm"))
        ][:_MAX_CHAPTERS]
    for member in members:
        check_deadline()
        data = _read_member(zf, member)
        if not data:
            continue
        text, n, _ = extract_html_parts(data, extract_urls=extract_urls)
        elements += n
        if text:
            chapters.append(text)
    text = "\n".join(chapters)
    return text, elements, _tiled_spans(text, "block")
