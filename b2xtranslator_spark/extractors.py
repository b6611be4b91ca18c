"""Per-payload format dispatch: one binary document in, plain text out.

This is the pure-Python core the Spark pipeline batches over (SURVEY.md
§2.10): callable without Spark for pytest parity with the reference's sample
corpus. Dispatch mirrors the reference shells: a CFB container with a
``WordDocument`` stream is a .doc (doc2text), ``Workbook``/``Book`` is a .xls
(xls2x front-end), ``PowerPoint Document`` is a .ppt (ppt2x front-end).
"""

from __future__ import annotations

import io
import time
import zipfile
from dataclasses import dataclass, field

from . import budget
from .budget import (
    DEFAULT_BUDGET_SECONDS,
    DocumentTimeout,
    clear_deadline,
    set_deadline,
)
from .formats import cfb
from .formats.markup import extract_html_parts, looks_like_markup
from .formats.pdf import PDF_MAGIC, extract_pdf_parts
from .formats.ppt import extract_ppt_text_parts
from .formats.eml import extract_eml_parts, looks_like_eml
from .formats.plaintext import extract_text_parts, looks_like_text, maybe_gunzip
from .formats.epub import epub_kind, extract_epub_parts
from .formats.odf import (
    extract_odp_parts,
    extract_ods_parts,
    extract_odt_parts,
    odf_kind,
)
from .formats.ooxml import (
    extract_docx_parts,
    extract_pptx_parts,
    extract_xlsx_parts,
    looks_like_ooxml,
    ooxml_kind,
)
from .formats.rtf import extract_rtf_parts, looks_like_rtf
from .formats.word.extract import extract_doc_text_parts, normalize_text
from .formats.xls import extract_xls_text_parts

__all__ = ["ExtractResult", "extract_payload_text", "normalize_text"]


@dataclass
class ExtractResult:
    text: str = ""
    status: str = "ok"
    error: str | None = None
    kind: str = "unknown"
    metrics: dict = field(default_factory=dict)


class _Unsupported(Exception):
    """A container of a known kind that holds no document we extract."""


# Every extractor below is named through a module global at call time, so
# rebinding one of these names (e.g. to a timing wrapper) reaches dispatch.
# Rows return (text, records_decoded, spans); spans None = no span metric.

# zip kind -> extractor over the already-opened container
_ZIP_EXTRACTORS = {
    "docx": lambda p, urls, zf: extract_docx_parts(p, extract_urls=urls, zf=zf),
    "xlsx": lambda p, urls, zf: extract_xlsx_parts(p, zf=zf),
    "pptx": lambda p, urls, zf: extract_pptx_parts(p, zf=zf),
    "odt": lambda p, urls, zf: extract_odt_parts(p, extract_urls=urls, zf=zf),
    "ods": lambda p, urls, zf: extract_ods_parts(p, zf=zf),
    "odp": lambda p, urls, zf: extract_odp_parts(p, zf=zf),
    "epub": lambda p, urls, zf: extract_epub_parts(p, extract_urls=urls, zf=zf),
}


def _zip_parts(res: ExtractResult, payload: bytes, urls: bool, main: bool):
    # the container is opened ONCE and shared by the kind sniffs and the
    # extractor; a corrupt zip is unsupported, like one with no known part
    no_part = _Unsupported("zip container without a recognized OOXML/ODF part")
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except (zipfile.BadZipFile, OSError, ValueError):
        raise no_part from None
    with zf:
        kind = (
            ooxml_kind(payload, zf=zf)
            or odf_kind(payload, zf=zf)
            or epub_kind(payload, zf=zf)
        )
        if kind is None:
            raise no_part
        out = _ZIP_EXTRACTORS[kind](payload, urls, zf)
    res.kind = kind
    return out


def _cfb_parts(res: ExtractResult, payload: bytes, urls: bool, main: bool):
    # stream names pick the leg, as the reference shells do
    storage = cfb.CompoundFile(payload)  # raises the magic-number error
    if storage.has_stream("WordDocument"):
        res.kind = "doc"
        text, spans, records = extract_doc_text_parts(storage, urls)
        return text, records, spans
    if storage.has_stream("Workbook") or storage.has_stream("Book"):
        res.kind = "xls"
        return (*extract_xls_text_parts(storage), None)
    if storage.has_stream("PowerPoint Document"):
        res.kind = "ppt"
        return (*extract_ppt_text_parts(storage), None)
    raise _Unsupported("no recognized document stream in container")


# Ordered (kind, sniff, extract) rows: the first sniff that matches wins.
# The sniffs are conservative (strict markup head probe, NUL-free UTF-8
# text LAST) so byte-flipped binaries keep flowing to the CFB error path.
# The two container rows name the document kind they find themselves.
_FORMATS = (
    ("html", looks_like_markup,
     lambda res, p, urls, main: extract_html_parts(
         p, main_content=main, extract_urls=urls)),
    ("rtf", looks_like_rtf,
     lambda res, p, urls, main: extract_rtf_parts(p, extract_urls=urls)),
    ("eml", looks_like_eml,
     lambda res, p, urls, main: extract_eml_parts(p, extract_urls=urls)),
    ("pdf", lambda p: p.startswith(PDF_MAGIC),
     lambda res, p, urls, main: extract_pdf_parts(p)),
    ("zip", looks_like_ooxml, _zip_parts),
    ("text", looks_like_text,
     lambda res, p, urls, main: extract_text_parts(p)),
    ("cfb", lambda p: True, _cfb_parts),
)
_CONTAINERS = ("zip", "cfb")


def extract_payload_text(
    payload: bytes,
    extract_urls: bool = True,
    budget_seconds: float = DEFAULT_BUDGET_SECONDS,
    force_kind: str | None = None,
    html_main_content: bool = False,
) -> ExtractResult:
    """Extract plain text from one binary document payload.

    ``force_kind`` names a row of the format table and skips the sniffs
    (the pipeline's ``markup:`` prefix declares "html").

    Never raises on payload content: per-document failure tolerance is a
    row-level contract (reference: per-file try/catch in
    Shell/doc2text/Program.cs:56-100 — at corpus scale one hostile document
    must not fail a task). Documents whose payload and inflated bytes pass
    ``budget.MAX_PAYLOAD_BYTES`` are ``status='oversize'`` rather than
    risking executor memory; documents exceeding ``budget_seconds`` of
    decode wall time return ``status='timeout'`` rather than stalling the
    partition (SURVEY.md §7: hard timeouts/size caps per document)."""
    t0 = time.perf_counter()
    res = ExtractResult()
    set_deadline(budget_seconds)
    try:
        budget.charge(len(payload))
        # single-document gzip/bz2/xz unwraps transparently so
        # page.html.gz / notes.txt.gz dispatch like their plain twins
        payload = maybe_gunzip(payload)
        for kind, sniff, extract in _FORMATS:
            if (kind == force_kind) if force_kind else sniff(payload):
                break
        else:
            raise ValueError(f"unknown format kind {force_kind!r}")
        if kind not in _CONTAINERS:
            res.kind = kind
        res.text, records, spans = extract(res, payload, extract_urls, html_main_content)
        res.metrics["records_decoded"] = records
        if spans is not None:
            res.metrics["spans"] = spans
    except _Unsupported as exc:
        res.status = "unsupported"
        res.error = str(exc)
    except (DocumentTimeout, budget.PayloadOversize) as exc:
        res.status = "timeout" if isinstance(exc, DocumentTimeout) else "oversize"
        res.error = str(exc)
    except Exception as exc:  # noqa: BLE001 — row-level tolerance by design
        msg = str(exc)
        if "encrypted" in msg.lower():
            res.status = "encrypted"
        else:
            res.status = "parse_error"
        res.error = msg
    finally:
        clear_deadline()
    res.metrics["bytes_decoded"] = len(payload)
    res.metrics["wall_ms"] = int((time.perf_counter() - t0) * 1000)
    return res
