"""Per-document Word text extraction entry point + fixture normalization.

Mirrors DocTextExtractor.ExtractTextFromFile / ConvertToString
(/root/reference/Text/DocTextExtractor.cs:39-108): one shared text writer,
mappings applied in order Main -> Footnotes -> Endnotes -> Comments, final
en-space cleanup; and the test normalization contract
(IntegrationTests/SampleDocFileTextExtractionTests.cs:111-132).
"""

from __future__ import annotations

from ...budget import DocumentTimeout
from ..cfb import CompoundFile
from .document import WordBinaryDocument
from .mapping import (
    DocumentMapping,
    apply_comments,
    apply_glossary,
    apply_endnotes,
    apply_footnotes,
    apply_main,
)
from .writer import TextEventWriter


def extract_doc_text(payload: bytes, extract_urls: bool = True) -> str:
    """Extract plain text from a .doc payload (bytes of a CFB file)."""
    return extract_doc_text_parts(CompoundFile(payload), extract_urls)[0]


def extract_doc_text_parts(
    storage: CompoundFile, extract_urls: bool = True
) -> tuple[str, list[tuple[str, int, int]], int]:
    """Extract text plus per-subdocument span offsets and a decoded-record
    count (pieces + property runs), for the pipeline's spans/metrics columns
    (FIXTURES.md \u00a74)."""
    doc = WordBinaryDocument(storage)
    writer = TextEventWriter(extract_urls)
    shared = {"textbox_count": 0}

    spans: list[tuple[str, int, int]] = []
    mark = 0

    def _run(part: str, fn, kind: str) -> None:
        nonlocal mark
        fn(DocumentMapping(doc, writer, extract_urls, kind, shared))
        end = writer.current_length()
        if end > mark:
            spans.append((part, mark, end))
        mark = end

    _run("main", apply_main, "main")
    _run("footnotes", apply_footnotes, "footnotes")
    _run("endnotes", apply_endnotes, "endnotes")
    _run("comments", apply_comments, "comments")
    if doc.glossary is not None:
        # glossary subdocument (DocTextExtractor.cs:96-100)
        glossary_writer_mark = mark
        gm = DocumentMapping(doc.glossary, writer, extract_urls, "glossary", shared)
        try:
            apply_glossary(gm)
        except DocumentTimeout:
            raise
        except Exception:
            pass
        end = writer.current_length()
        if end > glossary_writer_mark:
            spans.append(("glossary", glossary_writer_mark, end))

    records = len(doc.piece_table.pieces) + len(doc.all_papx)
    records += sum(len(f.grpchpx) for f in doc.chpx_index.fkps)

    # final en-space cleanup (DocTextExtractor.cs:105); length-preserving, so
    # the span offsets remain valid
    return writer.to_string().replace("\u2002", " "), spans, records


def normalize_text(text: str | None) -> str | None:
    """NormalizeText (SampleDocFileTextExtractionTests.cs:111-132), with C#
    string.Replace semantics (single left-to-right non-overlapping pass —
    Python's str.replace matches exactly)."""
    if text is None:
        return None
    normalized = (
        text.replace("\r\n", "\n")
        .replace("\r", "\n")
        .replace("\t", "")
        .replace("  ", " ")
        .replace("\n\n", "\n")
        .replace("\n\n", "\n")
    )
    lines = [line.strip() for line in normalized.split("\n")]
    lines = [line for line in lines if line]
    return "\n".join(lines).rstrip(" \n\r")
