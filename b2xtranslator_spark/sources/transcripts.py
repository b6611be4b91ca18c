"""Deterministic synthetic transcript corpus (FIXTURES.md §2-3).

Shape is exactly the BASELINE.json input_hint:
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``. Document-bearing turns carry
``b64cfb:<base64 of a reference sample .doc>`` in `text` or `tool`;
other turns carry plain chat filler.

Driver-side state is kept to integer skeleton arrays (numpy, seeded);
payloads are attached Spark-side by a broadcast join against a 208-row
payload dimension — the generator never materializes payload-per-row on
the driver, so it scales to arbitrarily many turns.
"""

from __future__ import annotations

import base64
import codecs
import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .binfixtures import (
    _zip_members,
    build_docx_fixture,
    build_ppt_fixture,
    build_ppt_incremental_fixture,
    build_pptx_fixture,
    build_xls_fixture,
    build_xlsx_fixture,
)

SAMPLES_DIR = "/root/reference/samples"
FILLER = [
    "ok, looking into it now",
    "here is the summary you asked for",
    "running the conversion tool on the attachment",
    "can you re-send the document?",
    "done - see extracted text below",
]


def _read_expected(path: str) -> str:
    raw = open(path, "rb").read()
    if raw.startswith(codecs.BOM_UTF16_LE) or raw.startswith(codecs.BOM_UTF16_BE):
        return raw.decode("utf-16")
    if raw.startswith(codecs.BOM_UTF8):
        return raw.decode("utf-8-sig")
    return raw.decode("utf-8", errors="replace")


def load_sample_corpus(samples_dir: str = SAMPLES_DIR) -> pd.DataFrame:
    """All (sample_idx, name, payload_b64, expected_text, expect_error) rows,
    ordered deterministically by file name: the reference's .doc corpus plus
    the synthetic .xls/.ppt golden fixtures (sources/binfixtures.py), so the
    extraction pipeline exercises every format the extractor supports."""
    from ..formats.word.extract import normalize_text

    rows = []

    def _add(name: str, payload: bytes, expected: str, expect_error: bool) -> None:
        rows.append(
            {
                "sample_idx": len(rows),
                "sample_name": name,
                "payload_b64": "b64cfb:" + base64.b64encode(payload).decode("ascii"),
                "expected_text": expected,
                "expect_error": expect_error,
            }
        )

    for doc in sorted(glob.glob(f"{samples_dir}/*.doc")):
        expected_path = doc[:-4] + ".expected.txt"
        if not os.path.exists(expected_path):
            continue
        payload = open(doc, "rb").read()
        expected = normalize_text(_read_expected(expected_path)) or ""
        expect_error = "encrypted" in expected.lower() or "password" in os.path.basename(
            doc
        )
        _add(os.path.basename(doc), payload, expected, expect_error)

    for name, (payload, expected) in (
        ("synthetic.xls", build_xls_fixture()),
        ("synthetic.ppt", build_ppt_fixture()),
        ("synthetic-incremental.ppt", build_ppt_incremental_fixture()),
        ("synthetic.html", build_html_fixture()),
        ("synthetic.pdf", build_pdf_fixture()),
        ("synthetic.rtf", build_rtf_fixture()),
        ("synthetic.docx", build_docx_fixture()),
        ("synthetic.xlsx", build_xlsx_fixture()),
        ("synthetic.pptx", build_pptx_fixture()),
        ("synthetic.odt", build_odt_fixture()),
        ("synthetic.ods", build_ods_fixture()),
        ("synthetic.odp", build_odp_fixture()),
        ("synthetic.epub", build_epub_fixture()),
        ("synthetic.eml", build_eml_fixture()),
        ("synthetic.md", build_text_fixture()),
        ("synthetic.txt.gz", build_gzip_text_fixture()),
    ):
        _add(name, payload, normalize_text(expected) or "", False)
    return pd.DataFrame(rows)


def build_html_fixture() -> tuple[bytes, str]:
    """Deterministic HTML page + hand-declared expected extraction — the
    markup leg rides the flagship corpus the same way the synthetic
    xls/ppt fixtures do (dispatched by the payload sniff, no new prefix)."""
    html = (
        b"<!DOCTYPE html><html><head><title>skip</title>"
        b"<style>p{margin:0}</style></head><body>"
        b'<nav><a href="/">Home</a><a href="/d">Docs</a></nav>'
        b"<h1>Synthetic Markup Fixture</h1>"
        b"<p>Paragraph one with   collapsed\nwhitespace.</p>"
        b"<table><tr><td>cell a</td><td>cell b</td></tr></table>"
        b"<ul><li>item one</li><li>item two</li></ul>"
        b"<footer>(c) nobody</footer><script>x()</script></body></html>"
    )
    expected = (
        "Synthetic Markup Fixture\n"
        "Paragraph one with collapsed whitespace.\n"
        "cell a\tcell b\n"
        "item one\n"
        "item two"
    )
    return html, expected


def build_rtf_fixture() -> tuple[bytes, str]:
    """Deterministic RTF document + expected text (the RTF leg of the
    flagship corpus; dispatched by the {\\rtf sniff)."""
    rtf = (
        rb"{\rtf1\ansi\ansicpg1252\deff0"
        rb"{\fonttbl{\f0\fswiss Arial;}}{\info{\title skip me}}"
        rb"\f0\fs24 Synthetic RTF fixture with \b bold\b0  text.\par "
        rb"Euro \'80 and unicode \u9731? plus an escape \{ok\}.\par "
        rb"left\cell right\cell\row "
        rb"}"
    )
    expected = (
        "Synthetic RTF fixture with bold text.\n"
        "Euro € and unicode ☃ plus an escape {ok}.\n"
        "left\tright\t"
    )
    return rtf, expected


def build_pdf_fixture() -> tuple[bytes, str]:
    """Deterministic two-line Flate PDF + expected text (the PDF leg of the
    flagship corpus; dispatched by the %PDF- magic)."""
    import zlib

    ops = (
        b"BT /F1 12 Tf (Synthetic PDF fixture line one) Tj "
        b"0 -14 Td (and line two from a compressed stream) Tj ET"
    )
    data = zlib.compress(ops)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n"
        b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1>>\nendobj\n"
        b"3 0 obj\n<</Type/Page/Parent 2 0 R/Contents 4 0 R>>\nendobj\n"
        b"4 0 obj\n<</Length " + str(len(data)).encode()
        + b"/Filter/FlateDecode>>stream\n" + data + b"\nendstream\nendobj\n"
        b"trailer<</Root 1 0 R>>\n%%EOF\n"
    )
    expected = (
        "Synthetic PDF fixture line one\n"
        "and line two from a compressed stream"
    )
    return pdf, expected


_ODF_FIXTURE_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
    'xmlns:presentation="urn:oasis:names:tc:opendocument:xmlns:presentation:1.0" '
    'xmlns:xlink="http://www.w3.org/1999/xlink"'
)


def _odf_fixture(kind: str, body_inner: str) -> bytes:
    """An ODF container ("odt", "ods" or "odp") whose office:body holds
    `body_inner`: the stored mimetype member plus content.xml."""
    which = {"odt": "text", "ods": "spreadsheet", "odp": "presentation"}[kind]
    content = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {_ODF_FIXTURE_NS}>"
        f"<office:body><office:{which}>{body_inner}</office:{which}>"
        f"</office:body></office:document-content>"
    )
    return _zip_members(
        {
            "mimetype": f"application/vnd.oasis.opendocument.{which}",
            "content.xml": content,
        }
    )


def build_odt_fixture() -> tuple[bytes, str]:
    """Deterministic .odt + expected text (OpenDocument leg of the
    flagship corpus; mimetype-member dispatch, formats/odf.py)."""
    body = (
        "<text:h>Synthetic ODT fixture</text:h>"
        "<text:p>spaced<text:s text:c='2'/>and<text:tab/>tabbed café</text:p>"
        '<text:p>go <text:a xlink:href="http://o.example/d">docs</text:a></text:p>'
        "<table:table><table:table-row>"
        "<table:table-cell><text:p>oa</text:p></table:table-cell>"
        "<table:table-cell><text:p>ob</text:p></table:table-cell>"
        "</table:table-row></table:table>"
    )
    expected = (
        "Synthetic ODT fixture\n"
        "spaced  and\ttabbed café\n"
        "go docs (http://o.example/d)\n"
        "oa\tob"
    )
    return _odf_fixture("odt", body), expected


def build_ods_fixture() -> tuple[bytes, str]:
    body = (
        '<table:table table:name="Sheet1"><table:table-row>'
        '<table:table-cell office:value-type="string"><text:p>k</text:p></table:table-cell>'
        '<table:table-cell office:value-type="float" office:value="7.25"/>'
        "</table:table-row></table:table>"
    )
    return _odf_fixture("ods", body), "Sheet1\nk\t7.25"


def build_odp_fixture() -> tuple[bytes, str]:
    body = (
        "<draw:page><draw:frame><draw:text-box>"
        "<text:p>Synthetic ODP slide</text:p></draw:text-box></draw:frame>"
        "<presentation:notes><draw:frame><draw:text-box>"
        "<text:p>presenter note</text:p></draw:text-box></draw:frame>"
        "</presentation:notes></draw:page>"
    )
    return _odf_fixture("odp", body), "Synthetic ODP slide\npresenter note"


def _epub_fixture(chapters: list[str], extra_manifest: str = "") -> bytes:
    """An EPUB whose spine lists `chapters` (XHTML strings) in order while
    the archive holds them in REVERSE order, so spine resolution is what a
    reader must get right; `extra_manifest` adds manifest items that are
    not in the spine."""
    ids = range(len(chapters))
    container = (
        '<?xml version="1.0"?>'
        '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0"><manifest>'
        + "".join(
            f'<item id="c{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
            for i in ids
        )
        + extra_manifest
        + "</manifest><spine>"
        + "".join(f'<itemref idref="c{i}"/>' for i in ids)
        + "</spine></package>"
    )
    members = {
        "mimetype": "application/epub+zip",
        "META-INF/container.xml": container,
        "OEBPS/content.opf": opf,
    }
    for i in reversed(ids):
        members[f"OEBPS/ch{i}.xhtml"] = chapters[i]
    return _zip_members(members)


def build_epub_fixture() -> tuple[bytes, str]:
    """Two-chapter EPUB with the archive order reversed (spine order is
    the contract under test; formats/epub.py)."""
    payload = _epub_fixture(
        [
            "<html><body><h1>Synthetic EPUB</h1><p>chapter one text</p></body></html>",
            "<html><body><p>chapter two text</p></body></html>",
        ]
    )
    return payload, "Synthetic EPUB\nchapter one text\nchapter two text"


def build_eml_fixture() -> tuple[bytes, str]:
    """Multipart/alternative message (plain preferred; formats/eml.py)."""
    eml = (
        b"From: fixture@example.com\r\n"
        b"To: corpus@example.com\r\n"
        b"Subject: =?utf-8?b?U3ludGhldGljIEVNTCBjYWbDqQ==?=\r\n"
        b"Date: Mon, 02 Feb 2026 10:00:00 +0000\r\n"
        b"MIME-Version: 1.0\r\n"
        b'Content-Type: multipart/alternative; boundary="F"\r\n'
        b"\r\n--F\r\nContent-Type: text/plain; charset=utf-8\r\n"
        b"Content-Transfer-Encoding: base64\r\n\r\n"
        b"cGxhaW4gYm9keSBsaW5lCg==\r\n"
        b"--F\r\nContent-Type: text/html\r\n\r\n<p>html alt</p>\r\n--F--\r\n"
    )
    expected = (
        "From: fixture@example.com\n"
        "To: corpus@example.com\n"
        "Subject: Synthetic EML café\n"
        "Date: Mon, 02 Feb 2026 10:00:00 +0000\n"
        "plain body line"
    )
    return eml, expected


def build_text_fixture() -> tuple[bytes, str]:
    """Markdown/plain-text leg of the flagship corpus (formats/plaintext.py:
    conservative last-in-chain sniff, identity extraction)."""
    md = "# Synthetic Markdown\n\nPlain *text* fixture café.\n\n- item one\n"
    return md.encode("utf-8"), (
        "# Synthetic Markdown\n\nPlain *text* fixture café.\n\n- item one"
    )


def build_gzip_text_fixture() -> tuple[bytes, str]:
    """Gzip-wrapped text: exercises the transparent payload gunzip."""
    import gzip

    return (
        gzip.compress(b"gzipped synthetic notes line\n", mtime=0),
        "gzipped synthetic notes line",
    )


def _skeleton(n_turns: int, doc_fraction: float, seed: int, n_samples: int) -> pd.DataFrame:
    """Integer skeleton: conv assignment with skew (80% of conversations have
    1-5 turns, a long tail has hundreds), plus
    deterministic sample assignment and payload-column choice."""
    rng = np.random.default_rng(seed)
    conv_sizes = []
    total = 0
    conv_no = 0
    while total < n_turns:
        if rng.random() < 0.02:
            size = int(rng.integers(100, 1000))
        elif rng.random() < 0.8:
            size = int(rng.integers(1, 6))
        else:
            size = int(rng.integers(6, 40))
        size = min(size, n_turns - total)
        conv_sizes.append(size)
        total += size
        conv_no += 1
    conv_ids = np.repeat(np.arange(len(conv_sizes)), conv_sizes)
    turn_idx = np.concatenate([np.arange(s) for s in conv_sizes])
    is_doc = rng.random(n_turns) < doc_fraction
    # payload position: hash(conv, turn) % n_samples, reruns identical
    sample_idx = (conv_ids * 1315423911 + turn_idx * 2654435761) % max(1, n_samples)
    sample_idx = np.where(is_doc, sample_idx, -1)
    in_tool = rng.random(n_turns) < 0.3  # some docs arrive via the tool column
    filler_idx = (conv_ids + turn_idx) % len(FILLER)
    pdf = pd.DataFrame(
        {
            "conv_no": conv_ids.astype(np.int64),
            "turn_idx": turn_idx.astype(np.int32),
            "sample_idx": sample_idx.astype(np.int64),
            "in_tool": in_tool,
            "filler_idx": filler_idx.astype(np.int32),
            "row_id": np.arange(n_turns, dtype=np.int64),
        }
    )
    # shuffle rows on write so stable-ordering logic is actually exercised
    return pdf.iloc[rng.permutation(n_turns)].reset_index(drop=True)


def synthesize_transcripts(
    spark: SparkSession,
    n_turns: int = 5000,
    doc_fraction: float = 0.5,
    seed: int = 42,
    corpus: pd.DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (transcripts, expected). `expected` carries the per-turn
    oracle rows for document-bearing turns (FIXTURES.md §3)."""
    if corpus is None:
        corpus = load_sample_corpus()
    skeleton = spark.createDataFrame(
        _skeleton(n_turns, doc_fraction, seed, len(corpus))
    )
    payloads = spark.createDataFrame(
        corpus[["sample_idx", "sample_name", "payload_b64"]]
    )
    filler = spark.createDataFrame(
        pd.DataFrame({"filler_idx": range(len(FILLER)), "filler": FILLER})
    )

    joined = (
        skeleton.join(F.broadcast(payloads), "sample_idx", "left")
        .join(F.broadcast(filler), "filler_idx", "left")
        .withColumn("conv_id", F.format_string("conv-%06d", F.col("conv_no")))
        .withColumn(
            "role",
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                (F.col("turn_idx") % 3 + 1).cast("int"),
            ),
        )
        .withColumn("has_doc", F.col("sample_idx") >= 0)
        .withColumn(
            "text",
            F.when(F.col("has_doc") & ~F.col("in_tool"), F.col("payload_b64"))
            .otherwise(F.col("filler")),
        )
        .withColumn(
            "tool",
            F.when(F.col("has_doc") & F.col("in_tool"), F.col("payload_b64"))
            .otherwise(F.lit("")),
        )
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(1767225600) + F.col("row_id")  # 2026-01-01T00:00:00Z + row s
            ),
        )
    )
    transcripts = joined.select("conv_id", "turn_idx", "role", "text", "tool", "ts")

    expected_dim = spark.createDataFrame(
        corpus[["sample_idx", "sample_name", "expected_text", "expect_error"]]
    )
    expected = (
        joined.where(F.col("has_doc"))
        .select("conv_id", "turn_idx", "sample_idx")
        .join(F.broadcast(expected_dim), "sample_idx")
        .select("conv_id", "turn_idx", "sample_name", "expected_text", "expect_error")
    )
    return transcripts, expected
