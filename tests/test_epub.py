"""EPUB leg: spine ordering, manifest filtering, fallbacks, hostile inputs."""

from __future__ import annotations

import io
import time
import zipfile

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.epub import epub_kind, extract_epub_parts

_CONTAINER = (
    '<?xml version="1.0"?>'
    '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
    '<rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles></container>'
)


def make_epub(
    chapters: list[str],
    with_mimetype: bool = True,
    with_opf: bool = True,
    scramble: bool = True,
    extra_items: str = "",
) -> bytes:
    """chapters = XHTML bodies in SPINE order; archive order is reversed
    when scramble=True so spine-vs-archive ordering is observable."""
    items = "".join(
        f'<item id="c{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
        for i in range(len(chapters))
    )
    refs = "".join(f'<itemref idref="c{i}"/>' for i in range(len(chapters)))
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
        f"<manifest>{items}{extra_items}</manifest><spine>{refs}</spine></package>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        if with_mimetype:
            zf.writestr(
                zipfile.ZipInfo("mimetype"), "application/epub+zip", zipfile.ZIP_STORED
            )
        if with_opf:
            zf.writestr("META-INF/container.xml", _CONTAINER)
            zf.writestr("OEBPS/content.opf", opf)
        order = list(enumerate(chapters))
        if scramble:
            order = order[::-1]
        for i, body in order:
            zf.writestr(
                f"OEBPS/ch{i}.xhtml",
                f"<html><body>{body}</body></html>",
            )
    return buf.getvalue()


def test_spine_order_wins_over_archive_order():
    book = make_epub(
        ["<p>alpha one</p>", "<p>beta two</p>", "<p>gamma three</p>"], scramble=True
    )
    assert epub_kind(book) == "epub"
    text, elements, spans = extract_epub_parts(book)
    assert text == "alpha one\nbeta two\ngamma three"
    assert elements > 0
    assert spans[0][1] == 0 and spans[-1][2] == len(text)


def test_non_document_manifest_items_skipped():
    book = make_epub(
        ["<p>real chapter</p>"],
        extra_items='<item id="img" href="cover.png" media-type="image/png"/>',
    )
    text, _, _ = extract_epub_parts(book)
    assert text == "real chapter"


def test_missing_opf_falls_back_to_archive_order():
    book = make_epub(["<p>only text</p>"], with_opf=False)
    assert epub_kind(book) == "epub"  # mimetype member still present
    text, _, _ = extract_epub_parts(book)
    assert text == "only text"


def test_container_without_mimetype_still_dispatches():
    book = make_epub(["<p>fallback sniff</p>"], with_mimetype=False)
    assert epub_kind(book) == "epub"
    res = extract_payload_text(book)
    assert res.status == "ok" and res.kind == "epub"
    assert res.text == "fallback sniff"


def test_entities_and_links_follow_markup_conventions():
    book = make_epub(
        [
            "<h1>T&#233;l&#233;</h1>"
            '<p>see <a href="https://b.example/x">the site</a></p>'
        ]
    )
    text, _, _ = extract_epub_parts(book)
    assert text == "Télé\nsee the site (https://b.example/x)"


def test_hostile_mutation_soak():
    import numpy as np

    rng = np.random.default_rng(6060)
    base = bytearray(make_epub(["<p>soak body text</p>"] * 3))
    for _ in range(80):
        mutated = bytearray(base)
        idx = rng.integers(0, len(mutated), size=int(rng.integers(1, 20)))
        vals = rng.integers(0, 256, size=len(idx))
        for i, v in zip(idx, vals):
            mutated[int(i)] = int(v)
        t0 = time.perf_counter()
        res = extract_payload_text(bytes(mutated))
        assert time.perf_counter() - t0 < 10
        assert res.status in ("ok", "parse_error", "unsupported", "timeout", "encrypted")


def test_truncations_never_raise():
    base = make_epub(["<p>cut me</p>"] * 2)
    for frac in (0.02, 0.2, 0.5, 0.9):
        res = extract_payload_text(base[: max(1, int(len(base) * frac))])
        assert res.status in ("ok", "parse_error", "unsupported", "timeout")


def test_pipeline_epub_payload_end_to_end(spark):
    import base64

    from b2xtranslator_spark.pipeline import PAYLOAD_PREFIX, run_extraction

    payload = PAYLOAD_PREFIX + base64.b64encode(
        make_epub(["<p>pipe chapter one</p>", "<p>pipe chapter two</p>"])
    ).decode()
    df = spark.createDataFrame(
        [("c0", 0, "user", payload, None, 0.0)],
        "conv_id string, turn_idx long, role string, text string, tool string, ts double",
    )
    row = run_extraction(df).collect()[0]
    assert row["status"] == "ok"
    assert row["text"] == "pipe chapter one\npipe chapter two"


def test_url_encoded_href_resolves():
    import io
    import zipfile

    buf = io.BytesIO()
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0"><manifest>'
        '<item id="c0" href="ch%200.xhtml" media-type="application/xhtml+xml"/>'
        '</manifest><spine><itemref idref="c0"/></spine></package>'
    )
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            zipfile.ZipInfo("mimetype"), "application/epub+zip", zipfile.ZIP_STORED
        )
        zf.writestr("META-INF/container.xml", _CONTAINER)
        zf.writestr("OEBPS/content.opf", opf)
        zf.writestr("OEBPS/ch 0.xhtml", "<html><body><p>spaced name</p></body></html>")
    text, _, _ = extract_epub_parts(buf.getvalue())
    assert text == "spaced name"


def test_chapters_summing_past_budget_are_oversize(decode_bomb):
    """Eight 8 MB chapters: each is under a 16 MB decode budget, their sum
    is four times it. The budget is per document, not per member."""
    r = decode_bomb(make_epub([" " * (8 << 20)] * 8))
    assert r["status"] == "oversize", r
    assert r["s"] < 10 and r["rss_mb"] < 32, r
