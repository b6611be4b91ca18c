"""HTML/markup extraction: expected text declared independently of the
extractor (same golden-fixture discipline as tests/test_binary_fixtures.py).
The markup leg of the north rule: boilerplate strip + DOM heuristics over
transcript payloads carrying saved HTML."""

from __future__ import annotations

import base64

import pytest

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.markup import extract_html_parts, looks_like_markup

FULL_PAGE = """<!DOCTYPE html>
<html><head><title>SKIP title</title><style>p{}</style><script>var x=1;</script></head>
<body>
<nav><a href="/">Home</a><a href="/about">About</a></nav>
<header>Site header</header>
<h1>Quarterly report &amp; outlook</h1>
<p>Revenue grew   12%
year over year.</p>
<div>Margins <b>improved</b><i>,</i> too.</div>
<table><tr><th>region</th><th>rev</th></tr><tr><td>EMEA</td><td>40</td></tr></table>
<ul><li>cash up</li><li>debt down</li></ul>
<pre>fixed
  width</pre>
<aside>Related links</aside>
<footer>(c) 2026 corp</footer>
<script>trailing()</script>
</body></html>"""

# declared by hand from the rules: head/nav/aside/footer/script/style/title
# dropped; header/h1/p/div kept; th/td -> tab, tr -> newline; li -> newline;
# pre preserves inner spacing; entities decoded; whitespace collapsed.
FULL_PAGE_EXPECTED = (
    "Site header\n"
    "Quarterly report & outlook\n"
    "Revenue grew 12% year over year.\n"
    "Margins improved, too.\n"
    "region\trev\n"
    "EMEA\t40\n"
    "cash up\n"
    "debt down\n"
    "fixed\n"
    "  width"
)


def test_full_page_golden():
    text, elements, _ = extract_html_parts(FULL_PAGE)
    assert text == FULL_PAGE_EXPECTED
    assert elements > 10


def test_entities_and_charrefs_decode():
    text, _, _ = extract_html_parts("<p>a &lt; b &amp;&amp; c &gt; d &#8212; e</p>")
    assert text == "a < b && c > d — e"


def test_link_density_heuristic_drops_menus():
    html = (
        "<body><div><a>Products</a> <a>Pricing</a> <a>Docs</a></div>"
        "<p>Actual article content sentence.</p></body>"
    )
    keep_all, _, _ = extract_html_parts(html)
    main, _, _ = extract_html_parts(html, main_content=True)
    assert keep_all.splitlines() == [
        "Products Pricing Docs",
        "Actual article content sentence.",
    ]
    assert main == "Actual article content sentence."


def test_anchor_href_rendering_mirrors_reference_hyperlinks():
    """extract_urls renders anchors exactly like the Word leg's hyperlink
    fields (TextWriter.cs:354-440 / writer._output_hyperlink): display then
    ' (url)', bare url when they match or when there is no display text."""
    # display != href -> "display (href)"
    text, _, _ = extract_html_parts('<p>See <a href="https://x.io/d">the docs</a>.</p>')
    assert text == "See the docs (https://x.io/d)."
    # display == href (case-insensitive) -> display only
    text, _, _ = extract_html_parts('<p><a href="https://X.io">https://x.io</a></p>')
    assert text == "https://x.io"
    # no display -> bare url (appended as a bare text run, like the
    # reference's description-less hyperlink fields)
    text, _, _ = extract_html_parts('<p>go <a href="/next"></a> now</p>')
    assert text == "go /next now"
    # no href -> display only, no parentheses
    text, _, _ = extract_html_parts("<p><a>plain anchor</a></p>")
    assert text == "plain anchor"
    # extract_urls=False -> display only (previous behavior)
    text, _, _ = extract_html_parts(
        '<p>See <a href="https://x.io/d">the docs</a>.</p>', extract_urls=False
    )
    assert text == "See the docs."
    # unclosed anchor at EOF still renders its url
    text, _, _ = extract_html_parts('<p><a href="/a">tail')
    assert text == "tail (/a)"
    # nav anchors stay dropped regardless
    text, _, _ = extract_html_parts(
        '<nav><a href="/">Home</a></nav><p>body</p>'
    )
    assert text == "body"


def test_anchor_urls_count_as_link_mass_for_main_content():
    """The rendered ' (href)' belongs to the anchor: a 'Read more' block
    whose visible text is majority-link must stay droppable after URL
    rendering (ratio grows, never dilutes)."""
    html = (
        '<div>Read more: <a href="/next">next article</a> '
        '<a href="/prev">previous article</a></div>'
        "<p>Real content sentence that clearly dominates its own block.</p>"
    )
    keep_all, _, _ = extract_html_parts(html)
    assert keep_all.splitlines()[0] == (
        "Read more: next article (/next) previous article (/prev)"
    )
    main, _, _ = extract_html_parts(html, main_content=True)
    assert main == "Real content sentence that clearly dominates its own block."


def test_pre_block_link_ratio_applies_to_every_line():
    """ADVICE r03: multi-line <pre> used to bill the whole block's link
    mass to its first emitted line; every line now carries one ratio."""
    html = '<pre>plain line one\n<a href="/x">linked</a>\nplain line two</pre>'
    keep_all, _, _ = extract_html_parts(html)
    assert keep_all.splitlines() == [
        "plain line one",
        "linked (/x)",
        "plain line two",
    ]
    # the block is majority-plain, so NO line may be dropped by the
    # heuristic (first-line billing used to drop "plain line one")
    main, _, _ = extract_html_parts(html, main_content=True)
    assert main == keep_all


def test_markup_main_prefix_forces_heuristic_per_row():
    import b2xtranslator_spark.pipeline as pl

    body = (
        "<body><div><a href='/p'>Products</a> <a href='/q'>Pricing</a> "
        "<a href='/d'>Docs</a></div><p>Kept content line.</p></body>"
    )
    assert pl._extract_one((pl.MARKUP_MAIN_PREFIX + body).encode())[0] == (
        "Kept content line."
    )
    # the plain prefix on the same payload keeps the menu
    out = pl._extract_one((pl.MARKUP_PREFIX + body).encode())[0]
    assert out.splitlines()[0].startswith("Products (/p)")


def test_malformed_html_never_raises():
    for payload in (
        "<p>unclosed <b>tags <div>every<where",
        "<<<>>>&&&;;;",
        "</closing></only></tags>",
        "<script>never closed",
        "<table><td>stray cell</table>",
        "",
        "\x00\x01<p>\x02binary\x03</p>",
    ):
        text, _, _ = extract_html_parts(payload)  # must not raise
        assert isinstance(text, str)


def test_unclosed_script_drops_rest():
    # deterministic contract: an unclosed DROP subtree swallows the tail
    text, _, _ = extract_html_parts("<p>kept</p><script>var x;<p>lost</p>")
    assert text == "kept"


def test_nested_table_flattens_cells():
    text, _, _ = extract_html_parts(
        "<table><tr><td>outer<table><tr><td>inner</td></tr></table></td></tr></table>"
    )
    assert "outer" in text and "inner" in text


def test_looks_like_markup_is_strict():
    assert looks_like_markup(b"<!DOCTYPE html><html></html>")
    assert looks_like_markup(b"  <html><body>x</body></html>")
    assert looks_like_markup(b"<div>hello</div>")
    # CFB magic, random bytes, plain text, lone angle bracket: all NOT markup
    assert not looks_like_markup(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64)
    assert not looks_like_markup(b"plain text < with angle")
    assert not looks_like_markup(b"<3 unclosed heart")
    assert not looks_like_markup(b"")


def test_dispatch_sniffs_html_from_binary_payload_path():
    """A saved .html carried through the base64 document path (no explicit
    markup prefix) must dispatch to the HTML extractor, not the CFB error
    path."""
    res = extract_payload_text(FULL_PAGE.encode("utf-8"))
    assert res.status == "ok"
    assert res.kind == "html"
    assert res.text == FULL_PAGE_EXPECTED


def test_dispatch_force_kind_bypasses_sniff():
    # a fragment too plain for the sniff still extracts when declared
    res = extract_payload_text(b"just words, no tags", force_kind="html")
    assert res.status == "ok" and res.kind == "html"
    assert res.text == "just words, no tags"


def test_timeout_budget_applies_to_markup():
    big = "<html><body><p>x</p>" + "word " * 200000 + "</body></html>"
    res = extract_payload_text(big.encode(), budget_seconds=1e-6)
    assert res.status == "timeout"
    res2 = extract_payload_text(b"<p>after</p>", force_kind="html")
    assert res2.status == "ok" and res2.text == "after"


@pytest.mark.usefixtures("spark")
def test_pipeline_markup_prefix_end_to_end(spark):
    """markup:-prefixed turns extract through run_extraction; chat rows and
    b64cfb rows are untouched by the new branch."""
    import datetime

    from b2xtranslator_spark.pipeline import (
        MARKUP_PREFIX,
        PAYLOAD_PREFIX,
        run_extraction,
    )
    from b2xtranslator_spark.sources.binfixtures import build_xls_fixture

    xls, xls_text = build_xls_fixture()
    doc_b64 = PAYLOAD_PREFIX + base64.b64encode(xls).decode()
    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "user", "plain chat", None, ts),
        ("c1", 1, "tool", None, MARKUP_PREFIX + FULL_PAGE, ts),
        ("c2", 0, "user", MARKUP_PREFIX + "<div>inline</div>", None, ts),
        ("c2", 1, "user", doc_b64, None, ts),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {
        (r["conv_id"], r["turn_idx"]): r
        for r in run_extraction(df).collect()
    }
    assert out[("c1", 0)]["status"] == "skipped"
    assert out[("c1", 1)]["status"] == "ok"
    assert out[("c1", 1)]["text"] == FULL_PAGE_EXPECTED
    assert out[("c2", 0)]["status"] == "ok"
    assert out[("c2", 0)]["text"] == "inline"
    assert out[("c2", 1)]["status"] == "ok"
    assert out[("c2", 1)]["text"] == xls_text


def test_block_spans_slice_the_text():
    text, _, spans = extract_html_parts(FULL_PAGE)
    assert [p for p, _, _ in spans] == ["block"] * len(spans)
    # spans TILE the text (the pipeline contract): the joining newline
    # belongs to the span it terminates
    assert "".join(text[s:e] for _, s, e in spans) == text
    assert [text[s:e].rstrip("\n") for _, s, e in spans] == text.split("\n")
    # pipeline carries them through
    res = extract_payload_text(FULL_PAGE.encode())
    assert res.metrics["spans"] == spans


def test_self_closing_and_implicit_drop_tags_do_not_leak():
    """Review finding (r3, second pass): XHTML self-closing drop tags and
    HTML5 implicit-close sequences must not suppress the document tail."""
    text, _, _ = extract_html_parts("<p>before</p><iframe/><p>after</p>")
    assert text == "before\nafter"
    text, _, _ = extract_html_parts(
        "<p>a</p><select><option>x<option>y</select><p>b</p>"
    )
    assert text == "a\nb"
    # end tag closes everything opened above its matching start
    text, _, _ = extract_html_parts(
        "<p>a</p><nav><select><option>m</select>menu</nav><p>b</p>"
    )
    assert text == "a\nb"


def test_nested_table_keeps_outer_cells():
    """Review finding (r3, second pass): an inner table must not clobber
    the outer row's already-collected cells."""
    text, _, _ = extract_html_parts(
        "<table><tr><td>A</td><td><table><tr><td>B</td></tr></table>"
        "</td><td>C</td></tr></table>"
    )
    assert "A" in text and "B" in text and "C" in text


def test_markup_oversize_gate_measures_bytes():
    """Review finding (r3, second pass): a mostly-multibyte markup payload
    must be gated on its UTF-8 byte size, not its char count."""
    import b2xtranslator_spark.pipeline as pl
    from b2xtranslator_spark import budget

    old = budget.MAX_PAYLOAD_BYTES
    budget.MAX_PAYLOAD_BYTES = 64 * 1024
    try:
        # ~43k chars of 3-byte CJK = ~128KB utf-8: under the cap in chars,
        # over it in bytes
        big = pl.MARKUP_PREFIX + "<div>" + "中" * 43000 + "</div>"
        assert pl._extract_one(big.encode())[2] == "oversize"
        # same char count in ASCII stays under the byte cap
        ok = pl.MARKUP_PREFIX + "<div>" + "x" * 43000 + "</div>"
        assert pl._extract_one(ok.encode())[2] == "ok"
    finally:
        budget.MAX_PAYLOAD_BYTES = old


def test_main_content_flag_via_package_boundary():
    res = extract_payload_text(
        b"<body><div><a>Products</a> <a>Pricing</a> <a>Docs</a></div>"
        b"<p>Actual article content sentence.</p></body>",
        html_main_content=True,
    )
    assert res.text == "Actual article content sentence."


def test_decode_cache_keyed_by_main_content_mode():
    """Review finding (r3, third pass): the main-content mode must never be
    served a result cached under the other mode for the SAME body — the
    markup: and markup_main: rows go through one warm cache, in both
    orders."""
    import b2xtranslator_spark.pipeline as pl

    body = "<body><div><a>m</a><a>n</a><a>o</a></div><p>Real body text here.</p></body>"
    pl._DECODE_CACHE = None
    with_menu = pl._extract_one((pl.MARKUP_PREFIX + body).encode())[0]
    without_menu = pl._extract_one((pl.MARKUP_MAIN_PREFIX + body).encode())[0]
    # both now cached: each prefix is served its own entry
    assert pl._extract_one((pl.MARKUP_PREFIX + body).encode())[0] == with_menu
    assert pl._extract_one((pl.MARKUP_MAIN_PREFIX + body).encode())[0] == without_menu
    assert len(pl._DECODE_CACHE) == 2
    assert with_menu == "mno\nReal body text here."
    assert without_menu == "Real body text here."
