"""RTF extraction: expected text declared independently of the extractor
(golden-fixture discipline). The sixth payload format of the pipeline."""

from __future__ import annotations

import pytest

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.rtf import extract_rtf_parts, looks_like_rtf

DOC = (
    rb"{\rtf1\ansi\ansicpg1252\deff0"
    rb"{\fonttbl{\f0\fswiss Helvetica;}}"
    rb"{\colortbl ;\red0\green0\blue0;}"
    rb"{\info{\title SKIP ME}}"
    rb"\f0\fs24 First paragraph with \b bold\b0  text.\par "
    rb"Second line\line continued.\par "
    rb"\trowd\cellx1000\cellx2000 A\cell B\cell\row "
    rb"}"
)

DOC_EXPECTED = (
    "First paragraph with bold text.\n"
    "Second line\ncontinued.\n"
    "A\tB\t"
)


def test_basic_document_golden():
    text, records, _ = extract_rtf_parts(DOC)
    assert text == DOC_EXPECTED
    assert records > 10


def test_escapes_and_specials():
    text, _, _ = extract_rtf_parts(
        rb"{\rtf1 braces \{x\} and back\\slash \~ dash\emdash done}"
    )
    # \~ is a non-breaking space; \emdash eats its one trailing delimiter
    assert text == "braces {x} and back\\slash \xa0 dash—done"
    # \'hh codepage byte (cp1252 euro at 0x80): exactly TWO hex digits,
    # the rest is literal text
    text, _, _ = extract_rtf_parts(rb"{\rtf1\ansicpg1252 price \'8042}")
    assert text == "price €42"


def test_unicode_uc_skip_convention():
    # \uc1: one fallback char after \uN is skipped
    text, _, _ = extract_rtf_parts(b"{\\rtf1\\uc1 snow \\u9731?man}")
    assert text == "snow ☃man"
    # \uc2 skips two; \uc0 skips none
    text, _, _ = extract_rtf_parts(b"{\\rtf1\\uc2 x\\u233ab y}")
    assert text == "x\xe9 y"
    text, _, _ = extract_rtf_parts(rb"{\rtf1\uc0 x\u233y}")
    assert text == "x\xe9y"
    # negative \uN wraps at 65536 (spec: signed 16-bit)
    text, _, _ = extract_rtf_parts(rb"{\rtf1\uc0 a\u-3513b}")
    assert text == "ab"
    # \uc is GROUP-scoped: restored after }
    text, _, _ = extract_rtf_parts(rb"{\rtf1\uc1 {\uc0 \u65x}\u66?y}")
    assert text == "AxBy"


def test_fallback_escape_counts_toward_uc_skip():
    # the ANSI fallback may itself be an \'hh escape
    text, _, _ = extract_rtf_parts(rb"{\rtf1\uc1 \u233\'e9z}")
    assert text == "\xe9z"


def test_destinations_dropped_and_shptxt_kept():
    text, _, _ = extract_rtf_parts(
        rb"{\rtf1{\*\generator Acme 1.0;}body"
        rb"{\shp{\*\shpinst\shpleft0{\shptxt boxed text}}} end}"
    )
    assert text == "bodyboxed text end"
    # unknown \* destination is dropped whole
    text, _, _ = extract_rtf_parts(rb"{\rtf1 a{\*\futuristic stuff}b}")
    assert text == "ab"


def test_hyperlink_field_renders_display_and_url():
    """HYPERLINK fields render 'display (url)' exactly like the doc/html
    legs (writer._output_hyperlink); other fields keep their result."""
    src = (
        rb"{\rtf1 see {\field{\*\fldinst HYPERLINK "
        rb'"http://x.io"}{\fldrslt the site}} ok}'
    )
    text, _, _ = extract_rtf_parts(src)
    assert text == "see the site (http://x.io) ok"
    # extract_urls=False: display only (the previous behavior)
    text, _, _ = extract_rtf_parts(src, extract_urls=False)
    assert text == "see the site ok"
    # display == url -> bare url
    text, _, _ = extract_rtf_parts(
        rb"{\rtf1 {\field{\*\fldinst HYPERLINK "
        rb'"http://x.io"}{\fldrslt HTTP://x.io}}}'
    )
    assert text == "http://x.io"
    # empty result -> bare url
    text, _, _ = extract_rtf_parts(
        rb'{\rtf1 go {\field{\*\fldinst HYPERLINK "http://y.io"}{\fldrslt }}}'
    )
    assert text == "go http://y.io"
    # a non-HYPERLINK field keeps its result text verbatim
    text, _, _ = extract_rtf_parts(
        rb"{\rtf1 page {\field{\*\fldinst PAGE}{\fldrslt 7}} of 9}"
    )
    assert text == "page 7 of 9"


def test_raw_newlines_in_source_are_not_text():
    text, _, _ = extract_rtf_parts(b"{\\rtf1 one\r\ntwo\nthree}")
    assert text == "onetwothree"


def test_malformed_never_raises():
    for payload in (
        b"{\\rtf1 unbalanced {{{",
        b"{\\rtf1 trailing backslash \\",
        b"{\\rtf1 \\'zz bad hex}",
        b"{\\rtf1 \\u99999999 overflow}",
        b"{\\rtf1" + b"}" * 50,
        b"{\\rtf1 \\u-40000 lone-surrogate-range}",
    ):
        text, _, _ = extract_rtf_parts(payload)
        assert isinstance(text, str)
        assert "\ud800" not in text  # Arrow-safe: no lone surrogates


def test_sniff_and_dispatch():
    assert looks_like_rtf(b"{\\rtf1 x}")
    assert not looks_like_rtf(b"plain {rtf} text")
    res = extract_payload_text(DOC)
    assert res.status == "ok"
    assert res.kind == "rtf"
    assert res.text == DOC_EXPECTED
    # spans TILE the text per paragraph (joining newline in the span)
    spans = res.metrics["spans"]
    assert "".join(res.text[s:e] for _, s, e in spans) == res.text
    assert [res.text[s:e].rstrip("\n") for _, s, e in spans] == res.text.split(
        "\n"
    )


def test_pipeline_rtf_payload_end_to_end(spark):
    import base64
    import datetime

    from b2xtranslator_spark.pipeline import PAYLOAD_PREFIX, run_extraction

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "tool",
         PAYLOAD_PREFIX + base64.b64encode(DOC).decode(), None, ts),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = run_extraction(df).collect()[0]
    assert out["status"] == "ok"
    assert out["text"] == DOC_EXPECTED


def test_hostile_mutation_soak():
    import time

    import numpy as np

    rng = np.random.default_rng(4242)
    base = bytearray(DOC * 20)
    for _ in range(150):
        mutated = bytearray(base)
        idx = rng.integers(0, len(mutated), size=int(rng.integers(1, 40)))
        vals = rng.integers(0, 256, size=len(idx))
        for i, v in zip(idx, vals):
            mutated[i] = v
        t0 = time.perf_counter()
        res = extract_payload_text(bytes(mutated))
        assert time.perf_counter() - t0 < 10
        assert res.status in ("ok", "parse_error", "unsupported", "timeout")


def test_bin_raw_bytes_are_skipped():
    """\\binN raw bytes are not RTF syntax: embedded brace bytes must not
    derail group tracking or leak into the text."""
    # the 5 raw bytes "01}23" contain a brace that is DATA, not a group
    # close; the real close follows the binary run
    src = b"{\\rtf1 before{\\pict\\bin5 01}23} after}"
    text, _, _ = extract_rtf_parts(src)
    assert text == "before after"
    # without the \bin skip, the embedded '}' would have closed \pict
    # early and leaked "23" as text
    assert "23" not in text


def test_hyperlink_inside_skipped_destination_does_not_leak():
    src = (
        rb"{\rtf1 body {\header head {\field{\*\fldinst HYPERLINK "
        rb'"http://h.io"}{\fldrslt hidden}}} tail}'
    )
    text, _, _ = extract_rtf_parts(src)
    assert text == "body  tail"
    assert "hidden" not in text and "h.io" not in text


def test_upr_unicode_ansi_pair_emits_exactly_one_version():
    """{\\upr{ansi}{\\*\\ud{unicode}}} carries the same text twice; exactly
    ONE version may surface (we keep the ANSI body, drop the \\ud twin —
    never both, which would duplicate corpus text)."""
    src = rb"{\rtf1 a {\upr{plain version}{\*\ud{\uc0 unicode version}}} b}"
    text, _, _ = extract_rtf_parts(src)
    assert text.count("version") == 1
    assert text == "a plain version b"


def test_unicode_escape_inside_field_result_stays_in_field():
    """VERDICT r4 repro: \\uN inside {\\fldrslt} must land in the field's
    capture frame, not leak to the top-level output before the field
    renders (rtf.py routed \\u through `out` instead of `sink`)."""
    src = (
        rb"{\rtf1 before {\field{\*\fldinst HYPERLINK "
        rb'"http://x.example"}{\fldrslt caf\u233 e}} after\par}'
    )
    text, _, _ = extract_rtf_parts(src)
    assert text == "before café (http://x.example) after"


def test_unicode_escape_inside_field_instruction_stays_in_instruction():
    """\\uN inside {\\fldinst} belongs to the (dropped) instruction text —
    it must not surface in the body, and the URL still parses."""
    src = (
        rb"{\rtf1 x {\field{\*\fldinst HYPERLINK "
        rb'"http://\u233 ?.example"}{\fldrslt link}} y\par}'
    )
    text, _, _ = extract_rtf_parts(src)
    assert text == "x link (http://é.example) y"


def test_unicode_escape_inside_shptxt_lands_in_body_order():
    src = rb"{\rtf1 a {\shpinst\shptxt caf\u233 ?} b\par}"
    text, _, _ = extract_rtf_parts(src)
    assert text == "a café b"


def test_deadline_fires_on_text_heavy_payload():
    """ADVICE r4: a plain-text byte run never advances the control-word
    counter, so the old `records % 2048` gate could run ~unbounded past
    the budget. The pos-based gate must raise within the budget window."""
    import time

    from b2xtranslator_spark import budget

    payload = b"{\\rtf1 " + b"x" * (32 * 1024 * 1024) + b"}"
    budget.set_deadline(0.05)
    try:
        t0 = time.monotonic()
        with pytest.raises(budget.DocumentTimeout):
            extract_rtf_parts(payload)
        # generous bound: the gate fires every 64 KiB of progress
        assert time.monotonic() - t0 < 5.0
    finally:
        budget.clear_deadline()
