"""Plain-text/markdown leg + gzip payload unwrapping."""

from __future__ import annotations

import codecs
import gzip
import random

import pytest

from b2xtranslator_spark.extractors import extract_payload_text
from b2xtranslator_spark.formats.plaintext import (
    extract_text_parts,
    looks_like_text,
    maybe_gunzip,
)


def test_utf8_markdown_identity():
    md = "# Title\n\nSome *markdown* text with café.\n\n- item\n".encode()
    res = extract_payload_text(md)
    assert res.status == "ok" and res.kind == "text"
    assert res.text == "# Title\n\nSome *markdown* text with café.\n\n- item"
    spans = res.metrics["spans"]
    assert spans[0][1] == 0 and spans[-1][2] == len(res.text)


def test_bom_decodes():
    for enc, bom in (
        ("utf-16-le", codecs.BOM_UTF16_LE),
        ("utf-16-be", codecs.BOM_UTF16_BE),
    ):
        payload = bom + "wide chars 東京\nline two".encode(enc)
        text, n, _ = extract_text_parts(payload)
        assert text == "wide chars 東京\nline two" and n == 2
    payload = codecs.BOM_UTF8 + "sig text".encode()
    assert extract_text_parts(payload)[0] == "sig text"


def test_crlf_normalized_and_trailing_trimmed():
    text, _, _ = extract_text_parts(b"a\r\nb\rc\n\n\n")
    assert text == "a\nb\nc"


def test_sniff_rejects_binary_but_takes_prose():
    assert looks_like_text(b"ordinary prose, nothing special")
    assert not looks_like_text(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64)
    assert not looks_like_text(bytes(range(256)))
    assert not looks_like_text(b"")
    # latin-1-only bytes that are invalid UTF-8 stay out of the sniff
    assert not looks_like_text(b"caf\xe9 latin1")


def test_gzip_unwraps_html_and_text():
    html = b"<html><body><p>zipped page</p></body></html>"
    res = extract_payload_text(gzip.compress(html))
    assert res.status == "ok" and res.kind == "html"
    assert res.text == "zipped page"
    res = extract_payload_text(gzip.compress("plain notes café\n".encode()))
    assert res.status == "ok" and res.kind == "text"
    assert res.text == "plain notes café"
    # members join and zero padding is skipped, as gunzip does
    two = gzip.compress(b"first\n") + gzip.compress(b"second\n") + b"\0" * 8
    assert maybe_gunzip(two) == b"first\nsecond\n"


def test_gzip_corrupt_falls_through_to_error_path():
    bad = b"\x1f\x8b" + b"\x00" * 60
    assert maybe_gunzip(bad) == bad
    # a gzip cut inside its deflate data, missing its trailer, or followed
    # by garbage is not unwrapped
    whole = gzip.compress(b"notes " * 50)
    rng = random.Random(7)
    words = " ".join(f"note{rng.randrange(10**6)}" for _ in range(300))
    long_ = gzip.compress(words.encode(), mtime=0)  # 1182 bytes
    for bad2 in (long_[: len(long_) // 2], whole[:-6], whole + b"junk"):
        assert maybe_gunzip(bad2) == bad2
        assert extract_payload_text(bad2).status == "parse_error"
    res = extract_payload_text(bad)
    assert res.status in ("parse_error", "unsupported")


def test_gzip_bomb_is_rejected():
    from b2xtranslator_spark import budget

    old = budget.MAX_PAYLOAD_BYTES
    budget.MAX_PAYLOAD_BYTES = 1 << 20
    try:
        res = extract_payload_text(gzip.compress(b"a" * (4 << 20)))
        assert res.status == "oversize"
        assert "cap" in (res.error or "")
    finally:
        budget.MAX_PAYLOAD_BYTES = old


@pytest.mark.parametrize("codec", ["gzip", "bz2", "xz"])
def test_compressed_text_bomb_is_oversize(codec, decode_bomb):
    """Text that inflates to 64 MB, four times a 16 MB decode budget: the
    unwrap stops one byte past the budget and the row is ``oversize``."""
    import bz2
    import lzma
    import zlib

    z = {
        "gzip": lambda: zlib.compressobj(wbits=31),
        "bz2": bz2.BZ2Compressor,
        "xz": lzma.LZMACompressor,
    }[codec]()
    data = b"".join(z.compress(b"a" * (1 << 20)) for _ in range(64)) + z.flush()
    r = decode_bomb(data)
    assert r["status"] == "oversize", r
    assert r["s"] < 10 and r["rss_mb"] < 32, r


def test_binary_garbage_still_reaches_cfb_error_path():
    import numpy as np

    rng = np.random.default_rng(11)
    res = extract_payload_text(bytes(rng.integers(0, 256, size=700, dtype=np.uint8)))
    assert res.status in ("parse_error", "unsupported")


def test_sniff_multibyte_boundary_and_binary_tail():
    # a large payload whose 4096-byte window cuts a multibyte char must
    # still sniff as text...
    body = ("x" * 4095 + "é" + "tail text " * 500).encode("utf-8")
    assert looks_like_text(body)
    # ...but invalid bytes EARLIER in the window stay rejected even when
    # the payload is large
    junk = b"ab\xfe\xfdcd" + b"x" * 8000
    assert not looks_like_text(junk)


def test_bz2_and_xz_payloads_unwrap():
    import bz2
    import lzma

    html = b"<html><body><p>bz2 page</p></body></html>"
    res = extract_payload_text(bz2.compress(html))
    assert res.status == "ok" and res.kind == "html" and res.text == "bz2 page"
    res = extract_payload_text(lzma.compress("xz notes café\n".encode()))
    assert res.status == "ok" and res.kind == "text" and res.text == "xz notes café"
    # one stream only, and a truncated stream yields its prefix
    for comp in (bz2.compress, lzma.compress):
        assert maybe_gunzip(comp(b"first\n") + comp(b"second\n")) == b"first\n"
        assert maybe_gunzip(comp(b"notes " * 50)[:-10]).startswith(b"notes notes")
    # corrupt containers fall through to the error path, never raise
    for bad in (b"BZh9" + b"\x00" * 40, b"\xfd7zXZ\x00" + b"\x00" * 40):
        r = extract_payload_text(bad)
        assert r.status in ("parse_error", "unsupported")


def test_truncated_utf16_payload_degrades_to_replacement():
    """ADVICE r05: an odd-length UTF-16 payload that claims the BOM sniff
    must extract with replacement chars, not raise into parse_error."""
    import codecs

    from b2xtranslator_spark.extractors import extract_payload_text

    payload = codecs.BOM_UTF16_LE + "hello".encode("utf-16-le") + b"\x41"
    res = extract_payload_text(payload)
    assert res.status == "ok", res.error
    assert res.text.startswith("hello")
